"""Per-partition metric lineage: mergeable analyzer states, checkpoint
and resume.

Implements for real the contract the reference threaded through every
signature but stubbed (``aggregate_with``/``save_states_with`` hooks,
``hooqu/analyzers/analyzer.py:80-130``; ``verification_suite.py:121-122``):

* ``compute_partition_states`` — ONE ``groupBy(partition_col).agg``
  job (``FusedScan``) evaluating every scan-shareable analyzer's
  aggregate expressions per partition bucket; each bucket row becomes
  serialized monoid states.
* ``merge_states`` — driver-side monoid fold across buckets; by
  construction ``metric(merge(states)) == metric(whole table)`` for
  sum/count/min/max/mean/stddev(Chan) states.
* ``StateRepository`` — parquet-backed commit log of (run_id, bucket,
  analyzer_key, state_json).  A killed run resumes by processing only
  buckets absent from the committed log.

The bucket count, not the data size, bounds driver memory: 100TB with
10k buckets collects 10k small rows.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from .analyzers.base import (
    Analyzer,
    FusedScan,
    ScanShareableAnalyzer,
    merge_state,
    metrics_from,
)
from .metrics import DoubleMetric
from .states import State, state_from_dict


def analyzer_key(a: Analyzer) -> str:
    """Stable identity string for an analyzer (storage key)."""
    extras = a._identity()[5:]
    parts = [a.name, a.instance, a.where or ""]
    parts += [repr(e) for e in extras]
    return "|".join(parts)


@dataclass
class StateRecord:
    bucket: str
    analyzer_key: str
    state_json: str  # JSON dict of the state, or "null"


def compute_partition_states(
    df: DataFrame,
    analyzers: Sequence[ScanShareableAnalyzer],
    partition_col: str,
) -> List[StateRecord]:
    """One groupBy job -> per-bucket states for all analyzers.

    A commit path: an analyzer that fails its preconditions (or whose
    expression does not resolve) raises its own error here, before any
    job runs, instead of committing empty states.  A state that cannot
    be built from one bucket's slice (e.g. stddev over an all-NULL
    bucket) is committed as "null", the monoid identity.

    Bucket ids are stored as SPARK-cast strings (grouping on
    ``cast(partition_col as string)``), so the commit-log markers use
    the same stringification the resume/idempotence filters apply
    executor-side — a Python ``str()`` would disagree for e.g. boolean
    buckets ('True' vs 'true') and silently break retry skipping."""
    scan = FusedScan(df, analyzers)
    for err in scan.errors.values():
        raise err
    records: List[StateRecord] = []
    for bucket, *values in _by_bucket(scan, partition_col).collect():
        states, _ = scan.states(values)
        for a in scan.analyzers:
            state = states.get(a)
            payload = "null" if state is None else json.dumps(state.to_dict())
            records.append(StateRecord(str(bucket), analyzer_key(a), payload))
    return records


def _by_bucket(scan: FusedScan, col: str) -> DataFrame:
    """The grouped fused aggregation, keyed on the Spark-cast string."""
    from pyspark.sql import functions as F

    return scan.agg(F.col(col).cast("string").alias(col))


def merge_states(records: Sequence[StateRecord]) -> Dict[str, Optional[State]]:
    """Monoid fold of states across buckets, keyed by analyzer."""
    merged: Dict[str, Optional[State]] = {}
    for rec in records:
        state = (
            state_from_dict(json.loads(rec.state_json))
            if rec.state_json != "null"
            else None
        )
        merged[rec.analyzer_key] = merge_state(merged.get(rec.analyzer_key), state)
    return merged


def metrics_from_states(
    analyzers: Sequence[ScanShareableAnalyzer],
    merged: Dict[str, Optional[State]],
) -> Dict[Analyzer, DoubleMetric]:
    states = {a: merged.get(analyzer_key(a)) for a in analyzers}
    return metrics_from(analyzers, states, {})


class StateRepository:
    """Parquet-backed commit log for per-bucket analyzer states.

    Layout: ``<root>/<run_id>/states_<uuid>.parquet`` with columns
    (bucket, analyzer_key, state_json).  ``save`` is the commit point:
    a bucket is "done" once its states are persisted here, so a
    restarted run recomputes only missing buckets (processing must be
    idempotent per bucket, e.g. dynamic partition overwrite).
    """

    def __init__(self, root: str):
        self.root = root

    def _run_dir(self, run_id: str) -> str:
        return os.path.join(self.root, run_id)

    def save(self, run_id: str, records: Sequence[StateRecord]) -> None:
        if not records:
            return
        d = self._run_dir(run_id)
        os.makedirs(d, exist_ok=True)
        pdf = pd.DataFrame(
            [(r.bucket, r.analyzer_key, r.state_json) for r in records],
            columns=["bucket", "analyzer_key", "state_json"],
        )
        tmp = os.path.join(d, f".tmp_{uuid.uuid4().hex}.parquet")
        final = os.path.join(d, f"states_{uuid.uuid4().hex}.parquet")
        pdf.to_parquet(tmp, index=False)
        os.rename(tmp, final)  # atomic commit

    def load(self, run_id: str) -> List[StateRecord]:
        d = self._run_dir(run_id)
        if not os.path.isdir(d):
            return []
        frames = [
            pd.read_parquet(os.path.join(d, f))
            for f in sorted(os.listdir(d))
            if f.startswith("states_") and f.endswith(".parquet")
        ]
        records: List[StateRecord] = []
        for pdf in frames:
            for row in pdf.itertuples(index=False):
                records.append(
                    StateRecord(row.bucket, row.analyzer_key, row.state_json)
                )
        return records

    def committed_buckets(self, run_id: str) -> List[str]:
        return sorted({r.bucket for r in self.load(run_id)})

    def merged_metrics(
        self, run_id: str, analyzers: Sequence[ScanShareableAnalyzer]
    ) -> Dict[Analyzer, DoubleMetric]:
        return metrics_from_states(analyzers, merge_states(self.load(run_id)))


def metrics_by_group(
    df: DataFrame,
    analyzers: Sequence[ScanShareableAnalyzer],
    group_col: str,
) -> Dict[str, Dict[Analyzer, DoubleMetric]]:
    """Every analyzer's metric computed per group value in ONE
    ``groupBy(group_col).agg`` job (e.g. quality metrics per language
    over a webtext corpus).  Returns {group_value: {analyzer: metric}}.

    Same fused scan as per-bucket lineage states — the group's state row
    IS a valid mergeable state, so per-group and whole-dataset metrics
    stay consistent by construction.  Failures keep their cause, as in
    the runner."""
    scan = FusedScan(df, analyzers)
    rows = sorted(_by_bucket(scan, group_col).collect(), key=lambda r: str(r[0]))
    return {
        str(group): metrics_from(analyzers, *scan.states(values))
        for group, *values in rows
    }


def incremental_metrics(
    repository: StateRepository,
    run_id: str,
    analyzers: Sequence[ScanShareableAnalyzer],
    delta_df: DataFrame,
    partition_col: str,
) -> Dict[Analyzer, DoubleMetric]:
    """Fold a NEW slice of data into an existing run's metric states
    and return the updated whole-dataset metrics — without rescanning
    previously committed data.

    This is the incremental metric computation the reference promised
    but never built (``README.rst:154-156``, stubbed ``aggregate_with``
    hooks in ``hooqu/analyzers/analyzer.py:107-108``): states for the
    delta's buckets are computed in one groupBy job, committed, and
    merged (monoid ops) with every previously committed state.

    Idempotence guard (mirrors the pipeline's resume semantics): delta
    rows whose bucket id is already in the commit log are SKIPPED
    (filtered out before the groupBy), so a retried or re-ingested
    delta cannot double-count into the merged metrics.  Append-only
    ingestion should therefore derive ``partition_col`` from the ingest
    batch (e.g. ingest date), not a stable hash — a reused bucket id is
    treated as already processed.

    .. warning:: rows with a NULL bucket id all belong to ONE bucket
       (marker "None"): the first delta carrying them ingests them,
       every later delta SKIPS them — the guard cannot distinguish a
       retry from genuinely new NULL-bucket data.  If dirty rows with
       NULL bucket ids can recur across deltas, derive a non-null
       bucket id for them (e.g. ``coalesce(day, ingest_batch_id)``)
       before calling this.
    """
    committed = repository.committed_buckets(run_id)
    if committed:
        from pyspark.sql import functions as F

        # NULL bucket ids: the state log stringifies a NULL bucket as
        # "None" (compute_partition_states), so the skip filter must
        # use the SAME marker — a bare `~isin` yields NULL (row
        # silently dropped even when never committed), while keeping
        # NULL rows unconditionally would double-count them on retry.
        # Net semantics: all NULL-bucket rows form one bucket ("None")
        # that ingests exactly once, like any other bucket.  (A bucket
        # whose id is the literal string "None" aliases it — derive
        # real ids.)
        c = F.coalesce(
            F.col(partition_col).cast("string"), F.lit("None")
        )
        delta_df = delta_df.where(~c.isin(committed))
    records = compute_partition_states(delta_df, list(analyzers), partition_col)
    repository.save(run_id, records)
    return repository.merged_metrics(run_id, analyzers)

"""Analysis runner: compiles an analyzer set into a minimal number of
Spark jobs.

Where the reference runs analyzers sequentially, one pandas ``agg``
each (``hooqu/analyzers/runners/analysis_runner.py:150-170``), this
runner re-enables the scan-sharing design the reference left dormant
(``analysis_runner.py:173-230``) — on Spark it is the whole point:

* job 1 — ONE ``df.agg(e1..eN)`` computing every scan-shareable
  analyzer (Size/Completeness/Min/Max/Sum/Mean/StdDev/Compliance/
  PatternMatch/ApproxQuantile/...) plus the phase-1 counts of exact
  Quantile analyzers.  Catalyst executes it as partial+final hash
  aggregation with whole-stage codegen; differently-``where``'d
  analyzers coexist via conditional aggregates.
* job 2 — (only if exact Quantiles present) one ``df.agg`` of
  ``percentile`` expressions at nearest-rank-adjusted fractions.
* one groupBy job per distinct (grouping_columns, where) pair, shared
  by all frequency-based analyzers on that pair.

Precondition failures and unresolvable expressions become per-analyzer
``Failure`` metrics without poisoning the fused job.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame

from ..metrics import Entity, Metric
from .analyzers import Quantile
from .base import (
    Analyzer,
    FusedScan,
    ScanShareableAnalyzer,
    find_first_failing,
    fusable,
    metrics_from,
)
from .grouping import FrequencyBasedAnalyzer


class _QuantileCount(ScanShareableAnalyzer):
    """Phase 1 of an exact ``Quantile`` — its non-NULL count — riding
    in the fused scan; the state is the count itself."""

    def __init__(self, q: Quantile):
        super().__init__("QuantileCount", q.instance, Entity.COLUMN, q.where)
        self.q = q

    def _identity(self) -> tuple:
        # phase1_exprs validates the quantile, and the expression cache
        # is keyed by identity: counts for different quantiles must not
        # be shared
        return super()._identity() + (self.q.quantile,)

    def preconditions(self):
        return self.q.preconditions()

    def aggregation_exprs(self, df: DataFrame):
        return self.q.phase1_exprs(df)

    def state_from_agg(self, values: Sequence) -> int:
        return int(values[0] or 0)


@dataclass
class AnalyzerContext:
    metric_map: Dict[Analyzer, Metric] = field(default_factory=dict)

    def all_metrics(self) -> List[Metric]:
        return list(self.metric_map.values())

    def __add__(self, other: "AnalyzerContext") -> "AnalyzerContext":
        return AnalyzerContext({**self.metric_map, **other.metric_map})

    def metric(self, analyzer: Analyzer) -> Optional[Metric]:
        return self.metric_map.get(analyzer, None)

    @staticmethod
    def success_metrics_as_dataframe(
        analyzer_context: "AnalyzerContext",
        for_analyzers: Sequence[Analyzer] = (),
    ) -> pd.DataFrame:
        mm = analyzer_context.metric_map

        def relevant(analyzer: Analyzer, metric: Metric) -> bool:
            return (
                not for_analyzers or analyzer in for_analyzers
            ) and metric.value.isSuccess

        rows = [
            (
                str(metric.entity).split(".")[-1],
                metric.instance,
                metric.name,
                float(metric.value.get()),
            )
            for analyzer, metric in mm.items()
            if relevant(analyzer, metric)
        ]
        return pd.DataFrame(
            rows, columns=("entity", "instance", "name", "value")
        )


def do_analysis_run(
    data: DataFrame, analyzers: Sequence[Analyzer]
) -> AnalyzerContext:
    """Compute metrics for all analyzers with minimal Spark jobs."""
    if not analyzers:
        return AnalyzerContext({})

    # Deduplicate (order-preserving; identity includes name, columns,
    # where, and per-type extras — fixing the reference's __eq__ bugs).
    unique: Dict[Analyzer, None] = {}
    for a in analyzers:
        unique.setdefault(a, None)
    todo = list(unique)

    metrics: Dict[Analyzer, Metric] = {}

    # 1. Classify; FusedScan checks the fused analyzers' preconditions,
    #    the rest are checked here (schema-only, no jobs).
    schema = data.schema
    scan: List[ScanShareableAnalyzer] = []
    quantiles: List[Quantile] = []
    grouping: List[FrequencyBasedAnalyzer] = []
    others: List[Analyzer] = []
    for a in todo:
        if isinstance(a, Quantile):
            quantiles.append(a)
        elif fusable(a):
            scan.append(a)
        else:
            err = find_first_failing(schema, a.preconditions())
            if err is not None:
                metrics[a] = a.to_failure_metric(err)
            elif isinstance(a, FrequencyBasedAnalyzer):
                grouping.append(a)
            else:
                others.append(a)

    # 2. ONE fused single-scan aggregation: every scan-shareable
    #    analyzer plus the phase-1 counts of exact quantiles.
    counts = {q: _QuantileCount(q) for q in quantiles}
    states, errors = FusedScan(data, scan + list(counts.values())).run()
    metrics.update(metrics_from(scan, states, errors))

    # 3. Exact quantiles: phase 2 (one more fused job).  Quantiles
    #    sharing a (column, where) pair fuse into ONE
    #    percentile(col, array(q1..qk)) — a single sort buffer per
    #    group instead of one full-column buffer per quantile.
    q_states: Dict[Analyzer, object] = {}
    q_errors: Dict[Analyzer, Exception] = {}
    by_col: Dict[Tuple[str, Optional[str]], List[Tuple[Quantile, int]]] = {}
    for q, c in counts.items():
        if c in errors:
            q_errors[q] = errors[c]
        elif states[c] == 0:
            q_states[q] = q.state_from_phases(0, None)
        else:
            by_col.setdefault((q.instance, q.where), []).append((q, states[c]))
    groups = list(by_col.values())
    if groups:
        q_row = data.agg(
            *(Quantile.fused_phase2_expr(data, g) for g in groups)
        ).first()
        for g, values in zip(groups, q_row):
            for j, (q, n) in enumerate(g):
                q_states[q] = q.state_from_phases(
                    n, None if values is None else values[j]
                )
    metrics.update(metrics_from(quantiles, q_states, q_errors))

    # 4. Grouping analyzers: one groupBy job per (columns, where) pair,
    #    shared across all frequency-based analyzers on that pair.
    by_group: Dict[Tuple[Tuple[str, ...], Optional[str]], List[FrequencyBasedAnalyzer]] = {}
    for g in grouping:
        by_group.setdefault(
            (tuple(g.grouping_columns), g.where), []
        ).append(g)
    for (cols, where), group_analyzers in by_group.items():
        try:
            state = FrequencyBasedAnalyzer.compute_frequencies(
                data, list(cols), where
            )
            stats = None
            if any(not g.uses_full_frequencies for g in group_analyzers):
                stats = FrequencyBasedAnalyzer.frequency_stats(state.frequencies)
        except Exception as e:  # noqa: BLE001
            for g in group_analyzers:
                metrics[g] = g.to_failure_metric(e)
            continue
        for g in group_analyzers:
            try:
                if g.uses_full_frequencies:
                    metrics[g] = g.compute_metric_from(state)
                else:
                    metrics[g] = g.metric_from_stats(*stats)
            except Exception as e:  # noqa: BLE001
                metrics[g] = g.to_failure_metric(e)

    # 5. Anything else: standalone calculate.
    for a in others:
        metrics[a] = a.calculate(data)

    # Preserve input analyzer order in the context.
    ordered = {a: metrics[a] for a in todo if a in metrics}
    return AnalyzerContext(ordered)

"""The per-layer metrics of the traced run, and the helpers that fold
spans and event-log totals into them.

Every workload's traced run prints every metric below.  A layer that a
workload never calls reads 0 there (no span, no job, no operator); see
NOTES.md for which workload moves which metric.
"""

from __future__ import annotations

from typing import Dict, List

from tracing import EventLog, Span, Tracer

PER_LAYER = [
    ("pipeline.kernel_ms_per_doc", "ms"),
    ("pipeline.run_s", "s"),
    ("pipeline.run_self_s", "s"),
    ("pipeline.unattributed_share", "ratio"),
    ("pipeline.python_run_s", "s"),
    ("pipeline.python_start_s", "s"),
    ("pipeline.arrow_bytes_sent_per_doc", "B"),
    ("pipeline.arrow_bytes_returned_per_doc", "B"),
    ("pipeline.checkpoint_files", "count"),
    ("pipeline.checkpoint_bytes_per_doc", "B"),
    ("pipeline.checkpoint_commit_s", "s"),
    ("pipeline.spark_jobs", "count"),
    ("pipeline.resume_spark_jobs", "count"),
    ("pipeline.keep_rate", "ratio"),
    ("lineage.partition_states_s", "s"),
    ("lineage.repo_save_s", "s"),
    ("lineage.repo_load_s", "s"),
    ("lineage.merge_s", "s"),
    ("lineage.state_records", "count"),
    ("lineage.state_bytes", "B"),
    ("lineage.acd_merge_rel_err", "ratio"),
    ("lineage.quantile_merge_rel_err", "ratio"),
    ("analyzers.run_s", "s"),
    ("analyzers.driver_s", "s"),
    ("analyzers.spark_jobs", "count"),
    ("analyzers.agg_build_s", "s"),
    ("analyzers.shuffle_write_bytes", "B"),
    ("analyzers.failure_metrics", "count"),
    ("verification.suite_s", "s"),
    ("verification.evaluate_s", "s"),
    ("profiler.run_s", "s"),
    ("profiler.spark_jobs", "count"),
    ("profiler.driver_s", "s"),
    ("profiler.executor_run_s", "s"),
    ("dedup.minhash_s", "s"),
    ("dedup.span_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.candidate_precision", "ratio"),
    ("dedup.sort_aggregate_nodes", "count"),
    ("dedup.agg_s", "s"),
    ("dedup.shuffle_write_bytes", "B"),
    ("dedup.shuffle_fetch_wait_s", "s"),
    ("dedup.spill_bytes", "B"),
    ("dedup.span_removed_token_frac", "ratio"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.tasks", "count"),
    ("spark.jobs", "count"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_share", "ratio"),
]

UNITS = dict(PER_LAYER)

# the spans the traced run wraps around the package's own entry points;
# resolved lazily because the package is imported after sys.path is set


def wrap_targets():
    import hooqu_spark.lineage as lineage
    import hooqu_spark.pipeline.core as core
    import hooqu_spark.verification_suite as vs

    return [
        (core, "compute_partition_states", "lineage.compute_partition_states"),
        (lineage, "compute_partition_states", "lineage.compute_partition_states"),
        (core, "merge_states", "lineage.merge_states"),
        (lineage, "merge_states", "lineage.merge_states"),
        (lineage.StateRepository, "save", "lineage.repo_save"),
        (lineage.StateRepository, "load", "lineage.repo_load"),
        (vs.VerificationSuite, "do_verification_run", "verification.run"),
        (vs.VerificationSuite, "evaluate", "verification.evaluate"),
        (vs, "do_analysis_run", "analyzers.do_analysis_run"),
    ]


def _total(tracer: Tracer, roots: List[Span], name: str) -> float:
    return sum(s.seconds for r in roots for s in tracer.named(name, within=r))


class Layers:
    """Collects per-layer values; unset metrics read 0."""

    def __init__(self):
        self.values: Dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    def update(self, values: Dict[str, float]) -> None:
        unknown = set(values) - set(self.values)
        if unknown:
            raise KeyError(f"unknown per-layer metrics {sorted(unknown)}")
        self.values.update(values)

    def spans_and_spark(self, tracer: Tracer, log: EventLog, roots: List[Span],
                        per: int) -> None:
        """Stage totals of every job under ``roots``, per iteration."""
        st = log.stats([s for r in roots for s in tracer.subtree(r)])
        self.update({
            "spark.executor_run_s": st.task.get("executor_run_s", 0.0) / per,
            "spark.executor_cpu_s": st.task.get("executor_cpu_s", 0.0) / per,
            "spark.gc_s": st.task.get("gc_s", 0.0) / per,
            "spark.tasks": st.tasks / per,
            "spark.jobs": len(st.jobs) / per,
        })

    def lineage_spans(self, tracer: Tracer, roots: List[Span], per: int) -> None:
        self.update({
            "lineage.partition_states_s":
                _total(tracer, roots, "lineage.compute_partition_states") / per,
            "lineage.repo_save_s": _total(tracer, roots, "lineage.repo_save") / per,
            "lineage.repo_load_s": _total(tracer, roots, "lineage.repo_load") / per,
            "lineage.merge_s": _total(tracer, roots, "lineage.merge_states") / per,
        })

    def analyzer_spans(self, tracer: Tracer, log: EventLog, roots: List[Span],
                       per: int) -> None:
        runs = [s for r in roots for s in tracer.named("analyzers.do_analysis_run", within=r)]
        st = log.stats([s for r in runs for s in tracer.subtree(r)])
        job_s = sum(log.stats(tracer.subtree(r)).job_seconds() for r in runs)
        agg_build = (st.sql_sum("HashAggregate", "time in aggregation build")
                     + st.sql_sum("ObjectHashAggregate", "time in aggregation build"))
        self.update({
            "analyzers.run_s": sum(r.seconds for r in runs) / per,
            "analyzers.driver_s": (sum(r.seconds for r in runs) - job_s) / per,
            "analyzers.spark_jobs": len(st.jobs) / per,
            "analyzers.agg_build_s": agg_build / per,
            "analyzers.shuffle_write_bytes": st.task.get("shuffle_write_bytes", 0.0) / per,
            "verification.suite_s": _total(tracer, roots, "verification.run") / per,
            "verification.evaluate_s": _total(tracer, roots, "verification.evaluate") / per,
        })

"""One fused-scan primitive, one failure policy, one admission rule.

Every path that turns analyzers into states goes through
``analyzers.base.FusedScan``.  Wrong analyzer types raise ``TypeError``
up front; schema and data errors become per-analyzer ``Failure``
metrics that keep their cause on the in-process paths, and the commit
path raises the precondition's own error before any job runs.
"""

import pathlib
import re
from datetime import datetime

import pytest

from hooqu_spark.analyzers import (
    Completeness,
    CustomSql,
    Quantile,
    Size,
    StandardDeviation,
    do_analysis_run,
)
from hooqu_spark.lineage import compute_partition_states, metrics_by_group
from hooqu_spark.metrics import Failure
from hooqu_spark.streaming import StreamingVerification, WindowedMetrics

SCHEMA = "g string, v double, ts timestamp"
ROWS = [
    ("a", None, datetime(2024, 1, 1, 10, 1)),
    ("a", None, datetime(2024, 1, 1, 10, 2)),
    ("b", 1.0, datetime(2024, 1, 1, 10, 3)),
    ("b", 3.0, datetime(2024, 1, 1, 10, 4)),
]

CASES = {
    # every value the filter admits is NULL: the state cannot be built
    "stddev_all_null_group": (
        lambda: StandardDeviation("v", where="g = 'a'"),
        ValueError("Standard deviation is undefined for n = 0."),
    ),
    "missing_column": (
        lambda: Completeness("nope"),
        KeyError("Input data does not include column nope"),
    ),
}


def _runner(spark, df, tmp_path, a):
    return [do_analysis_run(df, [a]).metric(a)]


def _by_group(spark, df, tmp_path, a):
    groups = metrics_by_group(df, [a], "g")
    assert set(groups) == {"a", "b"}
    return [m[a] for m in groups.values()]


def _streaming(spark, df, tmp_path, a):
    sv = StreamingVerification([a])
    sv.process_batch(df, 0)  # the foreachBatch callback
    return [sv.current_metrics()[a]]


def _windowed(spark, df, tmp_path, a):
    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    df.coalesce(1).write.parquet(src)
    wm = WindowedMetrics([a], ts_col="ts", window_duration="10 minutes")
    q = (
        wm.attach(spark.readStream.schema(SCHEMA).parquet(src))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    windows = wm.window_metrics()
    assert len(windows) == 1
    return [m[a] for m in windows.values()]


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize(
    "entry", [_runner, _by_group, _streaming, _windowed],
    ids=["do_analysis_run", "metrics_by_group", "StreamingVerification",
         "WindowedMetrics"],
)
def test_same_input_same_failure_on_every_path(spark, tmp_path, entry, case):
    make, cause = CASES[case]
    df = spark.createDataFrame(ROWS, SCHEMA)
    metrics = entry(spark, df, tmp_path, make())
    assert metrics
    for m in metrics:
        assert m.value == Failure(cause)


def test_commit_path_raises_precondition_error_before_any_job(spark):
    sc = spark.sparkContext
    df = spark.createDataFrame(ROWS, SCHEMA)
    sc.setJobGroup("fused-scan-precondition", "must stay empty")
    try:
        with pytest.raises(KeyError) as info:
            compute_partition_states(df, [Size(), Completeness("nope")], "g")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert type(info.value) is KeyError
    assert info.value.args == ("Input data does not include column nope",)
    assert list(sc.statusTracker().getJobIdsForGroup("fused-scan-precondition")) == []


def test_commit_path_stores_identity_for_unbuildable_bucket_state(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    a = StandardDeviation("v", where="g = 'a'")
    records = compute_partition_states(df, [a], "g")
    assert sorted((r.bucket, r.state_json) for r in records) == [
        ("a", "null"),
        ("b", "null"),
    ]


NOT_FUSABLE = {
    "exact_quantile": Quantile("v", 0.5),
    "custom_sql_where": CustomSql("sum(v)", where="g = 'b'"),
}


@pytest.mark.parametrize("name", sorted(NOT_FUSABLE))
def test_fold_and_commit_paths_reject_unfusable_analyzers(spark, name):
    bad = NOT_FUSABLE[name]
    df = spark.createDataFrame(ROWS, SCHEMA)
    entries = [
        lambda: StreamingVerification([Size(), bad]),
        lambda: WindowedMetrics([Size(), bad], "ts", "10 minutes"),
        lambda: compute_partition_states(df, [Size(), bad], "g"),
        lambda: metrics_by_group(df, [Size(), bad], "g"),
    ]
    for entry in entries:
        with pytest.raises(TypeError, match="QuantileSketch or ApproxQuantile"):
            entry()


def test_out_of_range_quantile_fails_alone_in_the_fused_run(spark):
    """Exact quantiles on one column each keep their own phase-1 count,
    so an out-of-range quantile fails on its own instead of breaking
    the phase-2 job of its neighbour."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    ok, bad = Quantile("v", 0.5), Quantile("v", 1.5)
    ctx = do_analysis_run(df, [ok, bad])
    assert ctx.metric(ok).value.isSuccess
    err = ctx.metric(bad).value
    assert isinstance(err, Failure)
    assert "percentiles should all be in the interval" in str(err.exception)


def test_no_copy_of_the_fused_loop_outside_base():
    """``FusedScan`` is the only fused-aggregation path: no other
    module builds the projection + aggregate-expression list itself."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "hooqu_spark"
    call = re.compile(r"\b(cached_aggregation_exprs|apply_projections)\(")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "analyzers/base.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert offenders == []

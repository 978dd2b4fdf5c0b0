"""dq_lineitem: the data-quality core with no Python UDF.

Inputs are TPC-H-shaped ``lineitem`` (200k rows) and ``orders`` (50k
rows) generated from the seed by Spark expressions.  Each iteration folds
a sequence of monthly lineitem slices with ``incremental_metrics`` into a
fresh ``StateRepository`` keyed by ship day, so every fold reads the
growing commit log of the ones before.  It does so in rounds: each round
runs one ``VerificationSuite`` over lineitem, one
``profile_columns(orders)`` and a third of the folds.  The yardstick job
(see harness.py) runs before the first and the last round.
"""

from __future__ import annotations

import math
import os
import random
from typing import Dict, List

from harness import Checks, Yardstick, cores, median, timed
from layers import Layers
from tracing import EventLog, Tracer

N_LINEITEM = 200_000
N_ORDERS = N_LINEITEM // 4
N_FOLDS = 6
ROUNDS = 3  # suite and profile calls per iteration, each round followed by a third of the folds
FIRST_DAY = "1992-01-01"
N_DAYS = 2526  # ship days 1992-01-01 .. 1998-11-30: 83 whole months
N_MONTHS = 83


def _u(seed: int, k: int, modulus: int):
    """Seeded uniform integer in [0, modulus) per row id."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(k)), F.lit(modulus))


def lineitem_frame(spark, seed: int, rows: int):
    from pyspark.sql import functions as F

    qty = (_u(seed, 4, 50) + 1).cast("double")
    return spark.range(0, rows, numPartitions=cores()).select(
        (_u(seed, 0, rows // 4) + 1).alias("l_orderkey"),
        (_u(seed, 1, 20_000) + 1).alias("l_partkey"),
        (_u(seed, 2, 1_000) + 1).alias("l_suppkey"),
        (_u(seed, 3, 7) + 1).cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        F.round(qty * (F.lit(900.0) + _u(seed, 5, 110_000) / 100.0), 2).alias("l_extendedprice"),
        (_u(seed, 6, 11) / 100.0).alias("l_discount"),
        (_u(seed, 7, 9) / 100.0).alias("l_tax"),
        F.element_at(F.array(*map(F.lit, "ANR")), (_u(seed, 8, 3) + 1).cast("int")).alias("l_returnflag"),
        F.element_at(F.array(*map(F.lit, "FO")), (_u(seed, 9, 2) + 1).cast("int")).alias("l_linestatus"),
        F.date_add(F.lit(FIRST_DAY).cast("date"), _u(seed, 10, N_DAYS).cast("int"))
        .cast("timestamp").alias("l_shipdate"),
    )


def orders_frame(spark, seed: int, rows: int):
    from pyspark.sql import functions as F

    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return spark.range(0, rows, numPartitions=cores()).select(
        (F.col("id") + 1).alias("o_orderkey"),
        # 1% of customers unknown, so completeness is below 1
        F.when(_u(seed, 11, 100) == 0, F.lit(None))
        .otherwise(_u(seed, 12, 15_000) + 1).alias("o_custkey"),
        F.element_at(F.array(*map(F.lit, "FOP")), (_u(seed, 13, 3) + 1).cast("int")).alias("o_orderstatus"),
        F.round(F.lit(850.0) + _u(seed, 14, 50_000_000) / 100.0, 2).alias("o_totalprice"),
        F.date_add(F.lit(FIRST_DAY).cast("date"), _u(seed, 15, N_DAYS).cast("int"))
        .cast("timestamp").alias("o_orderdate"),
        F.element_at(F.array(*map(F.lit, prio)), (_u(seed, 16, 5) + 1).cast("int")).alias("o_orderpriority"),
    )


def suite_check():
    """bench.py's q_suite checks plus ``is_unique("l_orderkey")``."""
    from hooqu_spark import Check, CheckLevel

    return (
        Check(CheckLevel.ERROR, "lineitem")
        .has_size(lambda n: n > 0)
        .is_complete("l_orderkey")
        .has_min("l_quantity", lambda v: v >= 0)
        .has_max("l_extendedprice", lambda v: v > 0)
        .has_mean("l_discount", lambda v: 0 <= v <= 1)
        .has_standard_deviation("l_tax", lambda v: v >= 0)
        .has_sum("l_quantity", lambda v: v > 0)
        .is_non_negative("l_quantity")
        .is_contained_in("l_returnflag", ("A", "N", "R"))
        .has_quantile("l_quantity", 0.5, lambda v: v > 0)
        .is_unique("l_orderkey")
    )


def fold_analyzers():
    """The exact monoids, plus the two sketches whose merges are known
    to be lossy (reported, not checked)."""
    from hooqu_spark.analyzers import (ApproxCountDistinct, Completeness, Compliance,
                                       Maximum, Mean, Minimum, QuantileSketch, Size,
                                       StandardDeviation, Sum)

    exact = [
        Size(),
        Completeness("l_orderkey"),
        Minimum("l_quantity"),
        Maximum("l_extendedprice"),
        Sum("l_quantity"),
        Mean("l_discount"),
        StandardDeviation("l_tax"),
        Compliance("returned", "l_returnflag = 'R'"),
    ]
    return exact, ApproxCountDistinct("l_partkey"), QuantileSketch("l_quantity", 0.5)


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


class DqLineitem:
    headline = "suite"

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, checks: Checks,
                 yard: Yardstick, traced: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.checks, self.yard = tracer, checks, yard
        self.samples: Dict[str, List[float]] = {"suite": [], "profile": [], "fold": []}
        self.cpu: Dict[str, List[float]] = {k: [] for k in self.samples}
        self.suite_results: List = []
        self.profiles: List = []
        self.folds: List[dict] = []
        self.failure_metrics = 0

    # -- set-up -------------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        self.lineitem, self.orders = self._tables(N_LINEITEM)
        # the seed picks the months and the order they are folded in
        self.months = random.Random(self.seed).sample(range(N_MONTHS), N_FOLDS)
        self.exact, self.acd, self.qsketch = fold_analyzers()
        self.analyzers = self.exact + [self.acd, self.qsketch]
        self.month_col = (F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1
        # warm-up on the measured tables: one of each call and two folds
        # into a repository of its own
        from hooqu_spark.lineage import StateRepository

        self._suite()
        self._profile()
        repo = StateRepository(os.path.join(self.work, "warm_states"))
        for m in self.months[:2]:
            self._fold(repo, m)

    def _tables(self, rows: int):
        li_dir = os.path.join(self.work, "lineitem")
        or_dir = os.path.join(self.work, "orders")
        lineitem_frame(self.spark, self.seed, rows).write.parquet(li_dir)
        orders_frame(self.spark, self.seed, rows // 4).write.parquet(or_dir)
        return self.spark.read.parquet(li_dir), self.spark.read.parquet(or_dir)

    def _suite(self):
        from hooqu_spark import VerificationSuite

        return VerificationSuite().on_data(self.lineitem).add_check(suite_check()).run()

    def _profile(self):
        from hooqu_spark.profiler import profile_columns

        return profile_columns(self.orders)

    def _fold(self, repo, month: int):
        from pyspark.sql import functions as F

        from hooqu_spark.lineage import incremental_metrics

        delta = self.lineitem.where(self.month_col == month).withColumn(
            "ship_day", F.date_format("l_shipdate", "yyyy-MM-dd"))
        return incremental_metrics(repo, "run", self.analyzers, delta, "ship_day")

    # -- closed loop --------------------------------------------------------------

    def iteration(self) -> None:
        from hooqu_spark.lineage import StateRepository

        self.yard.measure()
        repo = StateRepository(os.path.join(self.work, f"states{len(self.samples['suite'])}"))
        folded: List[int] = []
        per_round = N_FOLDS // ROUNDS
        for r in range(ROUNDS):
            if r == ROUNDS - 1:
                self.yard.measure()
            with self.tracer.span("verification.suite"):
                t, c, result = timed(self._suite)
            self._sample("suite", t, c)
            self.suite_results.append(result)
            with self.tracer.span("profiler.profile_columns"):
                t, c, profile = timed(self._profile)
            self._sample("profile", t, c)
            self.profiles.append(profile)
            for month in self.months[r * per_round:(r + 1) * per_round]:
                with self.tracer.span("lineage.incremental_metrics"):
                    t, c, metrics = timed(lambda: self._fold(repo, month))
                self._sample("fold", t, c)
                folded.append(month)
                self.folds.append({"repo": repo, "months": list(folded), "metrics": metrics,
                                       "last": len(folded) == N_FOLDS})

    def _sample(self, kind: str, wall_s: float, cpu_s: float) -> None:
        self.samples[kind].append(wall_s)
        self.cpu[kind].append(cpu_s)

    # -- checks (after the timed window) ---------------------------------------------

    def verify(self) -> None:
        expected = self._expected_suite()
        for result in self.suite_results:
            self.checks.record("VerificationSuite.run", self._check_suite(result, expected))
        for profile in self.profiles:
            self.checks.record("profile_columns", self._check_profile(profile))
        month_rows = {r[0]: r[1] for r in
                      self.lineitem.groupBy(self.month_col).count().collect()}
        self.merge_errs = {"acd": [], "quantile": []}
        for fold in self.folds:
            self.checks.record("incremental_metrics", self._check_fold(fold, month_rows))
        last = [f["repo"] for f in self.folds if f["last"]]
        self.state_records = median([len(repo.load("run")) for repo in last])
        self.state_bytes = median([_dir_bytes(repo.root) for repo in last])

    def _expected_suite(self) -> Dict[str, float]:
        from pyspark.sql import functions as F

        c = F.col
        row = self.lineitem.agg(
            F.count(F.lit(1)).alias("Size"),
            (F.count("l_orderkey") / F.count(F.lit(1))).alias("Completeness"),
            F.min("l_quantity").alias("Minimum"),
            F.max("l_extendedprice").alias("Maximum"),
            F.avg("l_discount").alias("Mean"),
            F.stddev_pop("l_tax").alias("StandardDeviation"),
            F.sum("l_quantity").alias("Sum"),
            F.avg((c("l_quantity") >= 0).cast("double")).alias("nonneg"),
            F.avg(c("l_returnflag").isin("A", "N", "R").cast("double")).alias("contained"),
        ).first().asDict()
        counts = sorted(self.lineitem.groupBy("l_quantity").count().collect())
        n = sum(r[1] for r in counts)
        rank = round(0.5 * (n - 1))  # pandas 'nearest' (banker's rounding)
        seen = 0
        for value, cnt in counts:
            seen += cnt
            if seen > rank:
                row["Quantile"] = value
                break
        freq = self.lineitem.groupBy("l_orderkey").count()
        singletons = freq.where("count = 1").count()
        row["Uniqueness"] = singletons / row["Size"]
        return row

    def _check_suite(self, result, expected) -> List[str]:
        problems = []
        for analyzer, metric in result.metrics.items():
            if not metric.value.isSuccess:
                self.failure_metrics += 1
                problems.append(f"{analyzer} failed")
                continue
            got = metric.value.get()
            key = analyzer.name
            if key == "Compliance":
                key = "nonneg" if "non-negative" in analyzer.instance else "contained"
            if key not in expected:
                problems.append(f"unchecked metric {analyzer}")
            elif not _close(got, expected[key]):
                problems.append(f"{analyzer}: {got} != direct aggregate {expected[key]}")
        if len(result.metrics) != 11:
            problems.append(f"{len(result.metrics)} metrics, want 11")
        return problems

    def _check_profile(self, profile) -> List[str]:
        problems = []
        if sorted(profile) != sorted(self.orders.columns):
            problems.append(f"profiled columns {sorted(profile)}")
        cust = profile.get("o_custkey")
        if cust is not None and not 0.98 < cust.completeness < 1.0:
            problems.append(f"o_custkey completeness {cust.completeness}")
        key = profile.get("o_orderkey")
        if key is not None and (key.minimum, key.maximum) != (1, N_ORDERS):
            problems.append(f"o_orderkey range {key.minimum}..{key.maximum}")
        return problems

    def _check_fold(self, fold, month_rows) -> List[str]:
        from hooqu_spark.analyzers.runner import do_analysis_run

        problems = []
        metrics = fold["metrics"]
        for a, m in metrics.items():
            if not m.value.isSuccess:
                self.failure_metrics += 1
                problems.append(f"{a} failed")
        if problems:
            return problems
        rows = sum(month_rows.get(m, 0) for m in fold["months"])
        size = metrics[self.exact[0]].value.get()
        if size != rows:
            problems.append(f"folded Size {size} != {rows} rows in the folded months")
        if not fold["last"]:
            return problems
        # the last fold of a sequence: every exact monoid equals the
        # metric over the union of the folded slices
        whole_df = self.lineitem.where(self.month_col.isin(fold["months"]))
        whole = do_analysis_run(whole_df, self.analyzers).metric_map
        for a in self.exact:
            got, want = metrics[a].value.get(), whole[a].value.get()
            if not _close(got, want, 1e-6 if a.name == "StandardDeviation" else 1e-9):
                problems.append(f"folded {a} {got} != whole-slice {want}")
        for key, a in (("acd", self.acd), ("quantile", self.qsketch)):
            want = whole[a].value.get()
            self.merge_errs[key].append(abs(metrics[a].value.get() - want) / abs(want))
        return problems

    # -- results ------------------------------------------------------------------

    def end_to_end(self) -> Dict[str, float]:
        one_shot = [s + p for s, p in zip(self.cpu["suite"], self.cpu["profile"])]
        return {
            "main_docs_per_ref": (N_LINEITEM + N_ORDERS) / self.yard.units(one_shot),
            "incremental_ref": self.yard.units(self.cpu["fold"]),
        }

    def info(self) -> dict:
        return {
            "lineitem_rows": N_LINEITEM, "orders_rows": N_ORDERS, "folds": N_FOLDS,
            "suite_s": median(self.samples["suite"]),
            "profile_s": median(self.samples["profile"]),
            "fold_s": median(self.samples["fold"]),
            "cpu_s": {k: median(v) for k, v in self.cpu.items()},
            "cpu_s_samples": {k: [round(c, 2) for c in v] for k, v in self.cpu.items()},
            "fold_s_first_last": [self.samples["fold"][0], self.samples["fold"][N_FOLDS - 1]],
            "acd_merge_rel_err": median(self.merge_errs["acd"]),
            "quantile_merge_rel_err": median(self.merge_errs["quantile"]),
        }

    def layers(self, out: Layers, tracer: Tracer, log: EventLog) -> None:
        suites = tracer.named("verification.suite")
        profiles = tracer.named("profiler.profile_columns")
        folds = tracer.named("lineage.incremental_metrics")
        out.spans_and_spark(tracer, log, suites + profiles + folds, per=len(suites) // ROUNDS)
        out.lineage_spans(tracer, folds, per=len(folds))
        out.analyzer_spans(tracer, log, suites, per=len(suites))
        pst = [log.stats(tracer.subtree(p)) for p in profiles]
        out.update({
            "profiler.run_s": median([p.seconds for p in profiles]),
            "profiler.spark_jobs": median([len(st.jobs) for st in pst]),
            "profiler.driver_s": median([p.seconds - st.job_seconds()
                                         for p, st in zip(profiles, pst)]),
            "profiler.executor_run_s": median([st.task.get("executor_run_s", 0.0)
                                               for st in pst]),
            "lineage.state_records": self.state_records,
            "lineage.state_bytes": self.state_bytes,
            "lineage.acd_merge_rel_err": median(self.merge_errs["acd"]),
            "lineage.quantile_merge_rel_err": median(self.merge_errs["quantile"]),
            "analyzers.failure_metrics": self.failure_metrics,
        })


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _, names in os.walk(path) for n in names)

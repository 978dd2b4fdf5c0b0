"""webtext_pipeline: the gated web-text pipeline as users run it.

Each iteration makes a fresh work dir and calls ``run_pipeline`` once
fresh (enrich -> rules -> checkpoint write -> bucket states -> commit ->
merge -> gating suite) and three more times with the same run id, when
every bucket is committed and the call only resumes.  The yardstick job
(see harness.py) runs before the fresh call and before the resumes.  In the
traced half of a traced run the iteration also runs ``minhash_dedup``
and ``repeated_span_dedup`` over the crawl: shuffle- and aggregation-
bound calls with no analyzer, no Python UDF and no write.

The crawl carries duplicate families, as bench.py's dedup corpus: ids
ending in 1 copy the text of the id before them (exact copy), ids ending
in 2 the text of id - 2 with a short tail appended (near copy).
"""

from __future__ import annotations

import os
import random
import shutil
from typing import Dict, List

from harness import Checks, Yardstick, check_workers_import, median, timed
from layers import Layers
from tracing import EventLog, Tracer

N_PAGES = 3_000
N_BUCKETS = 64
RESUMES = 3  # resume calls after each fresh call
WARM_PAGES = 300
F1_SAMPLE = 300
MIN_F1 = 0.99
THRESHOLD = 0.7
TAIL = " trailing boilerplate notice appended"


def crawl_pdf(seed: int, n_pages: int):
    """Pages in the input_hint schema for an id range the seed picks, made
    by the package's own generator, plus a ``doc_id`` column."""
    from hooqu_spark.pipeline.synth import make_docs_pdf

    first = 10 * (100_000 + random.Random(seed).randrange(1_000_000) * (n_pages // 10 + 1))
    ids = list(range(first, first + n_pages))
    src = [i - 1 if i % 10 == 1 else i - 2 if i % 10 == 2 else i for i in ids]
    pdf = make_docs_pdf(src)
    pdf["url"] = [u.rsplit("/", 1)[0] + f"/{i}" for u, i in zip(pdf["url"], ids)]
    pdf["text"] = [t + TAIL if i % 10 == 2 else t for t, i in zip(pdf["text"], ids)]
    pdf["doc_id"] = ids
    return pdf


def token_count(col):
    """Whitespace tokens of a text column (0 for empty text)."""
    from pyspark.sql import functions as F

    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+")))


class WebtextPipeline:
    headline = "fresh"

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, checks: Checks,
                 yard: Yardstick, traced: bool):
        self.spark, self.work, self.seed, self.traced = spark, work, seed, traced
        self.tracer, self.checks, self.yard = tracer, checks, yard
        self.samples: Dict[str, List[float]] = {
            "fresh": [], "resume": [], "minhash": [], "span": []}
        self.removed_token_frac: List[float] = []
        self.cpu: Dict[str, List[float]] = {"fresh": [], "resume": []}
        self.keep_rates: List[float] = []
        self.quantile_errs: List[float] = []
        self.checkpoints: List[dict] = []
        self.failure_metrics = 0

    # -- set-up -------------------------------------------------------------------

    def setup(self) -> None:
        pdf = crawl_pdf(self.seed, N_PAGES)
        self.pages, self.docs = self._write("", pdf, with_docs=self.traced)
        sample = random.Random(self.seed + 1).sample(range(N_PAGES), F1_SAMPLE)
        self.sample_pdf = pdf.iloc[sorted(sample)][["url", "text"]]
        self.id_checksum = sum(pdf["doc_id"])
        self.in_tokens = sum(len(t.split()) for t in pdf["text"])
        # warm-up on the first pages, written like the input so the warm
        # calls have the measured calls' plans: Python workers, generated
        # code and the JIT are warm before the first timed call
        check_workers_import(self.spark)
        warm_pages, warm_docs = self._write("warm_", pdf.iloc[:WARM_PAGES],
                                            with_docs=self.traced)
        wd = os.path.join(self.work, "warm")
        self._call(wd, warm_pages)
        self._call(wd, warm_pages)
        shutil.rmtree(wd)
        if self.traced:
            self._minhash(warm_docs)
            self._span(warm_docs)

    def _write(self, prefix: str, pdf, with_docs: bool):
        """The pages as parquet, and for the dedup calls ``(doc_id, text)``."""
        from hooqu_spark.pipeline.synth import WEBTEXT_SCHEMA

        pages_dir = os.path.join(self.work, prefix + "pages")
        pages = pdf[[c.split()[0] for c in WEBTEXT_SCHEMA.split(", ")]]
        self.spark.createDataFrame(pages, schema=WEBTEXT_SCHEMA).write.parquet(pages_dir)
        if not with_docs:
            return self.spark.read.parquet(pages_dir), None
        docs_dir = os.path.join(self.work, prefix + "docs")
        self.spark.createDataFrame(pdf[["doc_id", "text"]], "doc_id long, text string") \
            .write.parquet(docs_dir)
        return self.spark.read.parquet(pages_dir), self.spark.read.parquet(docs_dir)

    def _minhash(self, docs):
        from pyspark.sql import functions as F

        from hooqu_spark.ops import minhash_dedup

        # count, and in the same job the surviving exact copies
        return minhash_dedup(docs, "doc_id", threshold=THRESHOLD).agg(
            F.count(F.lit(1)), F.sum((F.col("doc_id") % 10 == 1).cast("long"))
        ).first()

    def _span(self, docs):
        from pyspark.sql import functions as F

        from hooqu_spark.ops import repeated_span_dedup

        # a checksum over the rebuilt text, never a bare count(): Catalyst
        # would remove the rebuild join
        return repeated_span_dedup(docs, "doc_id").agg(
            F.count(F.lit(1)), F.sum("doc_id"), F.sum(token_count(F.col("text")))
        ).first()

    def _call(self, work_dir: str, pages=None):
        from hooqu_spark.pipeline import run_pipeline

        pages = self.pages if pages is None else pages
        return run_pipeline(self.spark, pages, work_dir, run_id="run",
                            n_buckets=N_BUCKETS)

    # -- closed loop --------------------------------------------------------------

    def iteration(self) -> None:
        self.yard.measure()
        wd = os.path.join(self.work, f"iter{len(self.samples['fresh'])}")
        with self.tracer.span("pipeline.run_pipeline"):
            t, c, fresh = timed(lambda: self._call(wd))
        self._sample("fresh", t, c)
        self.yard.measure()
        resumed = []
        for _ in range(RESUMES):
            with self.tracer.span("pipeline.run_pipeline.resume"):
                t, c, result = timed(lambda: self._call(wd))
            self._sample("resume", t, c)
            resumed.append(result)
        self.checks.record("run_pipeline.fresh", self._check(fresh, resume=False))
        for result in resumed:
            self.checks.record("run_pipeline.resume", self._check(result, resume=True))
        self._record_checkpoint(wd)
        shutil.rmtree(wd)
        if self.tracer.enabled:
            self._dedup()

    def _sample(self, kind: str, wall_s: float, cpu_s: float) -> None:
        self.samples[kind].append(wall_s)
        self.cpu[kind].append(cpu_s)

    def _dedup(self) -> None:
        with self.tracer.span("dedup.minhash_dedup"):
            t, _, (kept_docs, exact_copies) = timed(lambda: self._minhash(self.docs))
        self.samples["minhash"].append(t)
        with self.tracer.span("dedup.repeated_span_dedup"):
            t, _, (rows, id_sum, tokens) = timed(lambda: self._span(self.docs))
        self.samples["span"].append(t)
        problems = []
        if exact_copies:
            problems.append(f"{exact_copies} constructed exact copies survived")
        if not N_PAGES * 0.5 < kept_docs < N_PAGES * 0.9:
            problems.append(f"{kept_docs} of {N_PAGES} docs kept")
        self.checks.record("minhash_dedup", problems)
        problems = []
        if rows != N_PAGES or id_sum != self.id_checksum:
            problems.append(f"span dedup returned {rows} rows with id sum {id_sum}")
        self.removed_token_frac.append(1 - tokens / self.in_tokens)
        self.checks.record("repeated_span_dedup", problems)

    def verify(self) -> None:
        """Every call is checked inside its iteration.  A traced run also
        counts LSH candidate pairs and those at or above the threshold,
        scored as ``minhash_dedup`` scores them, outside every span."""
        from pyspark.sql import functions as F

        from hooqu_spark.ops.dedup import (_signature_agreement, lsh_candidate_pairs,
                                           minhash_signatures)

        if not self.tracer.spans:
            return
        sigs = minhash_signatures(self.docs, "doc_id").persist()
        scored = _signature_agreement(lsh_candidate_pairs(sigs), sigs)
        self.candidates, self.similar = scored.agg(
            F.count(F.lit(1)), F.sum((F.col("est_jaccard") >= THRESHOLD).cast("long"))
        ).first()
        sigs.unpersist()

    def _metric(self, result, name: str, instance: str) -> float:
        for a, m in result.metrics.items():
            if a.name == name and a.instance == instance:
                return m.value.get()
        raise KeyError(f"{name}({instance})")

    def _check(self, result, resume: bool) -> List[str]:
        from hooqu_spark import CheckStatus
        from hooqu_spark.pipeline.reference_impl import f1_score, reference_labels
        from hooqu_spark.pipeline.spec import DEFAULT_RULES

        problems = []
        if result.verification.status != CheckStatus.SUCCESS:
            problems.append(f"suite status {result.verification.status}")
        processed, resumed = len(result.processed_buckets), len(result.resumed_buckets)
        want = (0, N_BUCKETS) if resume else (N_BUCKETS, 0)
        if (processed, resumed) != want:
            problems.append(f"processed/resumed buckets {processed}/{resumed}, want {want}")
        failures = [a for a, m in result.metrics.items() if not m.value.isSuccess]
        self.failure_metrics += len(failures)
        if failures:
            problems.append(f"failed metrics {failures}")
            return problems
        size = self._metric(result, "Size", "*")
        if size != N_PAGES:
            problems.append(f"merged Size {size} != {N_PAGES} pages")
        keep_rate = self._metric(result, "Compliance", "keep_rate")
        kept = result.kept.count()
        if abs(kept - keep_rate * size) > 0.5:
            problems.append(f"kept {kept} != keep_rate {keep_rate} x Size {size}")
        if resume:
            return problems
        self.keep_rates.append(keep_rate)
        if not hasattr(self, "expected_keep"):
            ref = reference_labels(self.sample_pdf, DEFAULT_RULES)
            self.expected_keep = dict(zip(ref["url"], ref["keep"].astype(bool)))
        rows = (
            result.enriched.where(result.enriched.url.isin(list(self.expected_keep)))
            .select("url", "keep").collect()
        )
        import pandas as pd

        got = {r["url"]: bool(r["keep"]) for r in rows}
        urls = sorted(self.expected_keep)
        if sorted(got) != urls:
            problems.append(f"{len(got)} of {len(urls)} sampled urls in the checkpoint")
            return problems
        f1 = f1_score(pd.Series([self.expected_keep[u] for u in urls]),
                      pd.Series([got[u] for u in urls]))
        if f1 < MIN_F1:
            problems.append(f"keep/drop F1 {f1:.4f} < {MIN_F1}")
        # merged lineage quantile vs the same sketch over the whole checkpoint
        from hooqu_spark.analyzers import QuantileSketch
        from hooqu_spark.analyzers.runner import do_analysis_run

        qs = QuantileSketch("log_ppl", 0.5)
        merged = self._metric(result, "QuantileSketch", "log_ppl")
        whole = do_analysis_run(result.enriched, [qs]).metric(qs).value.get()
        self.quantile_errs.append(abs(merged - whole) / abs(whole))
        return problems

    def _record_checkpoint(self, wd: str) -> None:
        files = nbytes = 0
        for root, _, names in os.walk(os.path.join(wd, "enriched")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        self.checkpoints.append({"files": files, "bytes": nbytes})

    # -- results ------------------------------------------------------------------

    def end_to_end(self) -> Dict[str, float]:
        return {
            "main_docs_per_ref": N_PAGES / self.yard.units(self.cpu["fresh"]),
            "incremental_ref": self.yard.units(self.cpu["resume"]),
        }

    def info(self) -> dict:
        out = {
            "pages": N_PAGES, "buckets": N_BUCKETS,
            "pipeline_docs_per_s": N_PAGES / median(self.samples["fresh"]),
            "pipeline_resume_s": median(self.samples["resume"]),
            "cpu_s": {k: median(v) for k, v in self.cpu.items()},
            "cpu_s_samples": {k: [round(c, 2) for c in v] for k, v in self.cpu.items()},
            "keep_rate": median(self.keep_rates),
            "quantile_merge_rel_err": median(self.quantile_errs),
        }
        if self.samples["minhash"]:
            out.update({
                "minhash_docs_per_s": N_PAGES / median(self.samples["minhash"]),
                "span_docs_per_s": N_PAGES / median(self.samples["span"]),
                "span_removed_token_frac": median(self.removed_token_frac),
            })
        return out

    def layers(self, out: Layers, tracer: Tracer, log: EventLog) -> None:
        fresh = tracer.named("pipeline.run_pipeline")
        resume = tracer.named("pipeline.run_pipeline.resume")
        minhash = tracer.named("dedup.minhash_dedup")
        span = tracer.named("dedup.repeated_span_dedup")
        out.spans_and_spark(tracer, log, fresh + resume + minhash + span, per=len(fresh))
        per_doc = 1.0 / N_PAGES

        def self_job_s(s):
            g = log.groups.get(s.group)
            return g.job_seconds() if g else 0.0

        stats = [log.stats(tracer.subtree(s)) for s in fresh]
        # "time to initialize Python workers" is left out: on a reused
        # worker Spark measures it from the worker's boot, so it grows
        # with the worker's age
        py = [(st.sql_sum("ArrowEvalPython", "time to run Python workers"),
               st.sql_sum("ArrowEvalPython", "time to start Python workers"),
               st.sql_sum("ArrowEvalPython", "data sent to Python workers"),
               st.sql_sum("ArrowEvalPython", "data returned from Python workers"),
               st.sql_sum("Execute InsertIntoHadoopFsRelationCommand", "task commit time")
               + st.sql_sum("Execute InsertIntoHadoopFsRelationCommand", "job commit time"))
              for st in stats]
        out.update({
            "pipeline.run_s": median([s.seconds for s in fresh]),
            "pipeline.run_self_s": median([tracer.self_seconds(s) for s in fresh]),
            "pipeline.unattributed_share": median(
                [(tracer.self_seconds(s) - self_job_s(s)) / s.seconds for s in fresh]),
            "pipeline.python_run_s": median([p[0] for p in py]),
            "pipeline.python_start_s": median([p[1] for p in py]),
            "pipeline.arrow_bytes_sent_per_doc": median([p[2] for p in py]) * per_doc,
            "pipeline.arrow_bytes_returned_per_doc": median([p[3] for p in py]) * per_doc,
            "pipeline.checkpoint_commit_s": median([p[4] for p in py]),
            "pipeline.checkpoint_files": median([c["files"] for c in self.checkpoints]),
            "pipeline.checkpoint_bytes_per_doc":
                median([c["bytes"] for c in self.checkpoints]) * per_doc,
            "pipeline.spark_jobs": median([len(st.jobs) for st in stats]),
            "pipeline.resume_spark_jobs": median(
                [len(log.stats(tracer.subtree(s)).jobs) for s in resume]),
            "pipeline.keep_rate": median(self.keep_rates),
            "lineage.quantile_merge_rel_err": median(self.quantile_errs),
            "analyzers.failure_metrics": self.failure_metrics,
        })
        out.lineage_spans(tracer, fresh + resume, per=len(fresh))
        out.analyzer_spans(tracer, log, fresh + resume, per=len(fresh))
        self._dedup_layers(out, log, minhash, span)

    def _dedup_layers(self, out: Layers, log: EventLog, minhash, span) -> None:
        st = log.stats(minhash + span)
        n = len(minhash)
        agg_build = (st.sql_sum("HashAggregate", "time in aggregation build")
                     + st.sql_sum("ObjectHashAggregate", "time in aggregation build"))
        span_nodes = log.plan_nodes(log.stats(span).executions)
        out.update({
            "dedup.minhash_s": median([s.seconds for s in minhash]),
            "dedup.span_s": median([s.seconds for s in span]),
            "dedup.candidate_pairs": self.candidates,
            "dedup.candidate_precision": self.similar / self.candidates,
            "dedup.sort_aggregate_nodes": span_nodes.count("SortAggregate") / len(span),
            "dedup.agg_s": agg_build / n,
            "dedup.shuffle_write_bytes": st.task.get("shuffle_write_bytes", 0.0) / n,
            "dedup.shuffle_fetch_wait_s": st.task.get("shuffle_fetch_wait_s", 0.0) / n,
            "dedup.spill_bytes": st.task.get("spill_bytes", 0.0) / n,
            "dedup.span_removed_token_frac": median(self.removed_token_frac),
        })

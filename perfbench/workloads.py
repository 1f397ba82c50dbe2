"""The closed-loop workloads. Each one prepares its seeded inputs and its
expected outputs, runs one pass of the engine per call (the timed part),
checks the pass's output, and in a traced run measures its layers in
isolation.

A pass's output is consumed by an order-independent xxhash aggregation
over every column, so the whole result is computed but only one row
reaches the driver; the hash is also what the check compares.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Dict, List, Tuple

from perfbench import inputs
from perfbench.sparkstats import record_pass
from perfbench.spans import Tracer

LAYER_REPS = 2   # isolated runs per layer in a traced run (median reported)
JOB_REPS = 1     # extraction-job runs in a traced run (~12 s each)
# the extraction job's work split: 16 doc_id buckets in 2 waves
JOB_BUCKETS = 16
JOB_BUCKETS_PER_WAVE = 8


def consume(df) -> tuple:
    """(xor of every row's xxhash64, row count): the count keeps repeated
    rows, whose hashes would cancel or repeat in the xor, from hiding."""
    from pyspark.sql import functions as F

    return tuple(df.agg(F.bit_xor(F.xxhash64(*df.columns)), F.count(F.lit(1))
                        ).collect()[0])


def release_blocks(spark) -> None:
    """Unpersist what a pass materialized (the engine's localCheckpoints
    are released by the garbage collector only eventually), so blocks do
    not pile up across passes."""
    import gc

    gc.collect()
    sc = spark.sparkContext
    rdds = sc._jvm.scala.collection.JavaConverters.mapAsJavaMapConverter(
        sc._jsc.sc().getPersistentRDDs()
    ).asJava()
    for rdd in rdds.values():
        rdd.unpersist(True)


def timed_layer(spark, tracer: Tracer, name: str, action, reps: int = LAYER_REPS
                ) -> Tuple[float, float]:
    """Run ``action`` ``reps`` times under its own job group; return the
    median wall and the median time any of its stages was running."""
    sc = spark.sparkContext
    walls, busy = [], []
    for r in range(reps):
        group = f"layer-{name}-{r}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        action()
        t1 = time.time()
        stats = record_pass(tracer, sc, group, name, t0, t1, pass_id=None)
        walls.append(t1 - t0)
        busy.append(stats["spark.stage_busy_s"])
    return statistics.median(walls), statistics.median(busy)


class Workload:
    """One workload: ``prepare`` (inputs, part of set-up), ``expect`` (the
    expected outputs, timed apart from set-up), ``run_pass`` (timed),
    ``check`` (after each pass) and ``layers`` (traced runs only)."""

    name = ""
    warmup_passes = 0  # passes run before measuring, part of set-up
    n_docs = n_lines = 0
    layer_checks = (0, 0)  # (attempted, failed) of outputs checked in layers()

    def __init__(self, spark, data_dir: str, seed: int, size: str):
        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.size = inputs.SIZES[size]

    def after_pass(self, i: int) -> None:
        release_blocks(self.spark)


class Extract(Workload):
    """extract_documents over the interleaved corpus (text-only fast path).
    Its traced run also measures, as layers, the positions path and the
    extraction job over the same corpus."""

    name = "extract"
    # pass times step down for the last time after the 5th pass
    warmup_passes = 5
    def prepare(self) -> None:
        self.docs, self.media, self.chosen = inputs.interleaved(
            self.spark, self.data_dir, self.seed, self.size["docs"])
        self.n_docs = len(self.chosen)
        self.n_lines = sum(len(d["media"]) for d in self.chosen)

    def expect(self) -> None:
        from calamari_spark.plans.extraction import golden_documents

        self.golden = golden_documents(self.docs, self.media)
        self.expected = consume(self.golden)

    def run_pass(self, i: int) -> None:
        from calamari_spark.plans.extraction import extract_documents

        self.got = consume(extract_documents(self.docs, self.media))

    def check(self, i: int) -> Tuple[int, int]:
        """(outputs attempted, outputs failed) for pass ``i``."""
        if self.got == self.expected:
            return self.n_docs, 0
        from calamari_spark.plans.extraction import extract_documents

        # a rerun only locates the damage: the pass itself already failed
        return self.n_docs, max(1, mismatched_docs(
            extract_documents(self.docs, self.media), self.golden, self.n_docs))

    def _media_spans(self):
        from pyspark.sql import functions as F

        from calamari_spark.plans.extraction import explode_spans

        return explode_spans(self.docs).filter(F.col("kind") == "media").select(
            "doc_id", "offset", "media_ref"
        ).join(self.media.select("media_ref", "png"), "media_ref", "left")

    def layers(self, tracer: Tracer) -> Dict[str, float]:
        out = self._plan_layers(tracer)
        a1, f1 = self._positions_layer(tracer, out)
        a2, f2 = self._job_layer(tracer, out)
        self.layer_checks = (a1 + a2, f1 + f2)
        return out

    def _plan_layers(self, tracer: Tracer) -> Dict[str, float]:
        """Each stage of the extraction plan run on its own, over the
        same rows and partitioning the pass uses."""
        from pyspark.sql import functions as F

        from calamari_spark.functions.text import regularize_column
        from calamari_spark.plans.extraction import (
            TEXT_RULESETS,
            explode_spans,
            recognize_media,
            reassemble_spans,
        )

        spark, sc = self.spark, self.spark.sparkContext
        with_png = self._media_spans()
        batches = sc.accumulator(0)

        def identity(it):
            for b in it:
                batches.add(1)
                yield b

        # the recognize stage's own exchange, then a mapInPandas that does
        # nothing: the cost of crossing the Python boundary with the blobs
        boundary = with_png.repartition(
            sc.defaultParallelism * 2, "media_ref"
        ).mapInPandas(identity, schema=with_png.schema)
        strip = explode_spans(self.docs).filter(F.col("kind") == "text").select(
            "doc_id", regularize_column(F.col("text"), rulesets=TEXT_RULESETS).alias("text")
        )
        # the reassembly input: every span with its final text (what the
        # golden output is assembled from), cached so only reassembly runs
        golden_spans = self.golden.select(
            "doc_id", F.explode("spans").alias("s")
        ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset").cache()
        golden_spans.count()
        out = {}
        for name, df in (
            ("extraction.join", with_png),
            ("extraction.boundary", boundary),
            ("extraction.recognize", recognize_media(with_png, with_positions=False)),
            ("extraction.reassemble", reassemble_spans(golden_spans)),
            ("text.strip_branch", strip),
        ):
            wall, busy = timed_layer(spark, tracer, name, lambda df=df: consume(df))
            out[f"{name}_s"] = wall
            out[f"{name}_busy_s"] = busy
        golden_spans.unpersist()
        release_blocks(spark)
        out["extraction.arrow_batches"] = batches.value / LAYER_REPS
        return out

    def _positions_layer(self, tracer: Tracer, out: Dict[str, float]) -> Tuple[int, int]:
        """recognize_media with positions: every fold, greedy decode with
        alternatives, the vote and nested position structs. Each sentence
        must equal its line's ground truth, and positions and confidences,
        which have none, must repeat exactly from run to run."""
        from pyspark.sql import functions as F

        from calamari_spark.plans.extraction import recognize_media

        lines = self._media_spans()
        expected = lines.join(self.media.select("media_ref", "gt"), "media_ref").agg(
            F.bit_xor(F.xxhash64("media_ref", "gt"))).collect()[0][0]
        got = []

        def positions():
            rec = recognize_media(lines, with_positions=True)
            got.append(tuple(rec.agg(
                F.bit_xor(F.xxhash64(*rec.columns)),
                F.bit_xor(F.xxhash64("media_ref", "sentence")),
                F.count(F.lit(1)),
            ).collect()[0]))

        wall, busy = timed_layer(self.spark, tracer, "extraction.recognize_positions",
                                 positions)
        out["extraction.recognize_positions_s"] = wall
        out["extraction.recognize_positions_busy_s"] = busy
        ok = all(g[1] == expected and g[2] == self.n_lines and g[0] == got[0][0]
                 for g in got)
        return len(got) * self.n_lines, 0 if ok else len(got) * self.n_lines

    def _job_layer(self, tracer: Tracer, out: Dict[str, float]) -> Tuple[int, int]:
        """run_extraction_job (overwrite sink, quarantine on error, a
        seeded 1e-3 of the blobs corrupted, a fresh output directory per
        run), checked against the golden output with NULL text where a
        blob is bad, the injected spans and the metrics table's count."""
        from pyspark.sql import functions as F

        from calamari_spark.plans.extraction import golden_documents
        from calamari_spark.plans.lineage import (
            read_extracted,
            read_metrics,
            read_quarantine,
            run_extraction_job,
        )

        spark = self.spark
        bad_media, bad = inputs.corrupt_media(
            spark, self.data_dir, self.media, self.seed, self.chosen)
        nulled = self.media.withColumn(
            "gt", F.when(F.col("media_ref").isin([b[1] for b in bad]), F.lit(None))
            .otherwise(F.col("gt")))
        golden = golden_documents(self.docs, nulled)
        expected = consume(golden)
        runs: List[Tuple[str, float]] = []

        def job():
            path = os.path.join(self.data_dir, f"job-out-{len(runs)}")
            t0 = time.perf_counter()
            run_extraction_job(spark, self.docs, bad_media, path,
                               n_buckets=JOB_BUCKETS, buckets_per_wave=JOB_BUCKETS_PER_WAVE,
                               on_error="quarantine")
            runs.append((path, time.perf_counter() - t0))

        out["lineage.job_s"], _ = timed_layer(spark, tracer, "lineage.job", job, JOB_REPS)
        failed, rows = 0, []
        for path, wall in runs:
            extracted = read_extracted(spark, path)
            if consume(extracted) != expected:
                failed += max(1, mismatched_docs(extracted, golden, self.n_docs))
            quarantined = {
                (r[0], r[1], int(r[2])) for r in
                read_quarantine(spark, path).select("doc_id", "media_ref", "offset").collect()
            }
            failed += len(quarantined ^ set(bad))
            metrics = read_metrics(spark, path).select(
                "bucket", "wave_wall_s", "n_failed").collect()
            failed += abs(sum(r["n_failed"] for r in metrics) - len(bad))
            # a fresh run takes the buckets in order, buckets_per_wave at a time
            waves = {r["bucket"] // JOB_BUCKETS_PER_WAVE: r["wave_wall_s"] for r in metrics}
            rows.append({
                "lineage.waves": float(len(waves)),
                "lineage.wave_s": statistics.mean(waves.values()),
                "lineage.bookkeeping_s": wall - sum(waves.values()),
                "lineage.quarantined": float(len(quarantined)),
            })
            shutil.rmtree(path, ignore_errors=True)
        for key in rows[0]:
            out[key] = statistics.median(row[key] for row in rows)
        release_blocks(spark)
        return len(runs) * self.n_docs, failed


def mismatched_docs(extracted, golden, n_docs: int) -> int:
    """Documents whose span sequence differs from the golden one."""
    from calamari_spark.plans.extraction import span_equality_report

    r = span_equality_report(extracted, golden).collect()[0]
    return int(r["mismatch_docs"]) + abs(int(r["total_docs"]) - n_docs)


class Dedup(Workload):
    """minhash_pairs -> connected_components over a near-duplicate table."""

    name = "dedup"
    # its ~40 small jobs a pass keep the JVM compiling Spark's planner
    # for dozens of passes: pass times fall steeply for 8 passes, then by
    # about 1% a pass. After 8 the run's time buys more by measuring: a
    # median over more passes rides out a burst of load from other tenants
    warmup_passes = 8
    def prepare(self) -> None:
        self.docs, self.path, self.n_docs = inputs.dedup_table(
            self.spark, self.data_dir, self.seed, self.size["dedup_docs"])
        self.n_lines = self.n_docs

    def expect(self) -> None:
        from perfbench.host import slots

        self.expected = inputs.oracle_keepers(self.path, slots())

    def run_pass(self, i: int) -> None:
        from calamari_spark.plans.dedup import connected_components, minhash_pairs

        pairs = minhash_pairs(self.docs).select("doc_a", "doc_b")
        self.got = {int(r[0]): int(r[1]) for r in connected_components(pairs).collect()}

    def check(self, i: int) -> Tuple[int, int]:
        ids = set(self.got) | set(self.expected)
        return len(ids), sum(self.got.get(d) != self.expected.get(d) for d in ids)

    def layers(self, tracer: Tracer) -> Dict[str, float]:
        from calamari_spark.plans.common import materialize
        from calamari_spark.plans.dedup import (
            banded_candidates,
            band_keys,
            connected_components,
            minhash_pairs,
            minhash_signatures,
        )

        t: Dict[str, List[float]] = {}
        counts: dict = {}
        stats: dict = {}

        def lap(key: str, t0: float) -> float:
            now = time.perf_counter()
            t.setdefault(key, []).append(now - t0)
            return now

        def signatures_and_candidates():
            t0 = time.perf_counter()
            sig = minhash_signatures(self.docs)  # materializes: one job
            t0 = lap("dedup.signatures_s", t0)
            cand = banded_candidates(band_keys(sig), "doc_id", "doc_a", "doc_b")
            counts["candidates"] = cand.count()
            lap("dedup.candidates_s", t0)

        def pairs_and_cc():
            pairs = materialize(minhash_pairs(self.docs).select("doc_a", "doc_b"))
            counts["pairs"] = pairs.count()
            t0 = time.perf_counter()
            connected_components(pairs, stats=stats).collect()
            lap("dedup.cc_s", t0)

        timed_layer(self.spark, tracer, "dedup.signatures_candidates",
                    signatures_and_candidates)
        timed_layer(self.spark, tracer, "dedup.pairs_cc", pairs_and_cc)
        release_blocks(self.spark)
        out = {k: statistics.median(v) for k, v in t.items()}
        out["dedup.cc_rounds"] = float(stats["rounds"])
        out["dedup.candidate_pairs"] = float(counts["candidates"])
        out["dedup.pair_yield"] = counts["pairs"] / max(1, counts["candidates"])
        return out


WORKLOADS = {w.name: w for w in (Extract, Dedup)}

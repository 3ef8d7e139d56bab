"""``curation_batch``: ``plans.llm_curation.curate_and_pack`` over a seeded
corpus, as repeated batch jobs, checked against a plain-Python replay of
the plan (``curation_ref``)."""

from __future__ import annotations

import os
import time
from statistics import median

from pyspark.sql import functions as F

from flink_kafka_table_api_spark import caching
from flink_kafka_table_api_spark.operators.curation import decontaminate, pack_sequences
from flink_kafka_table_api_spark.operators.dedup import (
    connected_components, lsh_bands, lsh_candidate_pairs, lsh_verified_pairs,
    minhash_signatures,
)
from flink_kafka_table_api_spark.operators.text import with_quality_score
from flink_kafka_table_api_spark.plans.llm_curation import curate_and_pack

from perfbench import curation_ref, gen
from perfbench.stats import pct

BENCH_SOURCE = "src19"


class Curation:
    name = "curation_batch"
    n_docs = 2_000

    def __init__(self, seed: int, seconds: int, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.corpus = None
        self.path = os.path.join(work, "docs.parquet")
        self._want = None

    def setup(self, spark) -> None:
        os.makedirs(self.work, exist_ok=True)
        self.corpus = gen.make_corpus(gen.CorpusSpec(seed=self.seed, n_docs=self.n_docs))
        gen.write_corpus(self.corpus, self.path)

    def restage(self, spark) -> None:
        pass

    def warm_up(self, spark) -> None:
        path = os.path.join(self.work, "warm.parquet")
        gen.write_corpus(gen.make_corpus(
            gen.CorpusSpec(seed=self.seed + 10_000, n_docs=40, n_bench=5)), path)
        curate_and_pack(spark.read.parquet(path)).collect()
        caching.release_cached()

    def decode_path(self, spark) -> str:
        return "none"

    def measure(self, spark, tracer=None) -> dict:
        if tracer is not None:
            return self._measure_traced(spark, tracer)
        walls, rows, released = [], None, 0
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < self.seconds:
            t0 = time.perf_counter()
            rows = curate_and_pack(spark.read.parquet(self.path)).collect()
            walls.append(time.perf_counter() - t0)
            released = caching.release_cached()
        n = len(self.corpus.doc_id)
        job = median(walls)
        return {"rows": rows, "released": released, "metrics": {
            "throughput_rps": n / job,
            "latency_p50_ms": job * 1e3,
            "latency_p90_ms": pct(walls, 90) * 1e3,
            "jobs": len(walls),
            "work_wall_s": job,
        }}

    def _measure_traced(self, spark, tracer) -> dict:
        """The stages of curate_and_pack, called one by one with each
        boundary materialized, so each operator's time is its own."""
        storage = [0]

        def sample_storage():
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            storage[0] = max(storage[0], sum(i.memSize() + i.diskSize() for i in infos))

        t0 = time.perf_counter()
        docs = spark.read.parquet(self.path)
        with tracer.span("plans.curation", trace="job"):
            with tracer.span("operators.decontaminate") as s:
                bench = docs.filter(F.col("source") == BENCH_SOURCE)
                pool = docs.filter(F.col("source") != BENCH_SOURCE)
                train = caching.tracked_persist(decontaminate(pool, bench, ngram_n=4))
                s["rows_in"], s["rows_out"] = pool.count(), train.count()
            sample_storage()
            with tracer.span("operators.quality"):
                quality = with_quality_score(train).select("doc_id", "n_tokens", "quality_score")
                kept = caching.tracked_persist(
                    train.join(quality.filter(F.col("quality_score") >= 0.5), "doc_id"))
                kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
            sample_storage()
            with tracer.span("operators.lsh_pairs") as s:
                text = kept.select("doc_id", "text")
                sigs = minhash_signatures(text, "doc_id", "text", num_hashes=8, shingle_k=3)
                s["candidates"] = lsh_candidate_pairs(
                    lsh_bands(sigs, "doc_id", bands=4, rows_per_band=2), "doc_id").count()
                pairs = caching.tracked_persist(lsh_verified_pairs(
                    text, "doc_id", "text", num_hashes=8, bands=4, rows_per_band=2,
                    shingle_k=3, threshold=0.5))
                found = {(r.a, r.b) for r in pairs.select("a", "b").collect()}
                s["verified"] = len(found)
            sample_storage()
            with tracer.span("operators.components"):
                clusters = connected_components(pairs)
                dropped = clusters.filter(~F.col("is_canonical")).select(
                    F.col("id").alias("doc_id"))
                survivors = caching.tracked_persist(
                    train.join(kept.join(dropped, "doc_id", "left_anti")
                               .select("doc_id"), "doc_id"))
                survivors.count()
            sample_storage()
            with tracer.span("operators.pack"):
                rows = pack_sequences(survivors, budget=256).collect()
            sample_storage()
        released = caching.release_cached()
        wall = time.perf_counter() - t0
        return {"rows": rows, "released": released, "storage_peak": storage[0],
                "found_pairs": found, "kept_ids": kept_ids,
                "metrics": {"work_wall_s": wall}}

    def layer_metrics(self, measured: dict, traced: dict, tracer) -> dict:
        out = {"plans.curation_s": measured["metrics"]["work_wall_s"],
               "caching.released": measured["released"]}
        dec = next(s for s in tracer.spans if s["name"] == "operators.decontaminate")
        lsh = next(s for s in tracer.spans if s["name"] == "operators.lsh_pairs")
        # injected pairs whose two documents both reach near-dup detection
        kept = traced["kept_ids"]
        eligible = [(a, b) for a, b in self.corpus.injected_pairs
                    if a in kept and b in kept]
        found = traced["found_pairs"]
        hit = sum(1 for a, b in eligible if (min(a, b), max(a, b)) in found)
        out.update({
            "operators.decontaminate_s": tracer.total("operators.decontaminate"),
            "operators.quality_s": tracer.total("operators.quality"),
            "operators.lsh_pairs_s": tracer.total("operators.lsh_pairs"),
            "operators.components_s": tracer.total("operators.components"),
            "operators.pack_s": tracer.total("operators.pack"),
            "operators.decon_dropped_frac":
                1 - dec["rows_out"] / dec["rows_in"] if dec["rows_in"] else 0.0,
            "operators.lsh_candidates": lsh["candidates"],
            "operators.lsh_verified": lsh["verified"],
            "operators.lsh_precision":
                lsh["verified"] / lsh["candidates"] if lsh["candidates"] else 0.0,
            "operators.dup_recall": hit / len(eligible) if eligible else 0.0,
            "caching.storage_bytes_peak": traced["storage_peak"],
        })
        return out

    def check(self, measured: dict) -> tuple[int, int, list[str]]:
        """Rows equal to the plain-Python replay of the plan."""
        if self._want is None:
            c = self.corpus
            self._want = set(curation_ref.curate_and_pack(c.doc_id, c.text, c.source))
        want = self._want
        got = [(r["doc_id"], r["n_tokens"], r["seq_id"]) for r in measured["rows"]]
        got_set = set(got)
        dup = len(got) - len(got_set)
        missing = len(want - got_set)
        extra = len(got_set - want)
        notes = [f"{k}={v}" for k, v in (("missing", missing), ("extra", extra),
                                          ("duplicated", dup)) if v]
        return len(want), missing + extra + dup, notes

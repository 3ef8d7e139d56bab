"""``ann_mixed``: one closed-loop client against an IVF index built in
set-up. Every ``APPEND_EVERY``-th operation is a small ingest
(``ivf_append``); the others are top-10 requests (``ivf_route`` +
``ivf_topk_indexed`` + collect). Each request is checked against an exact
numpy re-rank of the clusters it probed; recall is measured against an
exact search over the whole index."""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from flink_kafka_table_api_spark.operators import similarity as sim

from perfbench import gen
from perfbench.stats import pct

K = 10
NPROBE = 2
APPEND_EVERY = 5
APPEND_ROWS = 200
APPEND_ID0 = 10_000_000
TOL = 2e-6  # scores are rounded to 6 places by the engine


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


class Ann:
    name = "ann_mixed"

    def __init__(self, seed: int, seconds: int, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spec = gen.EmbedSpec(seed=seed)
        self._n = 0
        self.build_s = []

    # ---- set-up -------------------------------------------------------
    def _write_vectors(self, path: str, ids: np.ndarray, vec: np.ndarray) -> None:
        pq.write_table(pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        }), path)

    def _centroids(self, spark):
        return spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(self.centers)],
            "c_id int, c_embedding array<double>")

    def _build(self, spark, n: int, stream: int):
        """Write ``n`` vectors and build an index over them; returns the
        index path, ids, vectors and build time."""
        self._n += 1
        os.makedirs(self.work, exist_ok=True)
        vec_path = os.path.join(self.work, f"vectors-{self._n}.parquet")
        index = os.path.join(self.work, f"index-{self._n}")
        self.centers, vec = gen.make_embeddings(self.spec, n, stream)
        ids = np.arange(n, dtype=np.int64)
        self._write_vectors(vec_path, ids, vec)
        self.cent_df = self._centroids(spark)
        t0 = time.perf_counter()
        sim.ivf_build_index(spark.read.parquet(vec_path), self.cent_df, index)
        return index, ids, vec, time.perf_counter() - t0

    def setup(self, spark) -> None:
        self.index, self.base_ids, self.base_vec, t = self._build(
            spark, self.spec.n_vectors, 1)
        self.build_s.append(t)

    def restage(self, spark) -> None:
        self.setup(spark)

    def warm_up(self, spark) -> None:
        """Two requests against the index and one append into a scratch
        index, so the measured loop starts on warm code paths without
        changing the index it measures."""
        q = gen.make_embeddings(self.spec, 2, 51)[1]
        self._query(spark, None, q[0])
        self._query(spark, None, q[1])
        main, self.index = self.index, os.path.join(self.work, "warm-index")
        self._append(spark, None, 0, 51)
        self.index = main

    def decode_path(self, spark) -> str:
        return "none"

    # ---- the client loop ----------------------------------------------
    def _loop(self, spark, tracer, ops=None, stream=2) -> dict:
        q_rng_vecs = gen.make_embeddings(self.spec, 4_000, stream)[1]
        log = []
        start = time.perf_counter()
        i = 0
        while (i < ops) if ops is not None else (
                i < APPEND_EVERY or time.perf_counter() - start < self.seconds):
            if i % APPEND_EVERY == APPEND_EVERY - 1:
                log.append(self._append(spark, tracer, i, stream))
            else:
                log.append(self._query(spark, tracer, q_rng_vecs[i % len(q_rng_vecs)]))
            i += 1
        return {"ops": log, "wall_s": time.perf_counter() - start}

    def _span(self, tracer, name):
        return nullcontext({}) if tracer is None else tracer.span(name)

    def _query(self, spark, tracer, qv: np.ndarray) -> dict:
        t0 = time.perf_counter()
        with self._span(tracer, "similarity.request"):
            q = spark.createDataFrame([([float(x) for x in qv],)],
                                      "q_embedding array<double>")
            with self._span(tracer, "similarity.route"):
                t1 = time.perf_counter()
                clusters = sim.ivf_route(self.cent_df, q, nprobe=NPROBE)
                t2 = time.perf_counter()
            with self._span(tracer, "similarity.topk"):
                rows = sim.ivf_topk_indexed(spark, self.index, clusters, q, K).collect()
                t3 = time.perf_counter()
        return {"op": "query", "q": qv, "clusters": clusters,
                "result": [(r["vec_id"], r["cosine_sim"]) for r in rows],
                "ms": (t3 - t0) * 1e3, "route_ms": (t2 - t1) * 1e3,
                "topk_ms": (t3 - t2) * 1e3}

    def _append(self, spark, tracer, i: int, stream: int) -> dict:
        _, vec = gen.make_embeddings(self.spec, APPEND_ROWS, 1_000 + stream * 1_000 + i)
        ids = APPEND_ID0 + stream * 100_000 + i * APPEND_ROWS + np.arange(APPEND_ROWS)
        t0 = time.perf_counter()
        with self._span(tracer, "similarity.append"):
            df = spark.createDataFrame(
                [(int(a), [float(x) for x in v]) for a, v in zip(ids, vec)],
                "vec_id long, embedding array<float>")
            sim.ivf_append(df, self.cent_df, self.index)
        return {"op": "append", "ids": ids, "vec": vec,
                "ms": (time.perf_counter() - t0) * 1e3}

    def measure(self, spark, tracer=None) -> dict:
        res = self._loop(spark, tracer)
        queries = [o for o in res["ops"] if o["op"] == "query"]
        appends = [o for o in res["ops"] if o["op"] == "append"]
        q_ms = [o["ms"] for o in queries]
        m = {
            "throughput_rps": len(res["ops"]) / res["wall_s"],
            "latency_p50_ms": pct(q_ms, 50),
            "latency_p90_ms": pct(q_ms, 90),
            "query_p50_ms": pct(q_ms, 50),
            "query_p90_ms": pct(q_ms, 90),
            "append_p50_ms": pct([o["ms"] for o in appends], 50),
            "queries": len(queries),
            "appends": len(appends),
            "work_wall_s": pct(q_ms, 50) / 1e3,
        }
        res["metrics"] = m
        res["index"] = self.index
        self._verify(res)
        m["recall_at_10"] = res["recall"]
        return res

    # ---- checks -------------------------------------------------------
    def _verify(self, res: dict) -> None:
        """Replay the op log in numpy: route, probed-cluster re-rank, recall."""
        cent = _unit(self.centers.astype(np.float64))
        ids = [self.base_ids]
        vecs = [self.base_vec.astype(np.float64)]
        failed, notes, recalls, scanned = 0, [], [], []
        for o in res["ops"]:
            if o["op"] == "append":
                ids.append(o["ids"])
                vecs.append(o["vec"].astype(np.float64))
                continue
            all_ids = np.concatenate(ids)
            all_vec = _unit(np.concatenate(vecs))
            assign = np.argmax(all_vec @ cent.T, axis=1)
            q = _unit(o["q"].astype(np.float64))
            dist = 1 - cent @ q
            want_clusters = sorted(np.lexsort((np.arange(len(dist)), dist))[:NPROBE].tolist())
            cos = np.round(all_vec @ q, 6)
            probed = np.isin(assign, want_clusters)
            scanned.append(int(probed.sum()))
            cand_ids, cand_cos = all_ids[probed], cos[probed]
            order = np.lexsort((cand_ids, -cand_cos))[:K]
            kth = cand_cos[order[-1]]
            got = o["result"]
            truth = dict(zip(cand_ids.tolist(), cand_cos.tolist()))
            ok = (sorted(o["clusters"]) == want_clusters and len(got) == K
                  and len({g for g, _ in got}) == K
                  and all(g in truth and abs(truth[g] - s) <= TOL
                          and truth[g] >= kth - TOL for g, s in got))
            if not ok:
                failed += 1
                notes.append(f"query mismatch: clusters {o['clusters']} vs {want_clusters}")
            exact = set(all_ids[np.lexsort((all_ids, -cos))[:K]].tolist())
            recalls.append(len(exact & {g for g, _ in got}) / K)
        # every ingested vector is in the index exactly once
        t = pq.read_table(res["index"], columns=["vec_id"])
        n_ids = t.num_rows
        uniq = len(set(t.column("vec_id").to_pylist()))
        want_n = sum(len(x) for x in ids)
        n_appends = sum(1 for o in res["ops"] if o["op"] == "append")
        if n_ids != want_n or uniq != want_n:
            failed += n_appends or 1
            notes.append(f"index holds {n_ids} rows ({uniq} distinct), want {want_n}")
        res.update(failed=failed, notes=notes,
                   recall=float(np.mean(recalls)) if recalls else 0.0,
                   rows_scanned=scanned)

    def check(self, measured: dict) -> tuple[int, int, list[str]]:
        return len(measured["ops"]), measured["failed"], measured["notes"]

    def layer_metrics(self, measured: dict, traced: dict, tracer) -> dict:
        ops = measured["ops"]
        qs = [o for o in ops if o["op"] == "query"]
        n_files = sum(len([f for f in fs if f.endswith(".parquet")])
                      for _, _, fs in os.walk(measured["index"]))
        return {
            "similarity.build_s": sorted(self.build_s)[len(self.build_s) // 2],
            "similarity.route_ms_p50": pct([o["route_ms"] for o in qs], 50),
            "similarity.topk_ms_p50": pct([o["topk_ms"] for o in qs], 50),
            "similarity.append_ms_p50": measured["metrics"]["append_p50_ms"],
            "similarity.index_files_end": n_files,
            "similarity.rows_scanned_p50": pct(measured["rows_scanned"], 50),
        }

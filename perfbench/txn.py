"""Transaction-stream workloads: ``txn_passthrough`` and ``txn_windowed``.

Both read Confluent-framed Avro ``Transaction`` files from a watched
directory through the engine's file-stream source and run two phases:

* drain: a pre-staged backlog read at one file per trigger; throughput is
  a file's records over the median gap between consecutive batch commits.
* open loop: a separate publisher process drops one file every ``TICK_MS``
  at a fixed record rate; latency is measured from each record's due time.
  Samples due in the first ``WARM_S`` seconds are dropped.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from flink_kafka_table_api_spark.plans import pipeline
from flink_kafka_table_api_spark.sources import files as file_sources
from flink_kafka_table_api_spark.sources import kafka
from flink_kafka_table_api_spark.streaming import windows

from perfbench import gen, streams, wire
from perfbench.stats import pct

VALUE_SCHEMA = StructType([StructField("value", BinaryType())])
WRITERS = {wire.SCHEMA_ID: wire.TX_AVSC_JSON}
TICK_MS = 50
WARM_S = 1.0
WINDOW_MS = 10_000
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Phase:
    """One streaming query over one input directory."""

    base: str
    files: list = field(default_factory=list)      # gen.TxnFile per input file
    names: list = field(default_factory=list)
    stamps: list = field(default_factory=list)     # per-file stamped ms, or None

    def __post_init__(self):
        for sub in ("src", "staging", "out", "ckpt"):
            os.makedirs(os.path.join(self.base, sub), exist_ok=True)

    def path(self, sub: str) -> str:
        return os.path.join(self.base, sub)


def decode(raw):
    return kafka.decode_avro_column(raw, wire.TX_AVSC_JSON, writer_schemas=WRITERS)


def usd(amounts: np.ndarray, currencies: np.ndarray) -> np.ndarray:
    return np.where(currencies == "EUR", amounts * 1.1,
                    np.where(currencies == "GBP", amounts * 1.3, amounts))


class TxnWorkload:
    """Shared driver of the two stream jobs. Subclasses define the job and
    ``drain_files``, ``drain_records`` (per backlog file) and ``rate``
    (open-loop records per second)."""

    name = ""
    stamp_due = False
    warm_files = 4

    def __init__(self, seed: int, seconds: int, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.open_s = max(2.0, 0.6 * seconds)
        self._n = 0
        self._generated: dict[tuple, list] = {}
        self.drain = None
        self._run_start_ms = time.time_ns() // 1_000_000

    # ---- traffic ------------------------------------------------------
    def spec(self, phase: int, records_per_file: int) -> gen.TxnSpec:
        return gen.TxnSpec(seed=self.seed, phase=phase,
                           records_per_file=records_per_file)

    def _phase(self, tag: str) -> Phase:
        self._n += 1
        return Phase(os.path.join(self.work, f"{tag}-{self._n}"))

    def _stage(self, phase_id: int, n_files: int, rpf: int) -> Phase:
        """Write a backlog into a fresh directory. Records are generated
        once per run; repeated set-ups stage the same payloads again."""
        key = (phase_id, n_files, rpf)
        if key not in self._generated:
            stream = gen.TxnStream(self.spec(phase_id, rpf))
            files = stream.files(n_files)
            self._generated[key] = [(f, gen.payloads(f)) for f in files]
        ph = self._phase("backlog")
        for k, (f, values) in enumerate(self._generated[key]):
            name = f"b-{k:06d}.parquet"
            gen.write_value_file(values, ph.path("staging"), ph.path("src"), name)
            ph.files.append(f)
            ph.names.append(name)
            ph.stamps.append(None)
        return ph

    # ---- the job ------------------------------------------------------
    def frame(self, raw):
        raise NotImplementedError

    def _start(self, spark, ph: Phase, max_files, tracer):
        raw = file_sources.stream_parquet_dir(
            spark, ph.path("src"), VALUE_SCHEMA, max_files_per_trigger=max_files)
        if tracer is None:
            w = (self.frame(raw).writeStream.format("parquet")
                 .option("path", ph.path("out")))
        else:
            w = self.traced_writer(raw, ph, tracer)
        return (w.option("checkpointLocation", ph.path("ckpt"))
                .outputMode("append").start())

    def traced_writer(self, raw, ph: Phase, tracer):
        raise NotImplementedError

    def _await(self, query, ph: Phase, names: list, timeout: float) -> None:
        """Wait until the batches that read ``names`` have committed. Polls
        the checkpoint's logs on disk, which costs the engine nothing."""
        deadline = time.monotonic() + timeout
        log = streams.CheckpointReader(ph.path("ckpt"))
        while not log.committed(names):
            if time.monotonic() > deadline:
                raise TimeoutError(f"{self.name}: stream did not drain")
            if not query.isActive:
                raise RuntimeError(f"{self.name}: query stopped: {query.exception()}")
            time.sleep(0.05)

    # ---- phases -------------------------------------------------------
    def setup(self, spark) -> None:
        self.drain = self._stage(0, self.drain_files, self.drain_records)

    def restage(self, spark) -> None:
        self.setup(spark)

    def warm_up(self, spark) -> None:
        """Drain a separate backlog through the same job, one file per
        trigger, so the measured phases run on a warm JVM."""
        ph = self._stage(9, self.warm_files, self.drain_records)
        q = self._start(spark, ph, 1, None)
        try:
            self._await(q, ph, ph.names, 120)
        finally:
            q.stop()

    def run_drain(self, spark, tracer) -> dict:
        ph = self.drain
        t0 = time.time_ns()
        q = self._start(spark, ph, 1, tracer)
        try:
            self._await(q, ph, ph.names, 150)
        finally:
            q.stop()
        prog = q.recentProgress
        src = streams.source_batches(ph.path("ckpt"))
        commits = streams.commit_times_ns(ph.path("ckpt"))
        done = sorted(commits[src[n]] for n in ph.names)
        # one file per batch: the sustained rate is a file's records over
        # the median gap between consecutive batch commits
        gaps = np.diff(done) / 1e9
        return {"phase": ph, "wall_s": (done[-1] - t0) / 1e9,
                "rate": len(ph.files[0].ids) / float(np.median(gaps)),
                "progress": prog, "final_watermark_ms": _watermark_ms(prog)}

    def run_open_loop(self, spark, tracer) -> dict:
        ph = self._phase("live")
        n_files = int(round(self.open_s * 1000 / TICK_MS))
        rpf = int(self.rate * TICK_MS / 1000)
        spec = self.spec(1, rpf)
        cfg_path = ph.path("publisher.json")
        log_path = ph.path("publisher-log.json")
        with open(cfg_path, "w") as fh:
            json.dump(gen.publisher_config(
                spec, n_files=n_files, tick_ms=TICK_MS, stamp_due=self.stamp_due,
                dest=ph.path("src"), staging=ph.path("staging"), log=log_path), fh)
        q = self._start(spark, ph, None, tracer)
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.gen", "publish", cfg_path],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        try:
            ready = proc.stdout.readline().strip()
            if ready != "ready":
                raise RuntimeError(f"publisher failed to start: {ready!r}")
            t0_ns = (time.time_ns() // 1_000_000 + 200) * 1_000_000
            proc.stdin.write(f"{t0_ns}\n")
            proc.stdin.close()
            proc.wait(timeout=self.open_s + 60)
            if proc.returncode != 0:
                raise RuntimeError(f"publisher exited with {proc.returncode}")
            self._await(q, ph, [f"live-{k:06d}.parquet" for k in range(n_files)], 120)
        finally:
            q.stop()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        with open(log_path) as fh:
            log = json.load(fh)
        # the publisher's records are a pure function of the spec
        stream = gen.TxnStream(spec)
        tick_ns = TICK_MS * 1_000_000
        for k in range(n_files):
            ph.files.append(stream.next_file())
            ph.names.append(f"live-{k:06d}.parquet")
            ph.stamps.append((t0_ns + k * tick_ns) // 1_000_000
                             if self.stamp_due else None)
        dues = [t0_ns + k * tick_ns for k in range(n_files)]
        src = streams.source_batches(ph.path("ckpt"))
        commits = streams.commit_times_ns(ph.path("ckpt"))
        done = [commits[src[n]] for n in ph.names]
        pub = log["published_ns"]
        backlog = max(sum(1 for j in range(k + 1) if done[j] > pub[k])
                      for k in range(n_files))
        prog = q.recentProgress
        return {"phase": ph, "dues_ns": dues, "t0_ns": t0_ns,
                "commit_ns": commits, "file_batch": src, "progress": prog,
                "final_watermark_ms": _watermark_ms(prog),
                "gen.late_ms_max": max(p - d for p, d in zip(pub, dues)) / 1e6,
                "gen.backlog_files_max": backlog}

    def measure(self, spark, tracer=None) -> dict:
        d = self.run_drain(spark, tracer)
        if tracer is not None:
            self.trace_outside_stream(spark, tracer)
        o = self.run_open_loop(spark, tracer)
        lat = self.latencies(o) if tracer is None else np.array([0.0])
        m = {
            "throughput_rps": d["rate"],
            "latency_p50_ms": pct(lat, 50),
            "latency_p90_ms": pct(lat, 90),
            "latency_p99_ms": pct(lat, 99),
            "latency_samples": int(len(lat)),
            "drain_wall_s": d["wall_s"],
            "work_wall_s": d["wall_s"],
            "gen.late_ms_max": o["gen.late_ms_max"],
            "gen.backlog_files_max": o["gen.backlog_files_max"],
        }
        return {"metrics": m, "drain": d, "open": o}

    def latencies(self, o: dict) -> np.ndarray:
        raise NotImplementedError

    def trace_outside_stream(self, spark, tracer) -> None:
        """Spans for layer calls that cannot be timed inside the job."""

    def decode_path(self, spark) -> str:
        """Which of the engine's three Avro decode paths the job runs."""
        plan = decode(spark.createDataFrame([], VALUE_SCHEMA))._jdf \
            .queryExecution().executedPlan().toString()
        if "fkta_avro_decode" in plan:
            return "java_udf"
        if "from_avro" in plan:
            return "spark_avro"
        return "python_mapInPandas"

    def layer_metrics(self, measured: dict, traced: dict, tracer) -> dict:
        prog = measured["drain"]["progress"] + measured["open"]["progress"]
        out = streams.progress_summary(prog)
        out["gen.late_ms_max"] = measured["metrics"]["gen.late_ms_max"]
        out["gen.backlog_files_max"] = measured["metrics"]["gen.backlog_files_max"]
        return out

    def check(self, measured: dict) -> tuple[int, int, list[str]]:
        att = fail = 0
        notes = []
        for key in ("drain", "open"):
            a, f, n = self.check_phase(measured[key])
            att += a
            fail += f
            notes += [f"{key}: {x}" for x in n]
        return att, fail, notes


def _watermark_ms(progress: list[dict]) -> int | None:
    for p in reversed(progress):
        wm = p.get("eventTime", {}).get("watermark")
        if wm:
            t = dt.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
            return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    return None


# ---------------------------------------------------------------------------
# txn_passthrough
# ---------------------------------------------------------------------------

class Passthrough(TxnWorkload):
    """decode_avro_column -> approved_transactions -> registered_payload ->
    parquet file sink: the reference pipeline."""

    name = "txn_passthrough"
    stamp_due = True
    drain_files = 12
    drain_records = 10_000
    # far below the drain rate: batch size then barely feeds back into
    # batch time, so latency tracks the per-batch overhead
    rate = 2_500

    def frame(self, raw):
        approved = pipeline.approved_transactions(decode(raw))
        return kafka.registered_payload(approved, wire.APPROVED_AVSC_JSON,
                                        topic="approved_transactions")

    def traced_writer(self, raw, ph: Phase, tracer):
        out = ph.path("out")

        def batch(df, batch_id):
            with tracer.span("streaming.batch", trace=f"{ph.base}:{batch_id}"):
                with tracer.span("sources.read") as s:
                    raw_c = df.persist()
                    n, b = raw_c.select(F.count("*"), F.sum(F.length("value"))).first()
                    s.update(rows=n, bytes=b or 0)
                with tracer.span("sources.decode", rows=n):
                    dec = decode(raw_c).persist()
                    dec.count()
                with tracer.span("plans.pipeline") as s:
                    app = pipeline.approved_transactions(dec).persist()
                    s["rows"] = app.count()
                with tracer.span("sources.encode", rows=s["rows"]) as e:
                    enc = kafka.registered_payload(
                        app, wire.APPROVED_AVSC_JSON,
                        topic="approved_transactions").persist()
                    e["bytes"] = enc.select(F.sum(F.length("value"))).first()[0] or 0
                with tracer.span("streaming.sink_write"):
                    enc.write.mode("append").parquet(out)
                for c in (enc, app, dec, raw_c):
                    c.unpersist()

        return raw.writeStream.foreachBatch(batch)

    def latencies(self, o: dict) -> np.ndarray:
        ph = o["phase"]
        lat, w = [], []
        warm_end = o["t0_ns"] + WARM_S * 1e9
        for f, name, due in zip(ph.files, ph.names, o["dues_ns"]):
            if due < warm_end:
                continue
            lat.append((o["commit_ns"][o["file_batch"][name]] - due) / 1e6)
            w.append(int((f.statuses != "CANCELLED").sum()))
        return np.repeat(np.array(lat), w)

    def layer_metrics(self, measured: dict, traced: dict, tracer) -> dict:
        out = super().layer_metrics(measured, traced, tracer)
        reads = [s for s in tracer.spans if s["name"] == "sources.read"]
        rows_in = sum(s["rows"] for s in reads)
        rows_out = sum(s["rows"] for s in tracer.spans if s["name"] == "plans.pipeline")
        dec_s = tracer.total("sources.decode")
        enc_s = tracer.total("sources.encode")
        out.update({
            "sources.decode_s": dec_s,
            "sources.decode_rps": rows_in / dec_s if dec_s else 0.0,
            "sources.encode_s": enc_s,
            "sources.encode_rps": rows_out / enc_s if enc_s else 0.0,
            "sources.bytes_in": sum(s["bytes"] for s in reads),
            "sources.bytes_out": sum(s["bytes"] for s in tracer.spans
                                     if s["name"] == "sources.encode"),
            "plans.pipeline_s": tracer.total("plans.pipeline"),
            "plans.selectivity": rows_out / rows_in if rows_in else 0.0,
        })
        return out

    def check_phase(self, r: dict) -> tuple[int, int, list[str]]:
        """Every approved record exactly once, byte-identical up to
        processingTimestamp (so amountInUsd is bit-exact), with a
        processingTimestamp inside the run."""
        ph = r["phase"]
        expected: dict[str, bytes] = {}
        for f, stamp in zip(ph.files, ph.stamps):
            ts = f.event_ms if stamp is None else np.full(len(f.ids), stamp)
            amount_usd = usd(f.amounts, f.currencies)
            for i in np.flatnonzero(f.statuses != "CANCELLED"):
                expected[f.ids[i]] = wire.approved_prefix(
                    f.ids[i], float(f.amounts[i]), f.currencies[i], int(ts[i]),
                    f.merchants[i], f.users[i], float(amount_usd[i]))
        attempted = len(expected)
        lo_ms = self._run_start_ms
        hi_ms = time.time_ns() // 1_000_000
        seen: set[str] = set()
        extra = dup = wrong = 0
        out = ph.path("out")
        for name in sorted(os.listdir(out)):
            if not name.endswith(".parquet"):
                continue
            for v in pq.read_table(os.path.join(out, name), columns=["value"]) \
                    .column("value").to_pylist():
                rid, _ = wire.leading_string(v)
                exp = expected.get(rid)
                if rid in seen:
                    dup += 1
                    continue
                seen.add(rid)
                if exp is None:
                    extra += 1
                    continue
                try:
                    ok = (v.startswith(exp)
                          and lo_ms <= wire.processing_ts(v, len(exp)) <= hi_ms)
                except (IndexError, ValueError):
                    ok = False
                wrong += not ok
        missing = attempted - len(seen & expected.keys())
        notes = [f"{k}={v}" for k, v in (("missing", missing), ("extra", extra),
                                          ("duplicated", dup), ("wrong", wrong)) if v]
        return attempted, missing + extra + dup + wrong, notes


# ---------------------------------------------------------------------------
# txn_windowed
# ---------------------------------------------------------------------------

class Windowed(TxnWorkload):
    """decode -> approved_transactions -> with_watermark(5 s) ->
    streaming_dedup(id) -> tumbling(10 s, userId) count + sum(amountInUsd)
    -> parquet append sink. Event time runs ``SPEED`` times faster than
    wall time so 10-second windows close within a run."""

    name = "txn_windowed"
    SPEED = 50
    drain_files = 10
    drain_records = 6_000
    warm_files = 3
    rate = 4_000

    def spec(self, phase: int, records_per_file: int) -> gen.TxnSpec:
        return gen.TxnSpec(
            seed=self.seed, phase=phase, records_per_file=records_per_file,
            zipf_s=1.1, n_users=20_000, event_span_ms=TICK_MS * self.SPEED,
            late_share=0.2, max_late_ms=4_000, redelivery_share=0.05)

    def frame(self, raw):
        approved = pipeline.approved_transactions(decode(raw),
                                                  with_processing_ts=False)
        deduped = windows.streaming_dedup(
            windows.with_watermark(approved, "timestamp"), ["id"])
        return windows.tumbling(
            deduped, "timestamp", "10 seconds", group_by=["userId"],
            aggs=[F.count("*").alias("n"), F.sum("amountInUsd").alias("usd")])

    def traced_writer(self, raw, ph: Phase, tracer):
        out = ph.path("out")

        def batch(df, batch_id):
            with tracer.span("streaming.batch", trace=f"{ph.base}:{batch_id}"):
                with tracer.span("streaming.sink_write"):
                    df.write.mode("append").parquet(out)

        return self.frame(raw).writeStream.foreachBatch(batch)

    def trace_outside_stream(self, spark, tracer) -> None:
        """Decode each backlog file as a batch job: the stateful job's
        decode cannot be timed inside its micro-batches."""
        for f, name in zip(self.drain.files, self.drain.names):
            path = os.path.join(self.drain.path("src"), name)
            with tracer.span("sources.decode", rows=len(f.ids),
                             bytes=os.path.getsize(path)):
                decode(spark.read.schema(VALUE_SCHEMA).parquet(path)).agg(
                    F.count("id"), F.max("timestamp")).first()

    def expected(self, ph: Phase, dues_ns=None):
        """Per (window_start, userId): count, sum of amountInUsd and the due
        time of the last contributing record, from the generated records."""
        parts = []
        for k, f in enumerate(ph.files):
            keep = f.first_copy & (f.statuses != "CANCELLED")
            parts.append(pd.DataFrame({
                "w": f.event_ms[keep] // WINDOW_MS * WINDOW_MS,
                "user": f.users[keep],
                "usd": usd(f.amounts, f.currencies)[keep],
                "due": np.int64(dues_ns[k] if dues_ns else 0),
            }))
        df = pd.concat(parts)
        return df.groupby(["w", "user"]).agg(
            n=("usd", "size"), usd=("usd", "sum"), due=("due", "max"))

    def _emitted(self, ph: Phase, by_batch: bool):
        rows = []
        if by_batch:
            for b, paths in streams.sink_batches(ph.path("out")).items():
                for p in paths:
                    rows.append(_window_rows(p).assign(batch=b))
        else:
            out = ph.path("out")
            for name in sorted(os.listdir(out)):
                if name.endswith(".parquet"):
                    rows.append(_window_rows(os.path.join(out, name)).assign(batch=-1))
        if not rows:
            return pd.DataFrame(columns=["w", "user", "n", "usd", "batch"])
        return pd.concat(rows)

    def latencies(self, o: dict) -> np.ndarray:
        ph = o["phase"]
        exp = self.expected(ph, o["dues_ns"])
        got = self._emitted(ph, by_batch=True)
        commit = got["batch"].map(o["commit_ns"]).to_numpy(np.int64)
        due = exp["due"].reindex(list(zip(got["w"], got["user"]))).to_numpy()
        ok = ~np.isnan(due) & (due >= o["t0_ns"] + WARM_S * 1e9)
        return (commit[ok] - due[ok]) / 1e6

    def layer_metrics(self, measured: dict, traced: dict, tracer) -> dict:
        summ = super().layer_metrics(measured, traced, tracer)
        prog = measured["drain"]["progress"] + measured["open"]["progress"]
        injected = 0
        for key in ("drain", "open"):
            for f in measured[key]["phase"].files:
                injected += int((~f.first_copy & (f.statuses != "CANCELLED")).sum())
        summ["streaming.dedup_dropped_frac"] = (
            streams.dedup_dropped(prog) / injected if injected else 0.0)
        dec = [s for s in tracer.spans if s["name"] == "sources.decode"]
        if dec:
            dec_s = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in dec)
            summ.update({
                "sources.decode_s": dec_s,
                "sources.decode_rps": sum(s["rows"] for s in dec) / dec_s,
                "sources.bytes_in": sum(s["bytes"] for s in dec),
            })
        return summ

    def check_phase(self, r: dict) -> tuple[int, int, list[str]]:
        """Every window closed by the watermark of the last batch emitted
        once with the expected count and sum; nothing else emitted."""
        ph = r["phase"]
        wm = r["final_watermark_ms"]
        exp = self.expected(ph)
        exp = exp[[w + WINDOW_MS <= (wm or 0) for w, _ in exp.index]]
        got = self._emitted(ph, by_batch=False)
        keys = list(zip(got["w"], got["user"]))
        dup = len(keys) - len(set(keys))
        got = got.drop_duplicates(["w", "user"]).set_index(["w", "user"])
        common = exp.index.intersection(got.index)
        missing = len(exp) - len(common)
        extra = len(got) - len(common)
        e, g = exp.loc[common], got.loc[common]
        # sums of float64 in another order: tolerance fixed from the dtype
        tol = 1e-9 * np.maximum(1.0, np.abs(e["usd"].to_numpy()))
        wrong = int(((e["n"].to_numpy() != g["n"].to_numpy())
                     | (np.abs(e["usd"].to_numpy() - g["usd"].to_numpy().astype(float))
                        > tol)).sum())
        notes = [f"{k}={v}" for k, v in (("missing", missing), ("extra", extra),
                                          ("duplicated", dup), ("wrong", wrong)) if v]
        if wm is None:
            notes.append("no watermark reported")
        return len(exp), missing + extra + dup + wrong, notes


def _window_rows(path: str):
    t = pq.read_table(path, columns=["window_start", "userId", "n", "usd"])
    ws = pc.cast(pc.cast(t.column("window_start"), "timestamp[ms]"), "int64")
    return pd.DataFrame({"w": ws.to_numpy(), "user": t.column("userId").to_pylist(),
                         "n": t.column("n").to_numpy(), "usd": t.column("usd").to_numpy()})

"""The benchmark's fast transaction encoder against the engine's codecs.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest

from flink_kafka_table_api_spark.sources.avro_codec import encode_record

from perfbench import gen, wire

EPOCH = dt.datetime(1970, 1, 1)


def _stream_files():
    """Files from both transaction specs: plain, and skewed with late
    records and redeliveries."""
    plain = gen.TxnStream(gen.TxnSpec(seed=5, phase=0, records_per_file=300))
    skewed = gen.TxnStream(gen.TxnSpec(
        seed=6, phase=1, records_per_file=300, zipf_s=1.1, event_span_ms=2_500,
        late_share=0.2, redelivery_share=0.1))
    return plain.files(2) + skewed.files(3)


def _record(f: gen.TxnFile, i: int) -> dict:
    return {
        "id": f.ids[i], "amount": float(f.amounts[i]),
        "currency": f.currencies[i], "timestamp": int(f.event_ms[i]),
        "description": f.descriptions[i], "merchant": f.merchants[i],
        "category": f.categories[i], "status": f.statuses[i],
        "userId": f.users[i], "metadata": f.metadata[i],
    }


def test_fast_encoder_is_byte_identical_to_engine_codec():
    rng = np.random.default_rng(0)
    files = _stream_files()
    checked = 0
    for f in files:
        payloads = gen.payloads(f)
        for i in rng.choice(len(f.ids), 60, replace=False):
            assert payloads[i][:5] == wire.CONFLUENT_HEADER
            assert payloads[i][5:] == encode_record(wire.TX_AVSC, _record(f, i))
            checked += 1
    assert checked == 300
    assert sum(int((~f.first_copy).sum()) for f in files) > 0


def test_approved_prefix_matches_engine_codec():
    f = _stream_files()[0]
    for i in range(20):
        usd = float(f.amounts[i]) * (1.1 if f.currencies[i] == "EUR" else
                                     1.3 if f.currencies[i] == "GBP" else 1.0)
        rec = {"id": f.ids[i], "amount": float(f.amounts[i]),
               "currency": f.currencies[i], "timestamp": int(f.event_ms[i]),
               "merchant": f.merchants[i], "userId": f.users[i],
               "amountInUsd": usd, "processingTimestamp": 1_700_000_123_456}
        full = encode_record(wire.APPROVED_AVSC, rec)
        prefix = wire.approved_prefix(
            f.ids[i], float(f.amounts[i]), f.currencies[i], int(f.event_ms[i]),
            f.merchants[i], f.users[i], usd)
        assert full.startswith(prefix)
        assert wire.processing_ts(full, len(prefix)) == 1_700_000_123_456


@pytest.fixture(scope="module")
def spark():
    from flink_kafka_table_api_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2)
    yield s
    s.stop()


@pytest.mark.parametrize("declared", [True, False], ids=["java_udf", "python"])
def test_round_trip_through_decode_avro_column(spark, declared):
    """Generated payloads decode to the generated fields on the engine's
    Java-UDF path (writer schema declared) and its Python fallback."""
    from flink_kafka_table_api_spark.sources.kafka import decode_avro_column

    files = _stream_files()
    f = files[-1]
    df = spark.createDataFrame([(p,) for p in gen.payloads(f)], "value binary")
    decoded = decode_avro_column(
        df, wire.TX_AVSC_JSON,
        writer_schemas={wire.SCHEMA_ID: wire.TX_AVSC_JSON} if declared else None)
    rows = decoded.collect()
    assert len(rows) == len(f.ids)
    for i, r in enumerate(rows):
        want = _record(f, i)
        got = r.asDict()
        ts = got.pop("timestamp")
        assert int((ts.replace(tzinfo=None) - EPOCH) / dt.timedelta(milliseconds=1)) \
            == want.pop("timestamp")
        assert got == want

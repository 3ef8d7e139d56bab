"""Unit tests for the LLM-pipeline operator internals (dedup, similarity,
text, multimodal) on tiny in-memory data where expected values are
hand-checkable. The full-scale oracle comparison lives in
test_oracle_parity.py."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.functions.portable import portable_hash64
from flink_kafka_table_api_spark.operators import dedup as dd
from flink_kafka_table_api_spark.operators import multimodal as mm
from flink_kafka_table_api_spark.operators import similarity as sim
from flink_kafka_table_api_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_portable_hash_matches_python(spark):
    df = spark.createDataFrame([("abc",)], ["s"])
    got = df.select(portable_hash64("s").alias("h")).collect()[0].h
    expected = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert got == expected


def test_shingles(spark, docs):
    out = docs.filter("doc_id = 1").select(
        dd.shingles("text", 3).alias("sh")
    ).collect()[0].sh
    assert "the quick brown" in out
    assert "over the lazy" in out
    assert len(out) == 7  # 9 tokens -> 7 trigrams, all distinct


def test_minhash_identical_docs_share_signature(spark, docs):
    sigs = {r.doc_id: (r.mh_0, r.mh_1, r.mh_2, r.mh_3)
            for r in dd.minhash_signatures(docs, "doc_id", "text",
                                           num_hashes=4).collect()}
    assert sigs[1] == sigs[4]          # exact dup -> identical signature
    assert sigs[1] != sigs[3]          # unrelated -> different


def test_lsh_finds_exact_dup_pair(spark, docs):
    sigs = dd.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    bands = dd.lsh_bands(sigs, "doc_id", bands=4, rows_per_band=2)
    pairs = {(r.a, r.b) for r in dd.lsh_candidate_pairs(bands, "doc_id").collect()}
    assert (1, 4) in pairs


def test_lsh_bucket_cap_skips_mega_buckets_only(spark, docs):
    """max_bucket_size (the round-7 zipf-skew fix): a bucket above the cap
    contributes NO candidate pairs; buckets at or below the cap are
    untouched; None disables the cap entirely."""
    # 40 identical docs -> every band bucket holds all 40
    many = spark.createDataFrame(
        [(i, "the same boilerplate text repeated here") for i in range(40)],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(many, "doc_id", "text", num_hashes=8)
    bands = dd.lsh_bands(sigs, "doc_id", bands=4, rows_per_band=2)
    capped = dd.lsh_candidate_pairs(bands, "doc_id", max_bucket_size=20)
    assert capped.count() == 0  # mega-bucket skipped
    uncapped = dd.lsh_candidate_pairs(bands, "doc_id", max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2
    at_cap = dd.lsh_candidate_pairs(bands, "doc_id", max_bucket_size=40)
    assert at_cap.count() == 40 * 39 // 2  # <= cap is kept, not dropped
    # the default cap (256) is a no-op on realistic buckets: the fixture
    # dup pair is still found
    fixture_bands = dd.lsh_bands(
        dd.minhash_signatures(docs, "doc_id", "text", num_hashes=8),
        "doc_id", bands=4, rows_per_band=2,
    )
    pairs = {(r.a, r.b)
             for r in dd.lsh_candidate_pairs(fixture_bands, "doc_id").collect()}
    assert (1, 4) in pairs


def test_jaccard_verification(spark, docs):
    out = dd.ngram_jaccard_pairs(
        docs.withColumn("blk", F.lit(1)), "doc_id", "text",
        block_cols=("blk",), threshold=0.5, shingle_k=1,
    )
    got = {(r.a, r.b): r.jaccard for r in out.collect()}
    assert got[(1, 4)] == 1.0          # exact dup
    assert 0.5 <= got[(1, 2)] < 1.0    # near dup (8 of 9 distinct tokens... )
    assert (1, 3) not in got


def test_simhash_hamming(spark, docs):
    sigs = dd.simhash(docs, "doc_id", "text", bits=32)
    vals = {r.doc_id: r.simhash for r in sigs.collect()}
    assert vals[1] == vals[4]
    pairs = (
        sigs.alias("x").crossJoin(sigs.alias("y"))
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
            dd.hamming_distance(F.col("x.simhash"), F.col("y.simhash")).alias("d"),
        )
    )
    d = {(r.a, r.b): r.d for r in pairs.collect()}
    assert d[(1, 4)] == 0
    assert d[(1, 2)] < d[(1, 3)]  # near-dup closer than unrelated


def test_dedup_exact_deterministic(spark, docs):
    out = dd.dedup_exact(docs, keys=("text",), tie_breaker="doc_id")
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 2, 3]  # doc 4 deduped, min doc_id kept


def test_cosine_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qdf = emb.filter("vec_id = 0").select(F.col("embedding").alias("q_embedding"))
    got = sim.brute_force_topk(emb, qdf, k=3).collect()
    assert [r.vec_id for r in got] == [0, 1, 2]
    assert got[0].cosine_sim == 1.0
    assert got[2].cosine_sim == 0.0


def test_lsh_bucket_groups_similar(spark):
    planes = sim.hyperplanes(num_planes=4, dim=3)
    rows = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-5.0, 1.0, -9.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b = emb.select("vec_id", sim.lsh_bucket(F.col("embedding"), planes).alias("b"))
    vals = {r.vec_id: r.b for r in b.collect()}
    assert vals[0] == vals[1]   # identical vectors share a bucket


def test_tokens_and_counts(spark):
    df = spark.createDataFrame([(1, "  Hello   WORLD hello ")], ["doc_id", "text"])
    out = df.select(tx.tokens("text").alias("t")).collect()[0].t
    assert out == ["hello", "world", "hello"]


def test_lang_id_obvious_cases(spark):
    df = spark.createDataFrame(
        [(1, "the cat is in the house and it is big", "en"),
         (2, "el gato es grande y la casa es de madera", "es")],
        ["doc_id", "text", "lang"],
    )
    got = {r.doc_id: r.predicted_lang for r in tx.with_lang_id(df).collect()}
    assert got == {1: "en", 2: "es"}


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG123456")), (2, bytearray(b"plain bytes"))],
        ["doc_id", "payload"],
    )
    out = {r.doc_id: r for r in mm.decode_image_meta(df, fake=True).collect()}
    assert out[1].format == "png"
    assert out[2].format is None
    assert out[1].byte_len == 10
    assert out[1].width == 1 + (10 % 512)
    assert out[1].content_md5 == hashlib.md5(b"\x89PNG123456").hexdigest()


def test_multimodal_real_decode_is_stubbed(spark):
    """Formats with no stdlib decode path still refuse loudly in real mode."""
    df = spark.createDataFrame([(1, bytearray(b"x"))], ["doc_id", "payload"])
    with pytest.raises(Exception, match="NotImplementedError|fake=True"):
        mm.decode_image_meta(df, fake=False).collect()


def _make_bmp(w: int, h: int) -> bytes:
    import struct

    row = (w * 3 + 3) & ~3  # rows padded to 4 bytes (24bpp)
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + row * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row * h,
                      2835, 2835, 0, 0)
        + b"\x00" * (row * h)
    )


def _make_png(w: int, h: int) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )


def _make_gif(w: int, h: int) -> bytes:
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00;"


def _make_jpeg(w: int, h: int) -> bytes:
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        struct.pack(">BHH", 8, h, w)  # precision, height, width
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"  # 3 components
    )
    return (
        b"\xff\xd8"                                       # SOI
        + b"\xff\x01"                                     # standalone TEM
        + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
        + b"\xff\xda\x00\x02"                             # SOS
    )


def test_multimodal_real_header_decode(spark):
    """REAL (stdlib struct) dimension decode of actual BMP/PNG/GIF/JPEG
    bytes, through both the pandas and the arrow mapIn* paths."""
    rows = [
        (1, bytearray(_make_bmp(17, 9))),
        (2, bytearray(_make_png(640, 480))),
        (3, bytearray(_make_gif(320, 200))),
        (4, bytearray(_make_jpeg(1024, 768))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    want = {1: ("bmp", 17, 9), 2: ("png", 640, 480), 3: ("gif", 320, 200),
            4: ("jpeg", 1024, 768)}
    for decode in (mm.decode_image_meta, mm.decode_image_meta_arrow):
        got = {
            r.doc_id: (r.format, r.width, r.height)
            for r in decode(df, fake=False).collect()
        }
        assert got == want, decode.__name__
    # top-down BMP (negative biHeight) normalizes to positive
    import struct

    bmp = bytearray(_make_bmp(5, 4))
    bmp[22:26] = struct.pack("<i", -4)
    assert mm.parse_image_dims(bytes(bmp)) == ("bmp", 5, 4)


def test_audio_features_real_wav_decode(spark):
    """REAL WAV decode through the stdlib wave module: a generated 16-bit
    mono PCM file's windowed RMS/zero-crossings match a pure-Python
    reference computed from the same samples."""
    import io
    import math
    import struct
    import wave

    samples = [
        int(1000 * math.sin(i / 5.0)) for i in range(600)
    ]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    payload = buf.getvalue()
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    got = {
        r.window_idx: (r.rms, r.zero_crossings)
        for r in mm.audio_features(df, window_bytes=256, fake=False).collect()
    }
    assert len(got) == 3  # 600 samples / 256 per window
    for w in range(3):
        win = [float(s) for s in samples[w * 256:(w + 1) * 256]]
        rms = f"{math.sqrt(sum(x * x for x in win) / len(win)):.6f}"
        assert got[w][0] == rms
    # stereo: channel 0 is taken; 8-bit: centered at 128
    buf2 = io.BytesIO()
    with wave.open(buf2, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes([200, 50] * 10))  # L=200, R=50
    df2 = spark.createDataFrame(
        [(8, bytearray(buf2.getvalue()))], "doc_id long, payload binary"
    )
    r = mm.audio_features(df2, window_bytes=256, fake=False).collect()[0]
    assert r.rms == f"{200 - 128:.6f}"  # constant channel-0 signal
    assert r.zero_crossings == 0
    # non-WAV bytes refuse loudly in real mode
    df3 = spark.createDataFrame(
        [(9, bytearray(b"not a wav"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|fake=True"):
        mm.audio_features(df3, fake=False).collect()


def test_kmeans_lloyd_separates_blobs(spark):
    """Two well-separated blobs must resolve into pure clusters, and every
    vector must be accounted for."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [5.0, 5.0, 0.0] if i % 2 == 0 else [-5.0, 0.0, 5.0]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = sim.kmeans_lloyd(df, k=2, n_iter=4)
    got = cents.collect()
    assert len(got) == 2
    assert sorted(r.n_members for r in got) == [20, 20]
    # final assignment with trained centroids is pure: each blob maps
    # entirely to one cluster
    assign = sim.ivf_assign(df, cents.select("c_id", "c_embedding")).collect()
    by_parity = {0: set(), 1: set()}
    for r in assign:
        by_parity[r.vec_id % 2].add(r.cluster)
    assert len(by_parity[0]) == 1 and len(by_parity[1]) == 1
    assert by_parity[0] != by_parity[1]


def test_ivf_append_equals_one_shot_build(spark, tmp_path):
    """Index maintenance contract: building over the full corpus in one
    shot and building over a prefix then ivf_append-ing deltas must yield
    the SAME index (same rows per cluster, same query answers) — appends
    assign only the delta, never rewrite existing partitions."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pyspark.sql.functions as F

    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_embedding")
    )
    one_shot = str(tmp_path / "ivf_full")
    sim.ivf_build_index(emb, centroids, one_shot)

    grown = str(tmp_path / "ivf_grown")
    sim.ivf_build_index(emb.filter(F.col("vec_id") % 3 == 0), centroids, grown)
    import glob

    files_before = set(glob.glob(grown + "/cluster=*/*.parquet"))
    sim.ivf_append(emb.filter(F.col("vec_id") % 3 == 1), centroids, grown)
    sim.ivf_append(emb.filter(F.col("vec_id") % 3 == 2), centroids, grown)
    # append-only: every pre-existing index file survives untouched
    assert files_before <= set(glob.glob(grown + "/cluster=*/*.parquet"))

    a = spark.read.parquet(one_shot).select("vec_id", "cluster")
    b = spark.read.parquet(grown).select("vec_id", "cluster")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    query_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    qc = sim.ivf_route(centroids, query_df, nprobe=2)
    got_a = sim.ivf_topk_indexed(spark, one_shot, qc, query_df, k=10).collect()
    got_b = sim.ivf_topk_indexed(spark, grown, qc, query_df, k=10).collect()
    assert [(r.vec_id, r.cosine_sim) for r in got_a] == \
           [(r.vec_id, r.cosine_sim) for r in got_b]


def test_semantic_dedup_keeps_lowest_id_per_near_group(spark):
    """SemDeDup contract: within a cluster, every doc with an
    above-threshold neighbor of SMALLER id is dropped; group survivors are
    the minima. Two tight blobs + one outlier -> 2 + 1 + outlier kept."""
    import pyspark.sql.functions as F

    rows = [
        # blob A (ids 10, 11, 12 nearly identical)
        (10, [1.0, 0.0, 0.0]), (11, [0.999, 0.01, 0.0]), (12, [0.998, 0.02, 0.0]),
        # blob B (ids 20, 21)
        (20, [0.0, 1.0, 0.0]), (21, [0.0, 0.999, 0.01]),
        # outlier, same cluster as B but below threshold to everything
        (30, [0.0, 0.55, 0.84]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "c_id int, c_embedding array<float>",
    )
    kept = {
        r.vec_id: r.cluster
        for r in sim.semantic_dedup(df, cents, threshold=0.95).collect()
    }
    assert set(kept) == {10, 20, 30}
    assert kept[10] == 0 and kept[20] == 1 and kept[30] == 1


def test_ivf_nprobe_recall_vs_bruteforce(spark, tmp_path):
    """nprobe is the recall knob: measured top-10 overlap with exact
    brute-force must be monotone in nprobe and clear a floor on the
    fixture corpus — a quality contract, not just a plan shape."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pyspark.sql.functions as F

    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_embedding")
    )
    path = str(tmp_path / "ivf_recall")
    sim.ivf_build_index(emb, centroids, path)
    query_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    exact = {r.vec_id for r in sim.brute_force_topk(emb, query_df, 10).collect()}
    recalls = {}
    for nprobe in (1, 2, 8):
        qc = sim.ivf_route(centroids, query_df, nprobe=nprobe)
        got = {
            r.vec_id
            for r in sim.ivf_topk_indexed(spark, path, qc, query_df, 10).collect()
        }
        recalls[nprobe] = len(got & exact) / 10
    assert recalls[1] >= 0.3  # floor: the query's own cluster carries signal
    assert recalls[1] <= recalls[2] <= recalls[8]
    assert recalls[8] == 1.0  # probing every cluster IS brute force


def _ivf_fixture(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_embedding")
    )
    return emb, centroids


def _route_reference(centroids, query, nprobe):
    """Spark cross-join routing: the plan ivf_route computes on the driver."""
    from flink_kafka_table_api_spark.functions.vector import (
        as_double_array,
        cosine,
    )

    dist = 1 - cosine(as_double_array("q_embedding"),
                      as_double_array("c_embedding"))
    return [
        r.c_id for r in query.crossJoin(centroids)
        .withColumn("dist", dist)
        .orderBy("dist", "c_id").limit(nprobe).collect()
    ]


def test_ivf_route_matches_spark_cross_join(spark, sf_dir):
    """Driver-side routing returns exactly the clusters (and order) that a
    Spark cross-join + orderBy(dist, c_id) returns."""
    emb, centroids = _ivf_fixture(spark, sf_dir)
    for vec_id in (0, 3, 40, 123):
        query = emb.filter(F.col("vec_id") == vec_id).select(
            F.col("embedding").alias("q_embedding")
        )
        for nprobe in (1, 2, 8):
            assert sim.ivf_route(centroids, query, nprobe=nprobe) == \
                _route_reference(centroids, query, nprobe), (vec_id, nprobe)


def test_ivf_route_ties_nan_and_query_rows(spark):
    """Equal distances go to the lower c_id; a zero query (NaN distances)
    orders by c_id; an empty query routes nowhere; two rows raise."""
    cents = spark.createDataFrame(
        [(7, [0.0, 1.0]), (5, [1.0, 0.5]), (2, [1.0, 0.5]), (9, [-1.0, 0.0])],
        "c_id int, c_embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.4],)], "q_embedding array<double>")
    assert sim.ivf_route(cents, q, nprobe=3) == [2, 5, 7]
    assert sim.ivf_route(cents, q, nprobe=3) == _route_reference(cents, q, 3)

    zero = spark.createDataFrame([([0.0, 0.0],)], "q_embedding array<double>")
    assert sim.ivf_route(cents, zero, nprobe=4) == [2, 5, 7, 9]

    empty = q.filter(F.lit(False))
    assert sim.ivf_route(cents, empty, nprobe=2) == []

    two = spark.createDataFrame(
        [([1.0, 0.0],), ([0.0, 1.0],)], "q_embedding array<double>"
    )
    with pytest.raises(ValueError, match="one row"):
        sim.ivf_route(cents, two, nprobe=1)


def test_ivf_request_shape(spark, sf_dir, tmp_path):
    """One request against an already-routed centroid handle: route +
    collect top-k run at most 3 jobs (query collect, index schema
    inference, the scan), the top-k plan scores a literal (no broadcast)
    over a cluster-pruned scan, an empty query gives an empty top-k, and
    the memo drops its entries with the caller's handles."""
    import gc
    import weakref

    from flink_kafka_table_api_spark import caching

    emb, centroids = _ivf_fixture(spark, sf_dir)
    path = str(tmp_path / "ivf_shape")
    sim.ivf_build_index(emb, centroids, path)
    vecs = [[float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id").isin(5, 6)).collect()]
    sim.ivf_route(
        centroids,
        spark.createDataFrame([(vecs[0],)], "q_embedding array<double>"),
    )

    q = spark.createDataFrame([(vecs[1],)], "q_embedding array<double>")
    sc = spark.sparkContext
    sc.setJobGroup("ivf_request_shape", "one IVF request")
    try:
        qc = sim.ivf_route(centroids, q, nprobe=2)
        top = sim.ivf_topk_indexed(spark, path, qc, q, 10)
        assert len(top.collect()) == 10
        jobs = sc.statusTracker().getJobIdsForGroup("ivf_request_shape")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(jobs) <= 3

    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan and "NestedLoopJoin" not in plan
    assert "cluster" in plan.split("PartitionFilters:")[1][:200]

    assert sim.ivf_topk_indexed(spark, path, qc, q.filter(F.lit(False)),
                                10).collect() == []

    refs = [weakref.ref(q), weakref.ref(centroids)]
    assert all(r() in caching._COLLECTED for r in refs)
    n = len(caching._COLLECTED)
    del q, centroids, top
    gc.collect()
    assert all(r() is None for r in refs)
    assert len(caching._COLLECTED) <= n - 2


def test_int8_quantize_py_matches_int8_quantize(spark, sf_dir):
    """The driver-side quantizer feeding ivf_topk_indexed_quantized's
    literal is element-equal to the Catalyst one, half-way values
    included (HALF_UP, not Python's half-to-even round)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    halves = spark.createDataFrame(
        [(-1, [127.0, 0.5, 1.5, 2.5, -2.5, 63.5]), (-2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    for df in (emb, halves):
        for r in df.select(
            "embedding", sim.int8_quantize("embedding").alias("q")
        ).collect():
            assert sim.int8_quantize_py(
                [float(x) for x in r.embedding]) == list(r.q)
    assert sim.int8_quantize_py([127.0, 0.5, 1.5, 2.5, -2.5, 63.5]) == \
        [127, 1, 2, 3, -3, 64]


def test_quantized_topk_recall_and_exact_integer_scores(spark):
    """Int8-quantized top-k: (1) recall vs the exact float ranking clears a
    floor on the fixture corpus (quantization is lossy but mild at 64 dims);
    (2) a quantized score recomputed in numpy from the same int8 vectors is
    bit-identical — integer accumulation leaves no engine wiggle room."""
    import numpy as np
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    exact = {r.vec_id for r in sim.brute_force_topk(emb, query_df, 10).collect()}
    got = sim.quantized_topk(emb, query_df, 10).collect()
    assert len(got) == 10
    assert len({r.vec_id for r in got} & exact) / 10 >= 0.7

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.filter(F.col("vec_id").isin(0, got[0].vec_id))
            .select("vec_id", "embedding").collect()}

    def q8(v):
        s = np.abs(v).max() / 127.0
        return np.rint(v / s).astype(np.int64) if s else np.zeros_like(v, int)

    qa, qb = q8(vecs[got[0].vec_id]), q8(vecs[0])
    ref = float(qa @ qb) / (
        np.sqrt(float(qa @ qa)) * np.sqrt(float(qb @ qb))
    )
    assert got[0].q_cosine_sim == round(ref, 6)


def test_audio_features_matches_python_reference(spark):
    """Windowed RMS/zero-crossings pinned against a pure-Python model."""
    import math

    payload = bytes(range(256)) * 2 + b"\x00\x7f\xff"
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    got = {
        r.window_idx: (r.rms, r.zero_crossings)
        for r in mm.audio_features(df, window_bytes=256, fake=True).collect()
    }
    samples = [b - 128.0 for b in payload]
    for w in range(0, len(samples), 256):
        win = samples[w:w + 256] or [0.0]
        rms = f"{math.sqrt(sum(x * x for x in win) / len(win)):.6f}"
        zc = sum(
            1 for a, b in zip(win, win[1:])
            if (a < 0 or (a == 0 and math.copysign(1, a) < 0)) != (b < 0 or (b == 0 and math.copysign(1, b) < 0))
        )
        assert got[w // 256][0] == rms
    assert len(got) == 3


def test_multimodal_arrow_decode_matches_pandas_decode(spark):
    """mapInArrow twin must produce the identical metadata table as the
    mapInPandas path (zero-copy buffers vs pandas objects is an execution
    detail, not a semantic one)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    payloads = mm.documents_as_binary(docs)
    a = mm.decode_image_meta(payloads, fake=True)
    b = mm.decode_image_meta_arrow(payloads, fake=True)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_connected_components_distributed_branch(spark):
    """driver_edge_threshold=0 forces the label-propagation path; it must
    produce exactly the same components as the driver union-find."""
    from flink_kafka_table_api_spark.operators.dedup import (
        connected_components,
    )

    # two chains (1-2-3-4, 10-11) + a self-contained pair (20-21),
    # orientations mixed so both paths must normalize edges
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (11, 10), (20, 21)], "a long, b long"
    )
    dist = {
        (r.id, r.cluster, r.is_canonical)
        for r in connected_components(
            edges, driver_edge_threshold=0
        ).collect()
    }
    drv = {
        (r.id, r.cluster, r.is_canonical)
        for r in connected_components(
            edges, driver_edge_threshold=10**6
        ).collect()
    }
    assert dist == drv
    assert (1, 1, True) in dist and (4, 1, False) in dist
    assert (10, 10, True) in dist and (21, 20, False) in dist


def test_curate_documents_distributed_cc(spark, docs):
    """The composed curation pipeline with the union-find threshold tuned
    to 0 (distributed CC branch) returns the same curated corpus as the
    default driver-side branch — the knob is surfaced end-to-end."""
    from flink_kafka_table_api_spark.plans.llm_curation import (
        curate_documents,
    )

    base = docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("src0")
    )
    default = {
        r.doc_id
        for r in curate_documents(base, quality_threshold=0.0).collect()
    }
    distributed = {
        r.doc_id
        for r in curate_documents(
            base, quality_threshold=0.0, cc_driver_edge_threshold=0
        ).collect()
    }
    assert default == distributed and default


def test_duplicate_chunk_stats_flags_shared_windows(spark):
    # docs 1 and 2 share their first 4-token window verbatim; doc 3 is
    # unique; window=4 non-overlapping, tails count as chunks
    rows = [
        (1, "a b c d x y z w"),
        (2, "a b c d q r s t"),
        (3, "unique text only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from flink_kafka_table_api_spark.operators.dedup import (
        duplicate_chunk_stats,
    )

    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_ratio)
           for r in duplicate_chunk_stats(df, window=4).collect()}
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (1, 0, 0.0)


def test_scd2_versions_chain_and_current(spark):
    from flink_kafka_table_api_spark.operators.relational import (
        scd2_versions,
    )

    rows = [
        (7, 101, "2020-01-01 00:00:00"),
        (7, 102, "2020-03-01 00:00:00"),
        (7, 103, "2020-03-01 00:00:00"),   # same ts: o_id breaks the tie
        (9, 201, "2021-06-15 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "k long, id long, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.id: r for r in scd2_versions(
        df, key_cols=("k",), ts_col="ts", tie_cols=("id",)).collect()}
    # versions chain: each closes at the next change's ts
    assert out[101].valid_to == out[102].valid_from
    assert out[102].valid_to == out[103].valid_from  # tie broken by id
    assert out[103].is_current and out[201].is_current
    assert not out[101].is_current and not out[102].is_current
    # default open representation: NULL valid_to (+ is_current flag)
    assert out[103].valid_to is None and out[201].valid_to is None
    # opt-in sentinel representation still available via open_end
    sent = {r.id: r for r in scd2_versions(
        df, key_cols=("k",), ts_col="ts", tie_cols=("id",),
        open_end="9999-12-31 00:00:00").collect()}
    assert str(sent[103].valid_to).startswith("9999-12-31")
    assert sent[103].is_current and not sent[101].is_current


def test_skyline_2d_matches_bruteforce(spark):
    import itertools
    import random

    from flink_kafka_table_api_spark.operators.relational import skyline_2d

    rng = random.Random(7)
    pts = [(i, rng.randint(0, 30), rng.randint(0, 30)) for i in range(200)]
    pts += [(200, 0, 30), (201, 30, 0), (202, 5, 5), (203, 5, 5)]  # ties
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted(r.id for r in skyline_2d(df, x_col="x", y_col="y").collect())

    def dominated(a):
        return any(
            b[1] <= a[1] and b[2] <= a[2] and (b[1] < a[1] or b[2] < a[2])
            for b in pts if b is not a
        )
    want = sorted(p[0] for p in pts if not dominated(p))
    assert got == want
    # duplicates of a frontier point are mutually non-dominating
    if 202 in want:
        assert 203 in got


def test_lexicon_sentiment_values(spark):
    df = spark.createDataFrame(
        [(1, "fast fast big"), (2, "slow small"), (3, "neutral words only"),
         (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.score_raw, r.n_hits, r.sentiment)
           for r in tx.lexicon_sentiment(
               df, {"fast": 2, "slow": -2, "big": 1, "small": -1}
           ).collect()}
    assert got[1] == (5, 3, round(5 / 3, 6))
    assert got[2] == (-3, 2, -1.5)
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)   # empty text: no tokens, score 0


def test_sliding_pattern_topk_finds_embedded_ramp(spark):
    from flink_kafka_table_api_spark.operators.timeseries import (
        sliding_pattern_topk,
    )

    # user 1 carries an exact (scaled+shifted) ramp starting at event 103
    # — z-normalization must make its distance exactly 0
    vals = [5.0, 9.0, 1.0] + [10.0 + 3.0 * i for i in range(8)] + [2.0, 2.5]
    rows = [(1, 100 + i, f"2020-01-01 00:00:{i:02d}", v)
            for i, v in enumerate(vals)]
    rows += [(2, 300 + i, f"2020-01-01 00:00:{i:02d}", float((-1) ** i))
             for i in range(10)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = sliding_pattern_topk(
        df, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0], k=3
    ).collect()
    assert got[0].event_id == 103 and got[0].dist == 0.0
    assert all(r.dist >= 0 for r in got)


def test_fuzzy_pairs_dist1_neighborhood_completeness(spark):
    rows = [
        (1, "spark"), (2, "spork"),   # substitution
        (3, "spak"),                  # deletion of r
        (4, "sparks"),                # insertion
        (5, "scala"),                 # far away
        (6, "spark"),                 # exact duplicate of 1
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {(r.a, r.b): r.dist
           for r in dd.fuzzy_pairs_dist1(
               df, id_col="id", name_col="name").collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert got[(1, 6)] == 0          # exact dups share the identity variant
    assert (2, 3) not in got         # spork/spak is distance 2
    assert (1, 5) not in got and (4, 5) not in got  # unrelated names


def test_prefix_filter_pairs_matches_bruteforce(spark):
    # Prefix filtering is EXACT: its output must equal the all-pairs brute
    # force at the same threshold — including pairs LSH could miss.
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tonight"),                    # near-dup of 1
        (3, base.replace("quick", "rapid")),       # near-dup of 1
        (4, "completely different text about spark shuffles and joins ok"),
        (5, base),                                 # exact dup of 1
        (6, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b): r.jaccard
        for r in dd.prefix_filter_pairs(
            df, "doc_id", "text", threshold=0.5, shingle_k=3
        ).collect()
    }
    brute = {
        (r.a, r.b): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            df.withColumn("blk", F.lit(1)), "doc_id", "text",
            block_cols=("blk",), threshold=0.5, shingle_k=3,
        ).collect()
    }
    assert got == brute
    assert got[(1, 5)] == 1.0 and (1, 2) in got and (1, 3) in got
    assert all(p[0] != 4 and p[1] != 4 for p in got)
    # prescreen=False (the unconditionally-exact audit mode) skips the
    # hashed stage-1 filter and must produce the identical result
    exact_mode = {
        (r.a, r.b): r.jaccard
        for r in dd.prefix_filter_pairs(
            df, "doc_id", "text", threshold=0.5, shingle_k=3,
            prescreen=False,
        ).collect()
    }
    assert exact_mode == brute


@pytest.mark.parametrize("threshold", [0.55, 0.67, 0.81])
def test_prefix_filter_pairs_float_safe_thresholds(spark, threshold):
    # Regression for the float-representation hazard: 0.55/0.67/0.81 as
    # doubles sit slightly ABOVE their decimals, so a raw
    # ceil(t*n)/nb>=t*na overshoots — ceil(0.55*20)=12 instead of 11 cuts
    # the prefix a token short, and a boundary pair with |b| = t*|a|
    # exactly fails the length filter. Doc 2 is the first 13 words of doc
    # 1 (11 of its 20 shingles, J = 11/20 = 0.55 exactly): at t=0.55 the
    # buggy bound silently drops it. The exact brute force is the oracle.
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor").split()
    assert len(words) == 22  # -> 20 3-shingles
    rows = [
        (1, " ".join(words)),
        (2, " ".join(words[:13])),            # 11 shingles, subset of 1
        (3, " ".join(words[:-1] + ["zulu"])),  # J = 17/23 ~ 0.739
        (4, "unrelated text about catalyst optimizer rules and codegen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.a, r.b): r.jaccard
        for r in dd.prefix_filter_pairs(
            df, "doc_id", "text", threshold=threshold, shingle_k=3
        ).collect()
    }
    brute = {
        (r.a, r.b): r.jaccard
        for r in dd.ngram_jaccard_pairs(
            df.withColumn("blk", F.lit(1)), "doc_id", "text",
            block_cols=("blk",), threshold=threshold, shingle_k=3,
        ).collect()
    }
    assert got == brute
    if threshold == 0.55:
        assert (1, 2) in got  # the exact-boundary pair must survive


def test_keep_best_per_cluster_hand_example(spark):
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.1)],
        "id long, quality_score double",
    )
    got = {
        (r.id, r.cluster, r.is_kept)
        for r in dd.keep_best_per_cluster(labels, quality).collect()
    }
    # cluster 1: 2 and 3 tie at 0.9 -> lowest id (2) wins over 3 and 1
    # cluster 10: 10 and 11 tie -> 10 wins
    assert (2, 1, True) in got and (3, 1, False) in got and (1, 1, False) in got
    assert (10, 10, True) in got and (11, 10, False) in got


def test_top_ngram_char_fraction_hand_example(spark):
    df = spark.createDataFrame(
        [
            (1, "ab ab ab cd"),       # top 2-gram "ab ab" x2, len 5, 11 chars
            (2, "x"),                  # short doc -> whole-doc gram
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in tx.top_ngram_char_fraction(df, k=2).collect()}
    assert got[1].top_gram == "ab ab" and got[1].top_gram_count == 2
    assert got[1].top_gram_char_fraction == round(2 * 5 / 11, 6)
    assert got[2].top_gram == "x" and got[2].top_gram_char_fraction == 1.0


def test_bigram_lm_score_hand_example(spark):
    # corpus: "a b" x2 docs and one "a c" doc.
    # bigrams: "a b" cnt 2, "a c" cnt 1; prefix "a" cnt 3.
    # doc1/doc2 score = 2/3; doc3 score = 1/3; doc4 has <2 tokens -> absent
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.lm_score)
           for r in tx.bigram_lm_score(df).collect()}
    assert got == {
        1: (1, round(2 / 3, 6)),
        2: (1, round(2 / 3, 6)),
        3: (1, round(1 / 3, 6)),
    }


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    rows = [
        (0, 0, [1.0, 0.0]),   # anchor, label 0
        (1, 0, [1.0, 0.01]),  # same label -> never a negative
        (2, 1, [1.0, 0.1]),   # closest other-label
        (3, 1, [0.9, 0.5]),   # further
        (4, 2, [0.0, 1.0]),   # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = [
        (r.anchor_id, r.negative_id, r.rank)
        for r in sim.hard_negatives(
            df, df.filter(F.col("vec_id") == 0), k=2
        ).orderBy("rank").collect()
    ]
    assert got == [(0, 2, 1), (0, 3, 2)]


def test_cdc_chunks_realign_after_insertion(spark):
    """The CDC selling point: insert one token near the front of a long
    doc and the chunks AFTER the next boundary re-align (shared with the
    original), where fixed-window chunking shares nothing. Uses dup_ratio
    > 0 for the edited pair as the signal."""
    base_words = [f"w{i}" for i in range(120)]
    edited = base_words[:3] + ["INSERTED"] + base_words[3:]
    df = spark.createDataFrame(
        [(1, " ".join(base_words)), (2, " ".join(edited)),
         (3, "totally unrelated content here")],
        "doc_id long, text string",
    )
    cdc = {r.doc_id: r for r in dd.cdc_chunk_stats(df).collect()}
    # docs 1 and 2 share every chunk after the first boundary past the edit
    assert cdc[1].n_dup_chunks > 0 and cdc[2].n_dup_chunks > 0
    assert cdc[3].n_dup_chunks == 0
    # fixed 16-token windows share almost nothing after the shift (the
    # only possible match is a window fully before the edit point)
    fixed = {r.doc_id: r for r in dd.duplicate_chunk_stats(
        df, window=16).collect()}
    assert cdc[1].n_dup_chunks > fixed[1].n_dup_chunks


def test_merge_upsert_semantics(spark):
    from flink_kafka_table_api_spark.operators.relational import merge_upsert
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    upd = spark.createDataFrame(
        [(2, None, 99.0),        # partial update: name stays "b"
         (4, "d", 40.0)],        # insert
        "k long, name string, bal double",
    )
    got = {r.k: (r.name, r.bal)
           for r in merge_upsert(base, upd, key_cols=("k",)).collect()}
    assert got == {1: ("a", 10.0), 2: ("b", 99.0),
                   3: ("c", 30.0), 4: ("d", 40.0)}
    # update column not in base -> loud error
    bad = spark.createDataFrame([(1, "x")], "k long, nope string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="nope"):
        merge_upsert(base, bad, key_cols=("k",))


def test_fix_encoding_repairs_each_pair(spark):
    from flink_kafka_table_api_spark.operators.text import (
        MOJIBAKE_PAIRS,
        fix_encoding,
    )
    broken = " ".join(b for b, _ in MOJIBAKE_PAIRS)
    expected = " ".join(f for _, f in MOJIBAKE_PAIRS)
    df = spark.createDataFrame([(broken,)], "text string")
    got = df.select(fix_encoding("text").alias("t")).collect()[0].t
    assert got == expected
    # already-clean text is untouched
    df2 = spark.createDataFrame([("it’s fine — café",)], "text string")
    assert df2.select(fix_encoding("text").alias("t")).collect()[0].t == \
        "it’s fine — café"


def test_merge_upsert_duplicate_update_keys_fail_loudly(spark):
    from flink_kafka_table_api_spark.operators.relational import merge_upsert
    base = spark.createDataFrame([(1, "a")], "k long, name string")
    dup = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k long, name string"
    )
    import pytest as _pytest
    with _pytest.raises(Exception, match="multiple update rows"):
        merge_upsert(base, dup, key_cols=("k",)).collect()


def test_top_k_per_group_agg_matches_window(spark):
    """The hash-aggregate top-k (collect_list -> sort_array -> slice) must
    produce bit-identical rows AND ranks to the row_number window for the
    (value desc/asc, unique tie asc) contract, including duplicate values
    and negative ties."""
    import random

    from flink_kafka_table_api_spark.operators.relational import (
        top_k_per_group,
        top_k_per_group_agg,
    )

    random.seed(11)
    rows = [
        (g, float(random.choice([1.5, 2.5, 2.5, 7.0, -3.25])), i)
        for i, g in enumerate(random.choices(range(6), k=200))
    ]
    df = spark.createDataFrame(rows, "g int, v double, id long")
    for descending in (True, False):
        order = [
            F.col("v").desc() if descending else F.col("v").asc(),
            F.col("id").asc(),
        ]
        want = {
            (r.g, r.v, r.id, r.rn)
            for r in top_k_per_group(df, ["g"], order, k=3).collect()
        }
        got = {
            (r.g, r.v, r.id, r.rn)
            for r in top_k_per_group_agg(
                df, ["g"], "v", "id", k=3, descending=descending
            ).collect()
        }
        assert got == want, f"descending={descending}"
    # extra non-projected columns are refused, not silently dropped
    import pytest as _pytest
    with _pytest.raises(ValueError, match="project first"):
        top_k_per_group_agg(
            df.withColumn("extra", F.lit(1)), ["g"], "v", "id", k=3)


def test_substring_dup_stats_hand_checked(spark):
    """ExactSubstr windowed-hash stats on a corpus small enough to check
    by hand: doc 1 and doc 2 share one verbatim 3-token run; doc 3 is
    disjoint; doc 4 repeats doc 1 entirely (every window duplicated,
    one maximal span covering the whole doc)."""
    rows = [
        (1, "a b c d e"),        # windows (k=3): abc bcd cde
        (2, "x a b c y"),        # windows: xab abc bcy -> abc dup w/ 1,4
        (3, "p q r s t"),        # no shared windows
        (4, "a b c d e"),        # exact copy of 1 -> all windows dup
        (5, "u v"),              # shorter than k -> one whole-doc window
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from flink_kafka_table_api_spark.operators.dedup import (
        substring_dup_stats,
    )

    out = {r.doc_id: r for r in
           substring_dup_stats(df, "doc_id", "text", k=3).collect()}
    # doc 1: 3 windows, only 'a b c' also occurs elsewhere (docs 2, 4) —
    # but 'b c d','c d e' are duplicated vs doc 4 too: ALL 3 dup
    assert (out[1].n_windows, out[1].n_dup_windows) == (3, 3)
    assert out[1].n_dup_spans == 1 and out[1].covered_dup_tokens == 5
    # doc 2: 3 windows, exactly the middle one duplicated; span covers 3
    assert (out[2].n_windows, out[2].n_dup_windows) == (3, 1)
    assert out[2].n_dup_spans == 1 and out[2].covered_dup_tokens == 3
    assert out[2].dup_window_fraction == 1 / 3
    # doc 3: clean
    assert out[3].n_dup_windows == 0 and out[3].covered_dup_tokens == 0
    # doc 4 mirrors doc 1
    assert (out[4].n_dup_windows, out[4].covered_dup_tokens) == (3, 5)
    # doc 5: single whole-doc window, unique -> clean; coverage capped
    assert (out[5].n_windows, out[5].n_dup_windows) == (1, 0)
    # xxhash64 production path agrees on this corpus
    fast = {r.doc_id: r for r in substring_dup_stats(
        df, "doc_id", "text", k=3, portable=False).collect()}
    assert all(
        (fast[i].n_dup_windows, fast[i].n_dup_spans,
         fast[i].covered_dup_tokens)
        == (out[i].n_dup_windows, out[i].n_dup_spans,
            out[i].covered_dup_tokens)
        for i in out
    )


def test_strip_dup_substrings_hand_checked(spark):
    """ExactSubstr removal: the canonical (first) occurrence survives,
    every other occurrence's tokens are deleted, text is rebuilt."""
    rows = [
        (1, "a b c d e"),   # canonical for every shared window
        (2, "x a b c y"),   # loses its copy of 'a b c' -> "x y"
        (3, "p q r s t"),   # untouched
        (4, "a b c d e"),   # full copy of 1 -> emptied
        (5, "u v"),         # short unique -> untouched
        (6, "u v"),         # short dup of 5 -> emptied (doc-level dedup)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from flink_kafka_table_api_spark.operators.dedup import (
        strip_dup_substrings,
    )

    out = {r.doc_id: r for r in
           strip_dup_substrings(df, "doc_id", "text", k=3).collect()}
    assert out[1].clean_text == "a b c d e" and out[1].n_removed_tokens == 0
    assert out[2].clean_text == "x y" and out[2].n_removed_tokens == 3
    assert out[3].clean_text == "p q r s t"
    assert out[4].clean_text == "" and out[4].n_kept_tokens == 0
    assert out[5].clean_text == "u v"
    assert out[6].clean_text == "" and out[6].n_removed_tokens == 2
    # removing duplicated windows leaves no duplicated k-gram behind
    # except the canonical copies themselves
    from flink_kafka_table_api_spark.operators.dedup import (
        substring_dup_stats,
    )
    clean = spark.createDataFrame(
        [(i, r.clean_text) for i, r in out.items() if r.clean_text],
        ["doc_id", "text"],
    )
    again = substring_dup_stats(clean, "doc_id", "text", k=3)
    assert again.agg(F.sum("n_dup_windows")).first()[0] == 0


def _bpe_reference(word_freqs, n_merges):
    """Tiny reference BPE (Sennrich et al. 2016), list-based greedy."""
    words = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for rank in range(n_merges):
        counts = {}
        for syms, f in words.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, r, l + r, c))
        new = {}
        for syms, f in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        words = new
    return merges


def test_bpe_train_matches_python_reference(spark):
    """BOTH bpe_train paths — the driver in-memory loop (default for
    small vocabularies) and the distributed fold loop (forced via
    driver_vocab_threshold=0) — agree with an independent reference on
    the classic Sennrich corpus plus an overlap-run word (greedy
    non-overlapping application: aaaa + (a,a) -> [aa, aa])."""
    from flink_kafka_table_api_spark.operators.text import bpe_train

    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4}
    rows = [(i, " ".join([w] * f))
            for i, (w, f) in enumerate(corpus.items())]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    want = _bpe_reference(corpus, 8)
    for thresh in (100_000, 0):  # driver path, then distributed path
        got = sorted(
            (r.rank, r.left, r.right, r.merged, r.pair_freq)
            for r in bpe_train(
                df, n_merges=8, driver_vocab_threshold=thresh
            ).collect()
        )
        assert got == want, f"threshold={thresh}"
    # sanity on the classic example: 'es'/'est' merges appear early
    merged = [m[3] for m in want]
    assert "es" in merged and "est" in merged and "aa" in merged


def test_bpe_piece_counts_conservation(spark):
    """Mass conservation under BPE: merges only fuse adjacent pieces,
    so sum(len(piece) * occurrences) over the encoded vocabulary must
    equal the total character count of all alnum token instances; and
    the corpus must actually compress (some piece longer than 1)."""
    from flink_kafka_table_api_spark.operators.text import (
        bpe_piece_counts,
        tokens,
    )

    corpus = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4}
    rows = [(i, " ".join([w] * f))
            for i, (w, f) in enumerate(corpus.items())]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bpe_piece_counts(df, n_merges=8).collect()
    total_chars = sum(len(w) * f for w, f in corpus.items())
    assert sum(len(r.piece) * r.n_occurrences for r in out) == total_chars
    # merged pieces actually appear (the corpus compresses)
    assert any(len(r.piece) > 1 for r in out)


def test_jl_project_onehot_recovers_sign_rows(spark):
    """Projecting one-hot vectors must return exactly the corresponding
    sign-matrix rows (p_j(e_i) = s_ij), and the matrix derivation is
    deterministic across calls."""
    from flink_kafka_table_api_spark.operators.similarity import (
        jl_project,
        jl_sign_matrix,
    )

    d_in, d_out = 6, 4
    signs = jl_sign_matrix(d_in, d_out)
    assert signs == jl_sign_matrix(d_in, d_out)
    assert {v for row in signs for v in row} <= {-1, 1}
    rows = [(i, [1.0 if k == i else 0.0 for k in range(d_in)])
            for i in range(d_in)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: [r[f"p{j}"] for j in range(d_out)]
           for r in jl_project(df, d_out).collect()}
    for i in range(d_in):
        assert got[i] == [float(signs[i][j]) for j in range(d_out)], i

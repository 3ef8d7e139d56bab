"""Similarity search over embedding columns (EXT scope, BASELINE.json).

Two tiers, mirroring how vector search actually scales:

- brute-force cosine top-k: exact baseline. One narrow scoring pass + a
  distributed top-k (TakeOrderedAndProject — each partition keeps k rows,
  driver merges k*partitions). Correct answer, O(n*d) work; at 100 TB this
  is the "re-rank" stage, not the entry point.
- random-hyperplane LSH buckets: the scale path. Each vector gets a p-bit
  bucket id (sign of dot product with p fixed hyperplanes); queries only
  score vectors in their own bucket, cutting candidates ~2^p-fold. The
  hyperplanes are deterministic (md5-derived), so the DuckDB oracle can
  reproduce bucket assignment exactly — and so can every executor, with no
  broadcast of model state.

Everything is Catalyst higher-order functions on array<float> columns
(functions/vector.py) — no Python UDF, no MLlib dependency.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_kafka_table_api_spark.caching import collect_once
from flink_kafka_table_api_spark.functions.vector import (
    as_double_array,
    cosine,
    cosine_lit,
    dot,
    py_cosine,
)


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1): derived
    from md5 so Python, Spark-literal and SQL-literal views all agree."""
    h = hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()
    return int(h[:8], 16) / float(1 << 31) - 1.0


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    return [
        [_plane_component(p, d) for d in range(dim)] for p in range(num_planes)
    ]


def cosine_scores(
    vectors: DataFrame,
    query: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
    score_col: str = "cosine_sim",
) -> DataFrame:
    """Score every vector against a (single-row) query via a broadcast
    nested-loop join — the right physical plan: the query side is one row,
    so no shuffle of the vector side ever happens."""
    scored = vectors.crossJoin(F.broadcast(query))
    return scored.withColumn(
        score_col,
        F.round(
            cosine(as_double_array(vec_col), as_double_array(query_vec_col)), 6
        ),
    )


def brute_force_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """Exact cosine top-k. orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heap of k, merge on driver) — no full sort, no shuffle."""
    return (
        cosine_scores(vectors, query, id_col=id_col, vec_col=vec_col,
                      query_vec_col=query_vec_col)
        .select(id_col, "cosine_sim")
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def int8_quantize(vec_col: Column | str) -> Column:
    """Symmetric int8 quantization of an array<float> vector: each component
    becomes round(x / (max|x|/127)) as a long. The per-vector scale cancels
    in cosine similarity, so quantized search needs no scale column at all —
    and every downstream accumulation (dot, norm^2) is exact 64-bit integer
    arithmetic: deterministic under ANY aggregation order, which is why the
    quantized path needs none of the decimal-sum portability machinery."""
    v = as_double_array(vec_col)
    amax = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = amax / F.lit(127.0)
    return F.when(
        scale == 0, F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(F.transform(v, lambda x: F.round(x / scale).cast("long")))


def int8_quantize_py(vec: list[float]) -> list[int]:
    """Driver-side :func:`int8_quantize`, element-equal to it: the same
    max|x| / 127 scale and Spark's HALF_UP rounding of the exact double
    (``Decimal``; Python's ``round`` rounds half to even)."""
    amax = 0.0
    for x in vec:
        amax = max(amax, abs(x))
    scale = amax / 127.0
    if scale == 0:
        return [0] * len(vec)
    return [int(Decimal(x / scale).to_integral_value(ROUND_HALF_UP))
            for x in vec]


def int8_quantize_sql(vec_expr: str) -> str:
    """DuckDB rendering of :func:`int8_quantize`."""
    amax = (f"list_aggregate(list_transform({vec_expr},"
            f" x -> abs(CAST(x AS DOUBLE))), 'max')")
    return (
        f"CASE WHEN {amax} = 0 THEN list_transform({vec_expr}, x -> 0::BIGINT)"
        f" ELSE list_transform({vec_expr},"
        f" x -> CAST(round(CAST(x AS DOUBLE) / ({amax} / 127.0)) AS BIGINT))"
        f" END"
    )


def _int_dot(qa: Column, qb: Column) -> Column:
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )


def _int_norm(q: Column) -> Column:
    return F.sqrt(
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x * x)
        .cast("double")
    )


def int_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over two array<long> quantized vectors: exact integer dot and
    squared norms, one double division at the end."""
    return _int_dot(qa, qb).cast("double") / (_int_norm(qa) * _int_norm(qb))


def int_cosine_lit(qa: Column, qb: list[int]) -> Column:
    """:func:`int_cosine` against a driver-side quantized vector, passed as
    an array<long> literal with its norm computed here once (exact integer
    sum, then the same long->double rounding and sqrt as the executors)."""
    return _int_dot(qa, F.lit(np.asarray(qb, dtype=np.int64))).cast(
        "double"
    ) / (_int_norm(qa) * F.lit(math.sqrt(float(sum(x * x for x in qb)))))


def int_cosine_sql(a: str, b: str) -> str:
    idot = (f"list_aggregate(list_transform(list_zip({a}, {b}),"
            f" p -> p[1] * p[2]), 'sum')")
    na = (f"sqrt(CAST(list_aggregate(list_transform({a}, x -> x * x),"
          f" 'sum') AS DOUBLE))")
    nb = (f"sqrt(CAST(list_aggregate(list_transform({b}, x -> x * x),"
          f" 'sum') AS DOUBLE))")
    return f"(CAST({idot} AS DOUBLE) / ({na} * {nb}))"


def quantized_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors — the
    memory-bound scale path: a 100 TB float32 corpus becomes ~25 TB of
    int8 payload (4x less scan + shuffle + cache), at the cost of
    quantization error in the ranking. Same physical plan as the exact
    path (broadcast 1-row query, TakeOrderedAndProject); at production
    scale the quantized column is materialized at ingest so the scan never
    touches the float vectors. Recall vs brute force is pinned in
    tests/test_operators.py."""
    qv = vectors.select(
        F.col(id_col), int8_quantize(vec_col).alias("__qv")
    )
    qq = query.select(int8_quantize(query_vec_col).alias("__qq"))
    return (
        qv.crossJoin(F.broadcast(qq))
        .select(
            id_col,
            F.round(int_cosine(F.col("__qv"), F.col("__qq")), 6)
            .alias("q_cosine_sim"),
        )
        .orderBy(F.col("q_cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training hard-negative mining: for every anchor vector,
    the ``k`` most cosine-similar vectors with a DIFFERENT label — the
    near-misses that make the strongest negatives for embedding/reranker
    training (harder than random negatives, cheaper than full in-batch
    mining).

    Shape: the anchor set is small by construction (one per class /
    sampled), so it broadcasts into a nested-loop scoring join — the
    corpus never shuffles for scoring; the per-anchor top-k is a window
    over anchor-partitioned candidates (TakeOrdered semantics per anchor).
    At true scale, route each anchor through the IVF index first (ivf_
    search) and mine negatives from the probed partitions only — this
    exact-scoring variant is the oracle-checkable baseline of that path.
    Ties resolve by ascending candidate id, so results are deterministic.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        as_double_array(vec_col).alias("__av"),
    )
    cand = vectors.select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("__cl"),
        as_double_array(vec_col).alias("__cv"),
    )
    scored = (
        cand.crossJoin(F.broadcast(a))
        .filter(F.col("__cl") != F.col("anchor_label"))
        .withColumn(
            "cosine_sim",
            F.round(cosine(F.col("__cv"), F.col("__av")), 6),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine_sim").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("anchor_id", "negative_id", "cosine_sim",
                F.col("__rk").cast("int").alias("rank"))
    )


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """p-bit signed-projection bucket id for an array<float> vector column."""
    v = as_double_array(vec_col)
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(dot(v, plane_lit) > 0,
                                 F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB rendering of :func:`lsh_bucket` (identical dot-product order)."""
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        d = (f"list_aggregate(list_transform(list_zip({vec_expr}, {lit}),"
             f" pr -> CAST(pr[1] AS DOUBLE) * CAST(pr[2] AS DOUBLE)), 'sum')")
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"


def lsh_topk(
    vectors: DataFrame,
    query: DataFrame,
    k: int,
    *,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the query's LSH bucket.
    At scale, write vectors partitioned/bucketed by this bucket id so the
    filter becomes partition pruning at the scan."""
    bucketed = vectors.withColumn("__bucket", lsh_bucket(F.col(vec_col), planes))
    q = query.withColumn("__qbucket", lsh_bucket(F.col(query_vec_col), planes))
    candidates = bucketed.join(
        F.broadcast(q), F.col("__bucket") == F.col("__qbucket"), "inner"
    )
    return (
        candidates.withColumn(
            "cosine_sim",
            F.round(cosine(as_double_array(vec_col),
                           as_double_array(query_vec_col)), 6),
        )
        .select(id_col, "cosine_sim")
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (min_by over a broadcast centroid table). The inverted-file structure at
    scale: write vectors partitioned by cluster so a query scans only its
    cluster's partitions."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__dist",
        1 - cosine(as_double_array(vec_col), as_double_array(centroid_vec)),
    )
    return scored.groupBy(id_col).agg(
        F.min_by(centroid_id, F.col("__dist")).alias("cluster")
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """IVF search: route the query to its nearest centroid, scan only that
    cluster, exact re-rank. nprobe=1 here; raising nprobe = union of the
    next-nearest clusters (same plan shape)."""
    assign = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    q_assign = ivf_assign(
        query.withColumn("__qid", F.lit(0)), centroids,
        id_col="__qid", vec_col=query_vec_col,
    ).select(F.col("cluster").alias("__qcluster"))
    cluster_members = vectors.join(assign, id_col).join(
        F.broadcast(q_assign), F.col("cluster") == F.col("__qcluster")
    )
    return (
        cluster_members.crossJoin(F.broadcast(query))
        .withColumn(
            "cosine_sim",
            F.round(cosine(as_double_array(vec_col),
                           as_double_array(query_vec_col)), 6),
        )
        .select(id_col, "cosine_sim")
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_build_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the inverted file: ONE full assignment pass, written as
    parquet partitioned by ``cluster``. This is the faiss ``add`` step —
    paid once at ingest, amortized over every query. At 100 TB the index
    is just a partitioned table; each query then touches 1/k of the data
    via partition pruning instead of re-assigning the whole corpus
    (the round-1 anti-pattern this replaces). The index also materializes
    the int8-quantized vector (``qe``, array<tinyint> — 4x smaller than the
    float column) so quantized search never touches the float payload."""
    assign = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    (
        vectors.join(assign, id_col)
        .withColumn("qe", int8_quantize(vec_col).cast("array<tinyint>"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )


def ivf_append(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign ONLY the delta to clusters and
    APPEND into the partitioned index — the faiss ``add``-after-train
    posture. Cost is O(|delta| * k) assignment + a write that touches only
    the delta's cluster partitions; the existing index files are never
    rewritten, so ingest can run continuously while queries keep pruning.
    Centroids stay fixed (retrain + full rebuild only when drift warrants
    it — a policy decision, not a per-append cost)."""
    assign = ivf_assign(new_vectors, centroids, id_col=id_col, vec_col=vec_col)
    (
        new_vectors.join(assign, id_col)
        .withColumn("qe", int8_quantize(vec_col).cast("array<tinyint>"))
        .write.mode("append")
        .partitionBy("cluster")
        .parquet(path)
    )


def _query_vector(query: DataFrame, query_vec_col: str) -> list[float] | None:
    """The one query vector of ``query`` as driver floats (collected once
    per DataFrame object); None for an empty query. Several rows raise:
    every IVF request scores exactly one query."""
    rows = collect_once(query)
    if len(rows) > 1:
        raise ValueError(f"IVF query must have one row, got {len(rows)}")
    return [float(x) for x in rows[0][query_vec_col]] if rows else None


def ivf_route(
    centroids: DataFrame,
    query: DataFrame,
    *,
    query_vec_col: str = "q_embedding",
    nprobe: int = 1,
) -> list[int]:
    """Route a query to its ``nprobe`` nearest centroids — a driver-side
    decision over k rows (the centroid table is tiny by construction).
    Both inputs are collected once per DataFrame object
    (:func:`caching.collect_once`), so a request against a centroid
    handle already routed runs one small job for the query and none for
    the centroids. Distance is 1 - cosine with the executors' exact
    accumulation order (:func:`py_cosine`), ordered like Spark's
    ``orderBy(dist, c_id)``: ties go to the lower ``c_id``, NaN (a
    zero-norm vector) sorts last. Returning plain ints lets the caller
    write a LITERAL partition filter, which Catalyst turns into static
    partition pruning at the scan. An empty query routes nowhere ([]); a
    query with several rows raises ValueError."""
    q = _query_vector(query, query_vec_col)
    if q is None:
        return []
    scored = []
    for r in collect_once(centroids):
        d = 1 - py_cosine(q, [float(x) for x in r["c_embedding"]])
        nan = math.isnan(d)
        scored.append((nan, 0.0 if nan else d, int(r["c_id"])))
    return [c_id for _, _, c_id in sorted(scored)[:nprobe]]


def ivf_topk_indexed(
    spark,
    index_path: str,
    qclusters: int | list[int],
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """IVF search against a materialized index: scan ONLY the query's
    cluster partition(s) (``PartitionFilters: [cluster IN (...)]`` in the
    plan — the scan never reads the other clusters), exact cosine re-rank,
    distributed top-k. nprobe>1 passes several cluster ids; the scan stays
    pruned, just over nprobe partitions. The query vector (collected once
    per DataFrame object, so a query already routed costs no job) is an
    array<double> LITERAL in the scoring projection — no join, no
    broadcast: collecting the result is one scan job. An empty query
    yields an empty top-k; a query with several rows raises ValueError."""
    if isinstance(qclusters, int):
        qclusters = [qclusters]
    q = _query_vector(query, query_vec_col)
    members = spark.read.parquet(index_path).filter(
        F.col("cluster").isin([int(c) for c in qclusters])
    )
    if q is None:
        members = members.filter(F.lit(False))
        score = F.lit(None).cast("double")
    else:
        score = cosine_lit(as_double_array(vec_col), q)
    return (
        members.select(id_col, F.round(score, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_topk_indexed_quantized(
    spark,
    index_path: str,
    qclusters: int | list[int],
    query: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """IVF search over the index's MATERIALIZED int8 column: the pruned
    partition scan reads (id, qe) only — never the float vectors — so the
    per-query I/O is nprobe/k of the corpus AND 4x smaller per row. The
    query vector is quantized once on the driver
    (:func:`int8_quantize_py`) and scored as an array<long> literal; the
    arithmetic is exact integer (see :func:`int_cosine`). This composes
    the two orthogonal scale levers: partition pruning cuts which rows are
    read, quantization cuts how many bytes each row costs. Query rows as
    in :func:`ivf_topk_indexed`."""
    if isinstance(qclusters, int):
        qclusters = [qclusters]
    q = _query_vector(query, query_vec_col)
    members = (
        spark.read.parquet(index_path)
        .filter(F.col("cluster").isin([int(c) for c in qclusters]))
        .select(F.col(id_col), F.col("qe").cast("array<long>").alias("__qv"))
    )
    if q is None:
        members = members.filter(F.lit(False))
        score = F.lit(None).cast("double")
    else:
        score = int_cosine_lit(F.col("__qv"), int8_quantize_py(q))
    return (
        members.select(id_col, F.round(score, 6).alias("q_cosine_sim"))
        .orderBy(F.col("q_cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def kmeans_lloyd(
    vectors: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the IVF
    centroid-training step (what `faiss.train` does before `ivf_assign` /
    `ivf_topk` can route queries). Cosine geometry to match `ivf_assign`.

    Iterative-algorithm shape on Spark: per iteration one narrow
    assignment pass (centroids broadcast as literals — k*d doubles, tiny)
    + one partial-aggregated shuffle keyed by (cluster, dim) to compute the
    elementwise means; only k*d aggregated doubles ever reach the driver.
    At 100 TB run the iterations on a ~1% hash-sample (standard practice —
    centroid quality converges long before full-corpus statistics), then do
    ONE full assignment pass; the sample keeps per-iteration cost flat.

    Deterministic init: the k vectors minimizing the md5 hash of their id
    (an unbiased, engine-independent pseudo-random draw). Returns
    (c_id, c_embedding array<double>, n_members) for the LAST iteration's
    assignment.
    """
    from flink_kafka_table_api_spark.functions.portable import portable_hash64

    spark = vectors.sparkSession
    df = vectors.select(
        F.col(id_col), as_double_array(vec_col).alias("__v")
    ).persist()
    seeds = (
        df.withColumn("__h", portable_hash64(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .select("__v")
        .collect()
    )
    cents = [list(r["__v"]) for r in seeds]

    def cents_df():
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "c_id int, c_embedding array<double>",
        )

    sizes: list[int] = []
    for _ in range(n_iter):
        assign = ivf_assign(
            df, cents_df(), id_col=id_col, vec_col="__v"
        )
        member_vecs = df.join(assign, id_col)
        dims = member_vecs.select(
            F.col("cluster"), F.posexplode("__v").alias("__pos", "__x")
        )
        means = (
            dims.groupBy("cluster", "__pos")
            .agg(F.avg("__x").alias("__m"), F.count("*").alias("__n"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__m"))
                    ),
                    lambda s: s["__m"],
                ).alias("c_embedding"),
                F.first("__n").alias("n_members"),
            )
            .collect()
        )
        by_cluster = {r.cluster: r for r in means}
        # empty clusters keep their previous centroid (standard Lloyd fix)
        cents = [
            list(by_cluster[i].c_embedding) if i in by_cluster else cents[i]
            for i in range(k)
        ]
        sizes = [
            int(by_cluster[i].n_members) if i in by_cluster else 0
            for i in range(k)
        ]
    df.unpersist()
    return spark.createDataFrame(
        [(i, cents[i], sizes[i]) for i in range(k)],
        "c_id int, c_embedding array<double>, n_members long",
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public recipe: Abbas et al.
    2023, "SemDeDup" — cluster embeddings, then drop within-cluster pairs
    above a cosine threshold, keeping one representative).

    Scale shape: the coarse clustering BOUNDS the pair space exactly like
    LSH banding bounds MinHash candidates — pairs are only computed within
    a cluster (sum of |cluster|^2, never corpus^2), and the greedy
    keep-lowest-id rule needs no iteration: a document is dropped iff it
    has an above-threshold neighbor with a smaller id, which the (a < b)
    pair orientation gives directly. One broadcast assignment pass + one
    blocked self-join; no driver-side state.

    Returns the KEEP list (id, cluster) — the semantic-duplicate survivors.
    """
    assign = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col
    )
    clustered = vectors.join(assign, id_col)
    pairs = neardup_pairs(
        clustered, block_col="cluster", threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )
    drops = pairs.select(F.col("b").alias(id_col)).distinct()
    return (
        clustered.join(drops, id_col, "left_anti")
        .select(id_col, "cluster")
    )


def neardup_pairs(
    vectors: DataFrame,
    *,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks (label, LSH
    bucket, ...). Same blocked self-join contract as ngram_jaccard_pairs:
    the block key bounds the pair space."""
    sets = vectors.select(
        F.col(block_col), F.col(id_col), as_double_array(vec_col).alias("__v")
    )
    a = sets.select(F.col(block_col), F.col(id_col).alias("a"), F.col("__v").alias("__va"))
    b = sets.select(F.col(block_col), F.col(id_col).alias("b"), F.col("__v").alias("__vb"))
    return (
        a.join(b, on=block_col)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine_sim", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cosine_sim") >= threshold)
        .select(block_col, "a", "b", "cosine_sim")
    )


def jl_sign_matrix(d_in: int, d_out: int) -> list[list[int]]:
    """Deterministic +-1 sign matrix for sparse-free random projection,
    derived from md5 parity of "jl:<i>:<j>" — engine-independent,
    regenerable anywhere, no RNG state. Achlioptas (JL with binary
    coins, JCSS 2003): +-1 entries satisfy the Johnson-Lindenstrauss
    lemma with the same distortion bounds as Gaussian projections."""
    import hashlib

    return [
        [
            1 if int(
                hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:15], 16
            ) % 2 == 0 else -1
            for j in range(d_out)
        ]
        for i in range(d_in)
    ]


def jl_project(
    vectors: DataFrame,
    d_out: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with the +-1 sign
    matrix: out_j = sum_i v_i * s_ij, computed as a POSITION-ORDERED
    left fold per output dimension, so the IEEE addition sequence is
    fixed and results are bit-identical on any engine replaying the same
    fold (the time_decay_score recipe — no decimal machinery, no
    rounding). The matrix is a literal (d_in x d_out ints baked into the
    plan), so the whole projection is one narrow codegen'd pass: zero
    shuffles, zero Python, embarrassingly parallel at any scale. The
    standard pre-step before LSH/clustering when raw embedding width
    dominates shuffle bytes (d_out/d_in the I/O saving; 8/64 here)."""
    d_in = len(vectors.select(vec_col).first()[0])
    signs = jl_sign_matrix(d_in, d_out)
    v = as_double_array(vec_col)
    outs = []
    for j in range(d_out):
        col_j = F.array(*[F.lit(float(signs[i][j])) for i in range(d_in)])
        outs.append(
            F.aggregate(
                F.zip_with(v, col_j, lambda x, s: x * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"p{j}")
        )
    return vectors.select(F.col(id_col), *outs)


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze, Schmid — TPAMI 2011): the third
# vector-compression tier after float32 (1x) and int8 (4x). Splitting
# d dims into m subspaces with a k-entry codebook each stores a vector
# as m small codes — 64-dim float32 (256 B) becomes 8 bytes at
# m=8, k=16 (32x) — and asymmetric-distance (ADC) search scores
# candidates from an m*k lookup table without ever touching the raw
# vectors. Codebooks are driver-side literals (m*k*(d/m) doubles, tiny),
# exactly like the IVF centroids; every per-row computation below is
# codegen'd expression algebra — zero Python, zero shuffles outside the
# training aggregates.
# ---------------------------------------------------------------------------


def _l2sq_lit(v: Column, lit_vec: list[float]) -> Column:
    """Squared L2 distance of an array column to a literal vector, as a
    left-to-right fold (deterministic accumulation order)."""
    bl = F.array(*[F.lit(float(x)) for x in lit_vec])
    return F.aggregate(
        F.zip_with(v, bl, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_code_cols(vec: Column, codebooks: list[list[list[float]]]):
    """One argmin-code Column per subspace: nearest codebook entry by
    squared L2 over that subspace's slice. Ties break toward the lower
    code id ((dist, code) struct min)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cols = []
    for j in range(m):
        sl = F.slice(vec, j * sub + 1, sub)
        cands = F.array(
            *[
                F.struct(
                    _l2sq_lit(sl, c).alias("d"),
                    F.lit(ci).alias("c"),
                )
                for ci, c in enumerate(codebooks[j])
            ]
        )
        cols.append(F.array_min(cands)["c"].alias(f"__code{j}"))
    return cols


def pq_train(
    vectors: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks: per-subspace Lloyd k-means (L2 geometry — the
    standard PQ objective; cosine-style normalization belongs upstream).
    Returns driver-side ``codebooks[m][k][d/m]``.

    Distributed shape per iteration: ONE narrow assignment pass computes
    every subspace's code in the same projection (codebooks are plan
    literals), then ONE aggregate keyed by (subspace, code, dim) folds
    the elementwise means — only m*k*(d/m) aggregated doubles reach the
    driver, never vectors. Same sample-then-assign guidance as
    kmeans_lloyd applies at 100 TB. Deterministic init: the k vectors
    minimizing the portable md5 hash of their id, sliced per subspace
    (engine- and partitioning-independent)."""
    from flink_kafka_table_api_spark.functions.portable import portable_hash64

    df = vectors.select(
        F.col(id_col), as_double_array(vec_col).alias("__v")
    ).persist()
    d = len(df.select("__v").first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m
    seeds = (
        df.withColumn("__h", portable_hash64(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .select("__v")
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need >= {k} vectors to seed {k} codes")
    codebooks = [
        [list(r["__v"][j * sub:(j + 1) * sub]) for r in seeds]
        for j in range(m)
    ]
    for _ in range(n_iter):
        coded = df.select("__v", *_pq_code_cols(F.col("__v"), codebooks))
        entries = F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub"),
                    F.col(f"__code{j}").alias("code"),
                    F.slice("__v", j * sub + 1, sub).alias("sv"),
                )
                for j in range(m)
            ]
        )
        dims = (
            coded.select(F.explode(entries).alias("e"))
            .select("e.sub", "e.code", F.posexplode("e.sv").alias("pos", "x"))
        )
        means = (
            dims.groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mn"))
            .collect()
        )
        by_cell: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_cell.setdefault((r.sub, r.code), {})[r.pos] = r.mn
        codebooks = [
            [
                [by_cell[(j, c)][p] for p in range(sub)]
                if (j, c) in by_cell
                else codebooks[j][c]  # empty cell keeps prior centroid
                for c in range(k)
            ]
            for j in range(m)
        ]
    df.unpersist()
    return codebooks


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as its m nearest-codebook-entry codes:
    (id_col, codes array<int>) — the m-byte row a PQ index materializes
    at ingest so search never reads the raw vectors."""
    v = as_double_array(vec_col)
    code_cols = _pq_code_cols(v, codebooks)
    tmp = vectors.select(F.col(id_col), *code_cols)
    m = len(codebooks)
    return tmp.select(
        id_col,
        F.array(*[F.col(f"__code{j}") for j in range(m)]).alias("codes"),
    )


def pq_reconstruct(
    codes: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Decode codes back to the quantized vector (array<double>): per
    subspace a literal-2D-array lookup, flattened. Pure expression
    algebra — usable inside any projection."""
    parts = []
    for j, cb in enumerate(codebooks):
        lit2d = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in cb]
        )
        parts.append(F.element_at(lit2d, F.element_at(codes, j + 1) + 1))
    return F.flatten(F.array(*parts))


def pq_adc_distance(
    codes: Column,
    codebooks: list[list[list[float]]],
    query: list[float],
) -> Column:
    """Asymmetric-distance (ADC): squared L2 from the RAW query to each
    vector's reconstruction, computed as m lookup-table reads — the
    tables (lut[j][c] = l2sq(query_sub_j, codebooks[j][c])) are
    driver-computed literals, so scoring a candidate costs m array
    lookups + m-1 adds, independent of d."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    acc = None
    for j in range(m):
        qs = query[j * sub:(j + 1) * sub]
        lut = [
            sum((qx - cx) ** 2 for qx, cx in zip(qs, c))
            for c in codebooks[j]
        ]
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in lut]),
            F.element_at(codes, j + 1) + 1,
        )
        acc = term if acc is None else acc + term
    return acc


def pq_search(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by ADC over the encoded table: one narrow LUT-scoring pass
    + TakeOrdered — the scan reads m-byte code rows, never raw vectors
    (the 32x I/O lever at 100 TB); compose with the IVF partition
    pruning for IVFPQ."""
    return (
        encoded.select(
            id_col,
            F.round(
                pq_adc_distance(F.col("codes"), codebooks, query), 6
            ).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_codes_col(
    vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Expression form of :func:`pq_encode`: the array<int> of per-
    subspace argmin codes for an arbitrary array column — usable inside
    any projection (the index build encodes RESIDUALS through this)."""
    return F.array(*_pq_code_cols(vec, codebooks))


def ivf_pq_train(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks on IVF RESIDUALS (v - assigned centroid) — the
    faiss IVFPQ recipe: residuals concentrate around the origin with far
    less variance than raw vectors, so the same m*k codebook budget
    spends its resolution where the data actually is. One assignment
    pass + one broadcast centroid join feed :func:`pq_train` unchanged."""
    assign = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    cent = centroids.select(
        F.col("c_id").alias("cluster"),
        as_double_array("c_embedding").alias("__cemb"),
    )
    residuals = (
        vectors.join(assign, id_col)
        .join(F.broadcast(cent), "cluster")
        .select(
            F.col(id_col),
            F.zip_with(
                as_double_array(vec_col), F.col("__cemb"),
                lambda x, c: x - c,
            ).alias("__res"),
        )
    )
    return pq_train(
        residuals, m=m, k=k, n_iter=n_iter, id_col=id_col, vec_col="__res"
    )


def ivf_pq_build_index(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVFPQ index: one assignment pass writes
    (id, pq codes) parquet partitioned by cluster — the two scale levers
    fully composed at ingest. Each row costs m bytes (codes are
    array<tinyint>; k <= 127 fits) instead of 4d for floats or d for
    int8: a query's pruned partition scan reads nprobe/k of the rows at
    1/32 the bytes per row (64-dim float32, m=8). Codes encode the
    RESIDUAL to the assigned centroid (see :func:`ivf_pq_train`)."""
    if len(codebooks[0]) > 127:
        raise ValueError("codebook size must fit array<tinyint> (k <= 127)")
    assign = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    cent = centroids.select(
        F.col("c_id").alias("cluster"),
        as_double_array("c_embedding").alias("__cemb"),
    )
    residual = F.zip_with(
        as_double_array(vec_col), F.col("__cemb"), lambda x, c: x - c
    )
    (
        vectors.join(assign, id_col)
        .join(F.broadcast(cent), "cluster")
        .select(
            F.col(id_col),
            pq_codes_col(residual, codebooks).cast("array<tinyint>")
            .alias("pq"),
            F.col("cluster"),
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )


def ivf_pq_topk(
    spark,
    index_path: str,
    centroids_by_id: dict[int, list[float]],
    codebooks: list[list[list[float]]],
    qclusters: int | list[int],
    query: list[float],
    k: int,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFPQ search: for each probed cluster a PARTITION-PRUNED scan of
    (id, pq) rows scored by ADC against that cluster's residual query
    (query - centroid_c; per-cluster LUTs are driver literals, m*k
    doubles each), unioned and TakeOrdered. The scan never reads float
    vectors — nprobe/k of the rows at m bytes each, the full 100 TB
    composition. Exact re-rank of the survivors against raw vectors is
    the standard optional third stage (ivf_topk_indexed provides it)."""
    if isinstance(qclusters, int):
        qclusters = [qclusters]
    parts = []
    for c in qclusters:
        qres = [q - cc for q, cc in zip(query, centroids_by_id[int(c)])]
        scan = (
            spark.read.parquet(index_path)
            .filter(F.col("cluster") == int(c))
            .select(F.col(id_col), F.col("pq").cast("array<int>").alias("pq"))
        )
        parts.append(
            scan.select(
                id_col,
                F.round(
                    pq_adc_distance(F.col("pq"), codebooks, qres), 6
                ).alias("adc_dist"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    ).limit(k)


def cluster_silhouette(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette audit of a coarse
    clustering (Rousseeuw 1987's silhouette with the medoid distances
    replaced by centroid distances — the O(n*k) variant large-scale
    clustering evaluation uses, e.g. Hruschka et al.'s simplified
    silhouette; the O(n^2) pairwise original is exactly what cannot run
    at corpus scale): per vector, a = cosine distance to its assigned
    (nearest) centroid, b = distance to the second-nearest, and
    s = (b - a) / max(a, b) in [-1, 1]. Near-0 or negative means the
    vector sits between clusters — the IVF-quality / nprobe-tuning
    signal that tells you whether partition-pruned ANN search will lose
    recall.

    Returns one row per cluster: (cluster, n_vectors, mean_silhouette,
    min_silhouette, max_silhouette). Distances round(6) BEFORE the
    (dist, centroid_id)-ordered nearest-two selection so both engines
    pick identical neighbors; the per-cluster mean accumulates in
    vec_id order (ordered fold, the char_entropy recipe), min/max are
    order-free.

    Scale shape: one broadcast crossJoin against the k-row centroid
    table (k is small by construction — the ann_ivf coarse level), one
    vec_id-keyed aggregate to pick the nearest two, one cluster-keyed
    aggregate. O(n*k) work, no pair space, no Python."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(centroid_id).alias("__cid"),
        F.round(
            F.lit(1.0)
            - cosine(
                as_double_array(vec_col), as_double_array(centroid_vec)
            ),
            6,
        ).alias("__dist"),
    )
    two = scored.groupBy(id_col).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__dist").alias("dist"),
                        F.col("__cid").alias("cid"),
                    )
                )
            ),
            1,
            2,
        ).alias("__nn")
    )
    # F.get (not []) so a single-centroid table yields NULL for the
    # second-nearest instead of an ANSI array-index error; the NULL
    # propagates to a NULL silhouette — surfaced, never fabricated
    per_vec = two.select(
        F.col(id_col),
        F.get("__nn", 0)["cid"].alias("cluster"),
        F.get("__nn", 0)["dist"].alias("__a"),
        F.get("__nn", 1)["dist"].alias("__b"),
    ).select(
        F.col(id_col),
        "cluster",
        F.round(
            F.when(
                F.greatest("__a", "__b") > 0,
                (F.col("__b") - F.col("__a"))
                / F.greatest("__a", "__b"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("__s"),
    )
    ordered_sum = F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("i"), F.col("__s").alias("s")
                    )
                )
            ),
            lambda st: st["s"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return per_vec.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(ordered_sum / F.count("*"), 6).alias("mean_silhouette"),
        F.min("__s").alias("min_silhouette"),
        F.max("__s").alias("max_silhouette"),
    )


def grid_density_clusters(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    cell: float = 0.1,
    min_pts: int = 5,
) -> DataFrame:
    """Grid-based density clustering over the first two embedding
    coordinates (the STING/CLIQUE family — Wang et al. VLDB'97,
    Agrawal et al. SIGMOD'98 — i.e. DBSCAN semantics quantized to a
    fixed grid): points land in square cells of side ``cell``; cells
    holding >= ``min_pts`` points are DENSE; 8-adjacent dense cells
    merge into one cluster via connected components; points in dense
    cells are core members labeled by their component, points in
    sparse cells are noise (NULL cluster). The embedding-space
    complement to the similarity family's ANN search: it finds the
    blobs nobody queried for — mode collapse in synthetic data, dense
    near-dup pockets, annotation templates.

    Determinism/exactness contract: cell coordinates are
    floor(x/cell) on the float32-widened-to-double values — a single
    IEEE division+floor, identical in both engines; cell ids pack
    (cx, cy) into one BIGINT with a 2^20 offset/2^21 stride (bounds
    asserted implicitly by the arithmetic: |cx|, |cy| < 2^20, i.e.
    coordinates within +-10^5 cell widths — generous for normalized
    embeddings); the cluster label is the component's MINIMUM cell id
    (the connected_components contract); counts are BIGINT.

    Returns one row per input point: (id, cell_x, cell_y, cell_n,
    is_core, cluster) with cluster NULL for noise.

    Scale shape: one corpus-sized (cell) count aggregate; everything
    after runs on the DENSE-CELL table, orders of magnitude smaller
    than the corpus (the er_clusters pair-graph argument); adjacency
    is an 8-offset explode + self-equi-join on packed cell id (never
    a coordinate range join); CC takes the driver union-find path
    under 2M edges, distributed min-label propagation above; the
    final point labeling is a broadcast-sized join back onto the
    points."""
    from flink_kafka_table_api_spark.operators.dedup import (
        connected_components,
    )
    from flink_kafka_table_api_spark.parallelism import ensure_parallelism

    OFF, STRIDE = 1 << 20, 1 << 21
    pts = ensure_parallelism(vectors).select(
        F.col(id_col),
        F.floor(
            F.element_at(F.col(vec_col), 1).cast("double") / F.lit(cell)
        ).cast("long").alias("cell_x"),
        F.floor(
            F.element_at(F.col(vec_col), 2).cast("double") / F.lit(cell)
        ).cast("long").alias("cell_y"),
    )
    # loud out-of-range guard (round-7 ADVICE): a coordinate beyond
    # +-2^20 cell widths would silently alias distinct cells into one
    # packed id — fail the job instead. assert_true returns NULL on
    # success; routing __cid through it keeps the check un-prunable.
    in_range = F.assert_true(
        (F.col("cell_x") >= F.lit(-OFF)) & (F.col("cell_x") < F.lit(OFF))
        & (F.col("cell_y") >= F.lit(-OFF)) & (F.col("cell_y") < F.lit(OFF)),
        F.lit(
            "grid_density_clusters: |cell coordinate| >= 2^20 — embedding "
            "outside the packed-id range; use a larger `cell` width"
        ),
    )
    pts = pts.select(
        "*",
        F.when(
            in_range.isNull(),
            (F.col("cell_x") + F.lit(OFF)) * F.lit(STRIDE)
            + F.col("cell_y") + F.lit(OFF),
        ).alias("__cid"),
    )
    from flink_kafka_table_api_spark.caching import tracked_persist

    # persisted: the dense filter, the adjacency probes AND the final
    # label join all read this cell-sized aggregate — without the cache
    # each reader recomputes the corpus-sized count
    cells = tracked_persist(
        pts.groupBy("cell_x", "cell_y", "__cid").agg(
            F.count("*").cast("long").alias("cell_n")
        )
    )
    dense = cells.filter(F.col("cell_n") >= min_pts).select(
        "cell_x", "cell_y", "__cid"
    )
    # 8-neighborhood edges between dense cells: explode the offsets on
    # one side, equi-join the packed id on the other; a < b keeps each
    # undirected edge once.
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    probes = dense.select(
        F.col("__cid").alias("a"),
        F.explode(offsets).alias("o"),
        "cell_x", "cell_y",
    ).select(
        "a",
        (
            (F.col("cell_x") + F.col("o.dx") + F.lit(OFF)) * F.lit(STRIDE)
            + F.col("cell_y") + F.col("o.dy") + F.lit(OFF)
        ).alias("b"),
    ).filter(F.col("a") < F.col("b"))
    edges = probes.join(
        dense.select(F.col("__cid").alias("b")), "b", "inner"
    ).select("a", "b")
    cc = connected_components(edges).select(
        F.col("id").alias("__cid"), F.col("cluster")
    )
    # cc is at most dense-cell-sized (often a driver-built frame whose
    # size Spark can't estimate — left alone it picks a sort-merge
    # join); broadcast is correct at any scale
    dense_labeled = dense.join(F.broadcast(cc), "__cid", "left").select(
        "__cid",
        F.coalesce("cluster", "__cid").alias("cluster"),
    )
    return (
        pts.join(
            cells.select("__cid", "cell_n"), "__cid"
        )
        .join(F.broadcast(dense_labeled), "__cid", "left")
        .select(
            F.col(id_col),
            "cell_x", "cell_y", "cell_n",
            (F.col("cell_n") >= min_pts).alias("is_core"),
            "cluster",
        )
    )


def grid_density_clusters_sql(
    *,
    cell: float = 0.1,
    min_pts: int = 5,
    src: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle for :func:`grid_density_clusters`: identical cell
    arithmetic and packing; CC by recursive-CTE transitive closure over
    the dense-cell adjacency (the er_clusters recipe — the dense-cell
    graph is tiny by construction)."""
    OFF, STRIDE = 1 << 20, 1 << 21
    return f"""
    WITH RECURSIVE pts AS (
      SELECT {id_col},
             CAST(floor(CAST({vec_col}[1] AS DOUBLE) / {cell}) AS BIGINT)
               AS cell_x,
             CAST(floor(CAST({vec_col}[2] AS DOUBLE) / {cell}) AS BIGINT)
               AS cell_y
      FROM {src}
    ),
    pts2 AS (
      SELECT *, (cell_x + {OFF}) * {STRIDE} + cell_y + {OFF} AS cid
      FROM pts
    ),
    cells AS (
      SELECT cell_x, cell_y, cid, CAST(COUNT(*) AS BIGINT) AS cell_n
      FROM pts2 GROUP BY 1, 2, 3
    ),
    dense AS (
      SELECT cell_x, cell_y, cid FROM cells WHERE cell_n >= {min_pts}
    ),
    edges AS (
      SELECT d.cid AS a,
             (d.cell_x + o.dx + {OFF}) * {STRIDE} + d.cell_y + o.dy + {OFF}
               AS b
      FROM dense d,
           (SELECT dx, dy
            FROM unnest([-1, 0, 1]) t1(dx), unnest([-1, 0, 1]) t2(dy)
            WHERE NOT (dx = 0 AND dy = 0)) o
      WHERE d.cid < (d.cell_x + o.dx + {OFF}) * {STRIDE}
                    + d.cell_y + o.dy + {OFF}
        AND EXISTS (SELECT 1 FROM dense n
                    WHERE n.cid = (d.cell_x + o.dx + {OFF}) * {STRIDE}
                                  + d.cell_y + o.dy + {OFF})
    ),
    bidir(a, b) AS (
      SELECT a, b FROM edges UNION SELECT b, a FROM edges
    ),
    reach(id, r) AS (
      SELECT DISTINCT a, a FROM bidir
      UNION
      SELECT e.b, reach.r FROM reach JOIN bidir e ON e.a = reach.id
    ),
    cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
    dl AS (
      SELECT d.cid, COALESCE(cc.cluster, d.cid) AS cluster
      FROM dense d LEFT JOIN cc ON d.cid = cc.id
    )
    SELECT p.{id_col}, p.cell_x, p.cell_y, c.cell_n,
           c.cell_n >= {min_pts} AS is_core, dl.cluster
    FROM pts2 p
    JOIN cells c ON p.cid = c.cid
    LEFT JOIN dl ON p.cid = dl.cid
    """

#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for representative queries,
with the scale property each plan is supposed to exhibit. Run from repo root:

    python scripts/dump_plans.py > PLANS.md

CAUTION: the committed PLANS.md carries ~30 sections beyond the current
SHOWCASE dict (added during the round-6 staging push with a since-trimmed
showcase list). A naive full regen LOSES them — either re-add their keys
to SHOWCASE first, or append new sections to the existing file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_kafka_table_api_spark.queries import (  # noqa: E402
    BENCH_ONLY,
    QUERIES,
    q_ann_ivf_quantized,
    q_ann_quantized,
)
from flink_kafka_table_api_spark.session import get_spark  # noqa: E402

# The ANN family consolidated into one registry slot (ann_ivf_variants)
# in round 6; the variants' individual plans are still the scale
# evidence, so resolve their showcase names to the underlying callables
# (ann_ivf itself lives on as a BENCH_ONLY twin).
RUNNABLE = {
    **QUERIES,
    **BENCH_ONLY,
    "ann_ivf_quantized": q_ann_ivf_quantized,
    "ann_quantized": q_ann_quantized,
}

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# query -> the plan property worth reading the plan for
SHOWCASE = {
    "approved_transactions": "reference pipeline: one WholeStageCodegen span, "
                             "zero Exchange, filter pushed to the parquet scan",
    "pricing_summary": "hash aggregate with map-side partial_ functions; one "
                       "key-Exchange between partial and final",
    "star_join": "all three dimension joins are BroadcastHashJoin; the fact "
                 "table is never shuffled",
    "tpch_q3_shipping": "customer(BUILDING) broadcast; one shuffle on the "
                        "order key; TakeOrderedAndProject for the top-10",
    "window_topk": "single key-Exchange + sort feeding the rank window; "
                   "filter on row_number applied before project",
    "decontaminate": "benchmark n-gram set broadcast; train side stays "
                     "un-shuffled through a BroadcastHashJoin LeftAnti",
    "stratified_sample": "no Exchange at all: hash-mod sampling is a narrow "
                         "pass over the scan",
    "pack_sequences": "two windows over __bucket partitions + a broadcast "
                      "of the (num_buckets)-row offset table — the "
                      "distributed prefix sum, no single-partition window",
    "dedup_minhash": "shingle explode is narrow; the only Exchange carries "
                     "(id, 8 longs) partial minima — map-side combined",
    "ann_bruteforce": "BroadcastNestedLoopJoin of the 1-row query vector + "
                      "TakeOrderedAndProject: no shuffle of the vector table",
    "salted_join": "the (key, salt) join key splits each hot key across 8 "
                   "reducers; the replicated right side stays small",
    "ann_ivf": "the scan reads ONLY the query's cluster partition of the "
               "materialized index — PartitionFilters: [cluster = <routed>] "
               "on the index FileScan, so the other k-1 clusters are never "
               "touched; ivf_build_index pays the assignment once at ingest "
               "(parquet partitionBy(cluster)), ivf_append maintains it "
               "incrementally, and the query routes driver-side to literal "
               "cluster ids and is scored as an array<double> literal — no "
               "join, no broadcast. At 100 TB each query scans ~nprobe/k of "
               "the corpus at the file level",
    "json_funcs": "from_json evaluated once per row inside codegen; the "
                   "aggregation shuffles only (k, partial counts)",
    "tpch_q5_local_supplier": "only orders><customer and ><lineitem shuffle; "
                              "nation/region broadcast (bounded by "
                              "construction); supplier carries no hint — "
                              "AQE broadcasts it at this scale and the "
                              "local-supplier condition rides that join as "
                              "a residual, no extra shuffle",
    "tpch_q10_returns": "quarter + returnflag filters at the scans; nation "
                        "broadcast; top-20 is TakeOrderedAndProject",
    "tpch_q19_disjunctive": "the OR-of-bands predicate is factored: each "
                            "scan's PushedFilters carries its table's "
                            "implicant of the disjunction, so the broadcast "
                            "join reads two pre-pruned slices",
    "ann_ivf_quantized": "pruned index-partition scan whose ReadSchema is "
                         "(vec_id, qe) only — the float embedding column "
                         "is never read; the query is quantized on the "
                         "driver and scored as an array<long> literal (no "
                         "join, no broadcast); integer-exact re-rank",
    "ann_quantized": "same broadcast + TakeOrderedAndProject plan as the "
                     "exact path, but scoring runs on int8-quantized "
                     "vectors — exact integer accumulation, 4x less "
                     "payload at 100 TB",
    "embedding_quantize": "single narrow parquet scan, all vector math in "
                          "codegen'd higher-order functions, one tiny "
                          "per-label aggregate Exchange — no Python",
    "time_decay_score": "one keyed shuffle into an ObjectHashAggregate "
                        "(collect_list) + codegen'd sort/fold — the "
                        "sequence-feature shape with no unpartitioned "
                        "window and no Python",
    "connector_approved": "custom Python DataSource scan (BatchEvalPython-"
                          "free: data is produced partition-parallel by the "
                          "source itself) feeding the reference pipeline",
    "tpch_q2_min_cost_supplier": "correlated min-cost subquery compiled to "
                                 "ONE Window pass over the partkey "
                                 "partition (not aggregate+self-join); "
                                 "dims broadcast; top-100 is "
                                 "TakeOrderedAndProject",
    "tpch_q9_product_profit": "6-way profit join: part name-prefix pushed "
                              "to the scan (StringStartsWith), lineitem><"
                              "partsupp co-partitioned on the derivation "
                              "key, nation broadcast",
    "tpch_q11_important_stock": "shared per-part aggregate computed once "
                                "(tracked persist, both references read "
                                "InMemoryTableScan); scalar threshold is a "
                                "1-row BroadcastNestedLoopJoin",
    "tpch_q20_promotion_stock": "both IN-subqueries lowered to LeftSemi "
                                "joins; partsupp><qty co-partitioned on "
                                "the shared (partkey, suppkey) grouping "
                                "key",
    "pii_redact": "compliance pass at scan speed: zero Exchange, zero "
                  "Python — the whole redaction chain is codegen'd "
                  "regexp_replace",
    "doc_chunks": "bounded explode (len/stride fan-out), zero Exchange, "
                  "zero Python",
    "importance_weights": "the fitted 64-row ratio table broadcasts to the "
                          "scoring join; the corpus side stays narrow "
                          "until its per-doc aggregate",
    "chunk_dedup": "chunk hashes groupBy and join back on the SAME 64-bit "
                   "hash key (co-partitioned exchanges); no text column "
                   "survives past the hash projection",
    "skyline_parts": "Pareto frontier with NO O(n^2) dominance join: "
                     "per-x min aggregate, distributed strict-prefix min "
                     "(value-range buckets + broadcast offset table), "
                     "broadcast semi-join back",
    "scd2_history": "one keyed shuffle + linear lead() per key — version "
                    "chains with no join and no driver state",
    "sentiment_lexicon": "all-integer lexicon fold in codegen: no "
                         "explode, no join, no Python, zero exchanges",
    "ts_pattern_topk": "one keyed sort builds length-L windows (bounded "
                       "following frame), z-norm + distance are codegen'd "
                       "folds, global top-k is TakeOrderedAndProject",
    "bloom_decontaminate": "the ONLY broadcast is the fixed-size Bloom "
                           "bitmap (word -> bit_or'd longs); the exact "
                           "verify equi-join carries candidate grams only "
                           "— the benchmark gram set itself is never "
                           "broadcast",
    "cdc_chunk_dedup": "content-defined chunking is pure HOF array "
                       "algebra in the scan stage (no explode until chunk "
                       "rows form); stats reuse the hash-keyed "
                       "co-partitioned groupBy+join — no text past the "
                       "60-bit chunk hash",
    "hard_negatives": "anchors broadcast into a BroadcastNestedLoopJoin "
                      "(the corpus never shuffles for scoring); per-anchor "
                      "top-k is a window over anchor partitions",
    "bigram_lm_score": "ONE partial-agg count shuffle over exploded "
                       "bigrams (prefix counts re-aggregate from the "
                       "gram-sized count table, never a second instance "
                       "scan) + one gram-keyed join carrying precomputed "
                       "probabilities; the mean is a position-ordered "
                       "fold, so no float order-sensitivity anywhere",
    "length_band_filter": "per-source exact percentile bounds aggregate "
                          "to one row per group, then broadcast back — "
                          "the corpus is scanned once and never shuffled",
    "dedup_keep_best": "the quality argmax windows over (id, cluster, "
                       "score) label tables; document text never reaches "
                       "the window sort",
    "hybrid_search": "BM25 corpus stats collapse to ONE broadcast row; "
                     "both candidate lists are TakeOrderedAndProject "
                     "(distributed top-100 + driver merge, never a "
                     "corpus-wide range sort); the row_number windows "
                     "then rank 100-row inputs",
    "heavy_hitters": "the Count-Min grid partially aggregates map-side "
                     "(shuffle carries <= depth*width cells per "
                     "partition, volume-independent); estimation is ONE "
                     "broadcast join of the exploded (probe, seed, "
                     "bucket) cells against the cached grid + a "
                     "groupBy-min fold, a single join stage at any depth",
    "tfidf": "single-shuffle shape: doc_len computed before the explode "
             "(no post-aggregation window), docfreq and n_docs derive "
             "from the persisted tf aggregate, vocabulary-sized df table "
             "broadcasts back — the exploded instances shuffle once",
    "simjoin_prefix": "rare-first prefix postings self-join with length + "
                      "PPJoin positional filters; verify is two-stage "
                      "(hashed-fingerprint prescreen in codegen, exact "
                      "string-set re-check on survivors only)",
    "hierarchy_rollup": "pointer jumping: each round is one self-"
                        "equi-join on the ancestor key + localCheckpoint "
                        "(lineage truncation — without it the plan "
                        "doubles per round); O(log depth) rounds total "
                        "vs the oracle's O(depth) recursive walk",
    "pagerank": "per round ONE equi-join of the O(nodes) rank vector "
                "against the persisted edge+degree build + one fan-in "
                "aggregate; localCheckpoint truncates the iterative "
                "lineage; the src-ordered fold is inside the aggregate, "
                "no window",
    "triangle_count": "degree-ordered orientation bounds out-degree at "
                      "O(sqrt(2m)) before the wedge self-join (the "
                      "celebrity-vertex guard); equi-joins only, the "
                      "oriented edge set persisted once (3 InMemory "
                      "reads: wedge left/right + closure semi-join); "
                      "per-node membership via ONE explode, not a "
                      "3-way union re-running the closure",
    "char_entropy": "a per-row codegen'd run-length fold over the "
                    "sorted char array: one scan, zero joins, zero "
                    "Python; the only Exchange is the single-file "
                    "testdata parallelism repartition",
    "temperature_mix": "per-source counts collapse to a driver rate "
                       "table broadcast back; the corpus itself never "
                       "shuffles — one narrow hash+explode(sequence) "
                       "projection emits the copies",
    "dup_ngram_coverage": "the whole Gopher coverage signal is ONE "
                          "codegen'd projection per row (sort + "
                          "adjacent-equality + window-union array "
                          "algebra): no key Exchange, no Generate, no "
                          "Python — composes with the scan at 100 TB",
    "label_propagation": "per round one equi-join of the O(nodes) label "
                         "vector against the persisted edge list + two "
                         "partial-agg key Exchanges (votes, then "
                         "min(struct) argmax) — never a window sort "
                         "over the vote table; localCheckpoint "
                         "truncates the iterative lineage",
    "nb_scores": "training is two keyed counting aggregates; the "
                 "(label x vocab) log-prob grid reaches the scoring "
                 "join as a BroadcastHashJoin build side — the corpus "
                 "explode is never shuffled on token, only on "
                 "(doc, label) for the ordered fold",
    "source_kl_divergence": "one explode feeding the (source, token) "
                            "count aggregate; corpus token counts and "
                            "totals DERIVE from that aggregate (no "
                            "second corpus scan); the KL fold shuffles "
                            "vocabulary-sized rows keyed by source",
    "winnowing": "no key Exchange: one narrow projection chain — gram "
                 "hashing, per-window argmin folds, distinct and "
                 "checksum all evaluate per row inside codegen (the "
                 "single RoundRobin Exchange is ensure_parallelism's "
                 "small-file spread at tiny sf, absent on a real "
                 "multi-split scan)",
    "seasonal_anomaly": "the event scan is never shuffled: two "
                        "(group, hour)-keyed aggregates with map-side "
                        "partial percentile state, each joined back "
                        "as a BroadcastHashJoin build side (the stats "
                        "table is KBs at any corpus size)",
    "link_prediction": "wedge self-join keyed on the apex node; the "
                       "(u, v) pair aggregate carries counts, not "
                       "adjacency; degree joins are AQE-sized (no "
                       "forced broadcast of the O(nodes) table); "
                       "top-k is TakeOrderedAndProject",
    "containment_pairs": "the LSH family shape: band-bucket "
                         "self-join over signatures, semi-join-pruned "
                         "shingle verify — the directional fractions "
                         "add only codegen'd projections to the "
                         "verified-pairs plan",
    "winnow_matches": "fingerprint hash self-join over the PERSISTED "
                      "_winnow_fp build (the cache boundary is "
                      "load-bearing: without it CollapseProject "
                      "inlines the per-gram md5 transform into the "
                      "Generate and the fold re-evaluates it per "
                      "window element — measured >10 min vs ~2 s at "
                      "sf0.001); the stop-fingerprint df cap is a "
                      "semi-join; the pair aggregate carries spans, "
                      "never text",
    "adamic_adar": "link_prediction's wedge shape with the apex "
                   "degree riding the adjacency row (no per-wedge "
                   "degree join); per-pair ObjectHashAggregate folds "
                   "the apex-ordered 1/ln(d) terms; anti-join "
                   "removes existing edges; top-k is "
                   "TakeOrderedAndProject",
    "lsh_recall_audit": "both inputs are the scalable pipelines "
                        "(rare-first prefix postings for ground "
                        "truth, band buckets for LSH); the audit "
                        "itself adds ONE left join of two pair "
                        "tables + a tiny 10-key banded aggregate",
    "equi_depth_bins": "ONE exact-percentile aggregate collapses the "
                       "column to an (n_bins-1)-element scalar cut "
                       "array broadcast back as a 1-row build side; "
                       "bin assignment is a codegen'd fold over the "
                       "cut array — never a global sort, never an "
                       "ntile window",
}


def main() -> None:
    spark = get_spark(app_name="fkta-plans", master="local[4]",
                      shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    print("# PLANS — physical-plan evidence for the scale claims\n")
    print(f"Generated by `scripts/dump_plans.py` at sf dir `{SF}` "
          "(plan SHAPE is sf-independent; AQE may further coalesce at "
          "runtime).\n")
    for name, why in SHOWCASE.items():
        df = RUNNABLE[name](spark, SF)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"## {name}\n")
        print(f"**Property:** {why}\n")
        print("```")
        print(plan.rstrip())
        print("```\n")
    print(STREAM_CURATION_SECTION)
    spark.stop()


# The returned DataFrame of stream_curation is just the packed-sink scan;
# the scale evidence is the PER-BATCH flow inside foreachBatch, so this
# section documents that state machine instead of a one-shot plan.
STREAM_CURATION_SECTION = """\
## stream_curation (per-batch incremental state — no full recompute)

**Property:** each micro-batch costs O(batch), never O(corpus): the new
batch's band signatures bucket-join the ACCUMULATED band index
(signatures only — k longs per indexed doc, never document text); the
doc store is read exclusively to fetch shingles for candidate pairs; the
quality gate is a stateless narrow pass over the batch; packing resumes
from a persisted running token total, making seq_id (a pure function of
the global exclusive cumulative sum) bit-identical to one full-corpus
packing run; the sink merge is marker-idempotent, so recovery replays
are no-ops.

Per-batch state transitions (streaming/curation_pipeline.py,
streaming/incremental_dedup.py):

```
batch k arrives (file-stream, availableNow, maxFilesPerTrigger=1)
  band_index   += bands(batch k)          # parquet APPEND, prior files untouched
  matches      += (new x index) u (new x new) verified pairs, tagged batch_id=k
  doc_store    += batch k                 # shingle source for FUTURE candidates
  kept          = batch k \\ newer-side(matches[batch k]) |> quality >= 0.5
  packed_sink  += pack(kept, start_offset=token_total)   # keyed, marker-committed
  token_total  += sum(n_tokens(kept))     # tiny json, the packing axis
```

Pinned by tests/test_stream_curation.py: value parity vs the single-pass
DuckDB oracle, per-batch index APPENDS (file set grows, batch-0 files
untouched), offset carry (seq_id == floor(cum_exclusive/budget) across
the batch boundary), and replay idempotence after checkpoint loss.
"""


if __name__ == "__main__":
    main()

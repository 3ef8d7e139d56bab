"""Plain-Python replay of ``curate_and_pack``'s semantics, the expected
output of ``curation_batch``.

The engine's own composed DuckDB oracle for this plan exhausts a 1 GB
memory limit on a 300-document corpus, so it cannot run once per
benchmark run. This replay follows the same definitions, stage by stage:

1. decontamination: drop every non-benchmark document that shares a
   distinct token 4-gram with a ``src19`` document (shorter documents
   contribute their whole token sequence as one gram);
2. quality gate: score = 0.4 * [10 <= tokens <= 1000] + 0.3 * stopword
   share + 0.3 * alphanumeric-character share, rounded half-up to 6
   places, kept when >= 0.5;
3. MinHash-LSH: 8 permutations of the md5-based 60-bit shingle hash,
   4 bands of 2 rows, buckets above 256 members skipped, candidates
   verified by exact 3-shingle Jaccard (rounded) >= 0.5;
4. connected components over verified pairs; each component keeps its
   smallest doc id;
5. packing: survivors in doc-id order, ``seq_id = exclusive token prefix
   sum // 256``.

The MinHash permutation constants are the engine's published hash family.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from flink_kafka_table_api_spark.functions.portable import MINHASH_MOD
from flink_kafka_table_api_spark.operators.dedup import PERM_A, PERM_B

from perfbench.gen import STOPWORDS

BENCH = "src19"
_STOP = frozenset(STOPWORDS)
_NON_ALNUM = re.compile(r"[^a-zA-Z0-9]")
_WS = re.compile(r"\s+")


def tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.strip(" ").lower()) if t]


def grams(toks: list[str], n: int) -> set[str]:
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def round6(x: float) -> float:
    """Spark's round(x, 6): half-up on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def quality(text: str) -> float:
    toks = tokens(text)
    n = len(toks)
    stop = sum(t in _STOP for t in toks) / n if n else 0.0
    alnum = len(_NON_ALNUM.sub("", text)) / len(text) if text else 0.0
    return round6((0.4 if 10 <= n <= 1000 else 0.0) + stop * 0.3 + alnum * 0.3)


def phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def lsh_pairs(docs: dict[int, str], bands=4, rows=2, cap=256,
              threshold=0.5) -> set[tuple[int, int]]:
    sh = {d: grams(tokens(t), 3) for d, t in docs.items()}
    buckets = defaultdict(list)
    for d, s in sh.items():
        hs = [phash(x) % MINHASH_MOD for x in s]
        sig = [min((h * a + b) % MINHASH_MOD for h in hs)
               for a, b in zip(PERM_A[:bands * rows], PERM_B[:bands * rows])]
        for b in range(bands):
            key = "_".join(str(v) for v in sig[b * rows:(b + 1) * rows])
            buckets[(b, phash(key))].append(d)
    cand = set()
    for members in buckets.values():
        if len(members) > cap:
            continue
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                cand.add((a, b))
    out = set()
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - inter
        if union and round6(inter / union) >= threshold:
            out.add((a, b))
    return out


def curate_and_pack(doc_id, text, source, budget: int = 256):
    """Expected (doc_id, n_tokens, seq_id) rows."""
    bench_grams = set()
    for t, s in zip(text, source):
        if s == BENCH:
            bench_grams |= grams(tokens(t), 4)
    train = {int(d): t for d, t, s in zip(doc_id, text, source)
             if s != BENCH and not (grams(tokens(t), 4) & bench_grams)}
    kept = {d: t for d, t in train.items() if quality(t) >= 0.5}
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in lsh_pairs(kept):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dropped = {x for x in parent if find(x) != x}
    rows, acc = [], 0
    for d in sorted(kept):
        if d in dropped:
            continue
        n = len(tokens(kept[d]))
        rows.append((d, n, acc // budget))
        acc += n
    return rows

"""Seeded input generators. The engine sees only the files written here.

* Transaction stream: Confluent-framed Avro ``Transaction`` payloads in
  parquet files with one ``value`` column, the shape a Kafka topic dump
  has. A file is one producer flush; files are published into the watched
  directory by atomic rename.
* Open-loop publisher (``python3 -m perfbench.gen publish <spec.json>``):
  a separate process that publishes file ``k`` at ``t0 + k * tick`` no
  matter how fast the engine drains them, and stamps each record with its
  due time.
* Document corpus for the curation job, with controlled shares of near-dup
  clusters, benchmark-contaminated documents and low-quality documents.
* Clustered embeddings for the ANN index.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.wire import TxnEncoder

CURRENCIES = np.array(["USD", "EUR", "GBP"], dtype=object)
CURRENCY_P = [0.5, 0.3, 0.2]
STATUSES = np.array(["APPROVED", "PENDING"])
MERCHANTS = np.array([f"merchant-{i:03d}" for i in range(200)], dtype=object)
CATEGORIES = (["grocery", "travel", "fuel", "dining", "retail",
                       "utilities", "health", "media", "gaming", "auto",
                       "home", "education"])
CHANNELS = ["web", "pos", "app"]
EVENT_EPOCH_MS = 1_700_000_000_000  # event-time origin of synthetic streams
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz     ", dtype=np.uint8)


@dataclass(frozen=True)
class TxnSpec:
    """Traffic dimensions of one transaction stream."""

    seed: int
    phase: int                      # distinct record ids per phase
    records_per_file: int
    cancel_share: float = 0.2       # rows the pipeline filters out
    desc_chars: int = 48            # mean description length (record size)
    desc_null_share: float = 0.25
    n_users: int = 20_000
    zipf_s: float = 0.0             # userId skew; 0 means uniform
    event_span_ms: int = 1_000      # event time covered by one file
    late_share: float = 0.0         # out-of-order records
    max_late_ms: int = 4_000        # event-time lateness, below the 5 s watermark
    redelivery_share: float = 0.0   # at-least-once duplicates of earlier records


@dataclass
class TxnFile:
    """Columns of one generated file (event times relative to the file)."""

    ids: list
    amounts: np.ndarray
    currencies: np.ndarray
    statuses: np.ndarray
    merchants: np.ndarray
    users: np.ndarray
    event_ms: np.ndarray            # absolute synthetic event time
    first_copy: np.ndarray          # False for redelivered duplicates
    descriptions: list
    categories: list
    metadata: list
    encoder: TxnEncoder = field(repr=False)


class TxnStream:
    """Deterministic file sequence: file ``k`` depends only on the spec and
    on file ``k - 1`` (the source of redeliveries)."""

    def __init__(self, spec: TxnSpec):
        self.spec = spec
        if spec.zipf_s > 0:
            w = 1.0 / np.arange(1, spec.n_users + 1) ** spec.zipf_s
            self._user_cdf = np.cumsum(w / w.sum())
        else:
            self._user_cdf = None
        pool_rng = np.random.default_rng([spec.seed, 99])
        self._text_pool = pool_rng.choice(_LETTERS, 4096).tobytes().decode()
        self._users = np.array([f"user-{i}" for i in range(spec.n_users)],
                               dtype=object)
        self._prev: TxnFile | None = None
        self._next_k = 0

    def files(self, n: int) -> list[TxnFile]:
        return [self.next_file() for _ in range(n)]

    def next_file(self) -> TxnFile:
        s = self.spec
        k = self._next_k
        self._next_k += 1
        n = s.records_per_file
        rng = np.random.default_rng([s.seed, s.phase, k])
        ids = [f"p{s.phase}s{s.seed}-{k}-{j}" for j in range(n)]
        amounts = np.round(rng.uniform(1.0, 2000.0, n), 2)
        currencies = CURRENCIES[rng.choice(3, n, p=CURRENCY_P)]
        statuses = np.where(rng.random(n) < s.cancel_share, "CANCELLED",
                            STATUSES[rng.integers(0, 2, n)]).astype(object)
        merchants = MERCHANTS[rng.integers(0, len(MERCHANTS), n)]
        if self._user_cdf is not None:
            ranks = np.searchsorted(self._user_cdf, rng.random(n))
        else:
            ranks = rng.integers(0, s.n_users, n)
        users = self._users[ranks]
        base = EVENT_EPOCH_MS + k * s.event_span_ms
        event_ms = base + rng.integers(0, s.event_span_ms, n)
        late = rng.random(n) < s.late_share
        event_ms[late] = base - rng.integers(1, s.max_late_ms, int(late.sum()))
        dlen = rng.poisson(s.desc_chars, n)
        doff = rng.integers(0, len(self._text_pool) - 512, n)
        desc_null = rng.random(n) < s.desc_null_share
        cat_idx = rng.integers(-3, len(CATEGORIES), n)
        meta_kind = rng.integers(0, 4, n)
        first_copy = np.ones(n, dtype=bool)
        prev = self._prev
        if prev is not None and s.redelivery_share > 0:
            # duplicates of the previous file whose event time is still
            # within the lateness bound, so no copy ever trails the watermark
            src = np.flatnonzero(prev.event_ms >= base - s.max_late_ms)
            dup = np.flatnonzero(rng.random(n) < s.redelivery_share)
            m = min(len(dup), len(src))
            dup, pick = dup[:m], rng.choice(src, m, replace=False)
            for j, i in zip(dup, pick):
                ids[j] = prev.ids[i]
            amounts[dup] = prev.amounts[pick]
            currencies[dup] = prev.currencies[pick]
            statuses[dup] = prev.statuses[pick]
            merchants[dup] = prev.merchants[pick]
            users[dup] = prev.users[pick]
            event_ms[dup] = prev.event_ms[pick]
            first_copy[dup] = False
        descriptions = [
            None if nul else self._text_pool[o:o + min(ln, 500)]
            for nul, o, ln in zip(desc_null, doff, dlen)
        ]
        categories = [None if c < 0 else CATEGORIES[c] for c in cat_idx]
        metadata = [
            None if mk == 0 else ({} if mk == 1 else
                                  {"channel": CHANNELS[mk - 1]})
            for mk in meta_kind
        ]
        if prev is not None and s.redelivery_share > 0:
            # a redelivery is byte-identical to the original payload
            for j, i in zip(dup, pick):
                descriptions[j] = prev.descriptions[i]
                categories[j] = prev.categories[i]
                metadata[j] = prev.metadata[i]
        enc = TxnEncoder(ids, amounts.tolist(), currencies.tolist(),
                         descriptions, merchants.tolist(), categories,
                         statuses.tolist(), users.tolist(), metadata)
        f = TxnFile(ids, amounts, currencies, statuses, merchants, users,
                    event_ms, first_copy, descriptions, categories, metadata,
                    enc)
        self._prev = f
        return f


def payloads(f: TxnFile, stamp_ms: int | None = None) -> list[bytes]:
    """Framed payloads of a file; ``stamp_ms`` overrides every record's
    event time (the open-loop passthrough stamps the due time)."""
    enc = f.encoder
    if stamp_ms is None:
        return [enc.payload(i, int(t)) for i, t in enumerate(f.event_ms)]
    return [enc.payload(i, stamp_ms) for i in range(len(f.ids))]


def write_value_file(values: list[bytes], staging: str, dest_dir: str,
                     name: str) -> None:
    """Write a one-column parquet file and publish it by atomic rename."""
    tmp = os.path.join(staging, name)
    pq.write_table(pa.table({"value": pa.array(values, pa.binary())}), tmp,
                   compression="none")
    os.rename(tmp, os.path.join(dest_dir, name))


# ---------------------------------------------------------------------------
# open-loop publisher (separate process)
# ---------------------------------------------------------------------------

def publish(spec_path: str) -> None:
    """Publish ``n_files`` files at a fixed tick. The spec JSON holds the
    TxnSpec plus ``n_files``, ``tick_ms``, ``stamp_due``, ``dest``,
    ``staging`` and ``log``. Prints ``ready`` once inputs are pre-built,
    then reads the start time (epoch ns) from stdin."""
    with open(spec_path) as fh:
        cfg = json.load(fh)
    spec = TxnSpec(**cfg["spec"])
    stream = TxnStream(spec)
    files = stream.files(cfg["n_files"])
    stamp_due = cfg["stamp_due"]
    pre = None if stamp_due else [payloads(f) for f in files]
    # the first parquet write pays pyarrow's lazy initialisation; pay it
    # before the schedule starts
    warm = os.path.join(cfg["staging"], "warm.parquet")
    pq.write_table(pa.table({"value": pa.array(payloads(files[0], 0), pa.binary())}), warm)
    os.remove(warm)
    print("ready", flush=True)
    t0_ns = int(sys.stdin.readline())
    tick_ns = cfg["tick_ms"] * 1_000_000
    published = []
    for k, f in enumerate(files):
        due = t0_ns + k * tick_ns
        delay = (due - time.time_ns()) / 1e9
        if delay > 0:
            time.sleep(delay)
        vals = payloads(f, due // 1_000_000) if stamp_due else pre[k]
        write_value_file(vals, cfg["staging"], cfg["dest"], f"live-{k:06d}.parquet")
        published.append(time.time_ns())
    with open(cfg["log"], "w") as fh:
        json.dump({"t0_ns": t0_ns, "published_ns": published}, fh)


def publisher_config(spec: TxnSpec, **kw) -> dict:
    return {"spec": asdict(spec), **kw}


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


@dataclass(frozen=True)
class CorpusSpec:
    seed: int
    n_docs: int = 2_000
    n_bench: int = 40               # 'src19' benchmark documents
    vocab: int = 60_000
    mean_tokens: int = 60
    stopword_share: float = 0.3
    near_dup_share: float = 0.15    # docs that are perturbed copies
    mutate_share: float = 0.04      # tokens replaced in a near-dup copy
    contaminated_share: float = 0.05
    low_quality_share: float = 0.1


@dataclass
class Corpus:
    doc_id: np.ndarray
    text: list
    lang: list
    source: list
    injected_pairs: list            # (original, copy) doc-id pairs


def make_corpus(spec: CorpusSpec) -> Corpus:
    rng = np.random.default_rng([spec.seed, 7])
    words = [f"w{i}x{int(v)}" for i, v in
             enumerate(rng.integers(0, 1000, spec.vocab))]

    def doc(n_tok: int) -> list[str]:
        toks = [words[i] for i in rng.integers(0, spec.vocab, n_tok)]
        # stopwords never sit next to each other, so random stopword runs
        # cannot make two unrelated documents share a 4-gram
        for pos in range(1, n_tok, 2):
            if rng.random() < 2 * spec.stopword_share:
                toks[pos] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
        return toks

    n = spec.n_docs
    bench = [doc(int(rng.integers(30, 80))) for _ in range(spec.n_bench)]
    texts: list[list[str]] = []
    injected: list[tuple[int, int]] = []
    kinds = rng.random(n)
    c1 = spec.near_dup_share
    c2 = c1 + spec.contaminated_share
    c3 = c2 + spec.low_quality_share
    for i in range(n):
        r = kinds[i]
        if r < c1 and i > 0:
            src = int(rng.integers(max(0, i - 200), i))
            toks = list(texts[src])
            for pos in np.flatnonzero(rng.random(len(toks)) < spec.mutate_share):
                toks[pos] = words[rng.integers(0, spec.vocab)]
            injected.append((src, i))
        elif r < c2:
            toks = doc(max(8, int(rng.poisson(spec.mean_tokens))))
            b = bench[rng.integers(0, len(bench))]
            at = int(rng.integers(0, len(b) - 6))
            span = b[at:at + 6]
            ins = int(rng.integers(0, len(toks)))
            toks[ins:ins] = span
        elif r < c3:
            # too short for the length band, no stopwords, punctuation-heavy
            toks = [words[j] + "!!!"
                    for j in rng.integers(0, spec.vocab, int(rng.integers(2, 8)))]
        else:
            toks = doc(max(12, int(rng.poisson(spec.mean_tokens))))
        texts.append(toks)
    all_text = [" ".join(t) for t in texts] + [" ".join(b) for b in bench]
    sources = [f"src{int(v)}" for v in rng.integers(0, 19, n)] + ["src19"] * len(bench)
    return Corpus(
        doc_id=np.arange(n + len(bench), dtype=np.int64),
        text=all_text,
        lang=["en"] * (n + len(bench)),
        source=sources,
        injected_pairs=injected,
    )


def write_corpus(c: Corpus, path: str) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(c.doc_id, pa.int64()),
        "text": pa.array(c.text, pa.string()),
        "lang": pa.array(c.lang, pa.string()),
        "source": pa.array(c.source, pa.string()),
    }), path)


# ---------------------------------------------------------------------------
# clustered embeddings
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class EmbedSpec:
    seed: int
    n_vectors: int = 2_000
    dim: int = 64
    n_clusters: int = 16
    spread: float = 1.8             # noise norm relative to unit centers


def make_embeddings(spec: EmbedSpec, n: int, stream: int):
    """``n`` vectors drawn around the spec's fixed cluster centers.
    ``stream`` separates the corpus, append batches and queries."""
    centers = np.random.default_rng([spec.seed, 0]).normal(
        size=(spec.n_clusters, spec.dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rng = np.random.default_rng([spec.seed, stream])
    lab = rng.integers(0, spec.n_clusters, n)
    vec = centers[lab] + rng.normal(scale=spec.spread / np.sqrt(spec.dim),
                                    size=(n, spec.dim))
    return centers.astype(np.float32), vec.astype(np.float32)


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "publish":
        sys.exit("usage: python3 -m perfbench.gen publish <spec.json>")
    publish(sys.argv[2])

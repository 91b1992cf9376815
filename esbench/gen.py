"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng([seed, stream])``, so
one seed gives the same values and another seed gives other values.  Parquet
is written with fixed writer settings, so the same seed also gives
byte-identical files.  The engine under test only ever reads these files.

The shapes follow the repository's fixtures (``FIXTURES.md``): ``lineitem``
and ``events`` as in the TPC-H-ish star schema, ``documents`` as token soup
over a fixed vocabulary, and ``embeddings`` as 64-dim float vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one stream id per generator, so adding a generator never shifts another's
# draws for the same seed
_STREAMS = {
    "lineitem": 1,
    "events": 2,
    "documents": 3,
    "embeddings": 4,
    "requests": 5,
    "corpus": 6,
    "corpus_vectors": 7,
    "batches": 8,
    "schedule": 9,
    "boilerplate": 10,
}

EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
LANGS = ("en", "es", "de", "fr", "zh")
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
EVENT_SPAN_S = 90 * 86400  # events spread over 90 days
SHIP_START = dt.datetime(1992, 1, 1, tzinfo=dt.timezone.utc)
SHIP_SPAN_DAYS = 7 * 365


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream]])


def _vocabulary(n: int = 4000) -> list[str]:
    """A fixed vocabulary of pronounceable lowercase words (independent of
    the seed: the seed picks which words a document uses, not the words)."""
    syl = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    words = [a + b for a in syl for b in syl] + [a + b + c for a in syl[:20] for b in syl for c in syl[:4]]
    order = np.random.default_rng(0).permutation(len(words))
    return [words[i] for i in order[:n]]


VOCAB = _vocabulary()
# Zipf-like token popularity (rank^-1.05), the shape of natural text
_VOCAB_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05
_VOCAB_P /= _VOCAB_P.sum()


def zipf_ranks(g: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws of ranks in [0, n) with P(rank r) ∝ (r + 1)^-s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return g.choice(n, size=size, p=p / p.sum())


def token_texts(g: np.random.Generator, lengths: np.ndarray) -> list[str]:
    """One space-joined token-soup string per entry of ``lengths``."""
    toks = g.choice(len(VOCAB), size=int(lengths.sum()), p=_VOCAB_P)
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(VOCAB[t] for t in toks[pos : pos + n]))
        pos += n
    return out


def write_parquet(table: pa.Table, path: str, row_groups: int = 8) -> None:
    """Write with fixed settings and several row groups, so a scan can
    split across cores."""
    rg = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rg, compression="snappy")


def lineitem(seed: int, n: int) -> pa.Table:
    g = rng(seed, "lineitem")
    n_orders = max(1, n // 4)
    orderkey = np.sort(g.integers(1, n_orders * 4, size=n))
    # linenumber: position within each order key, so (orderkey, linenumber)
    # is unique like TPC-H's primary key
    first = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, n]))
    linenumber = (np.arange(n) - run_start + 1).astype(np.int32)
    qty = g.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * g.uniform(900.0, 2100.0, size=n), 2)
    ship_ms = (
        int(SHIP_START.timestamp() * 1000)
        + g.integers(0, SHIP_SPAN_DAYS, size=n) * 86_400_000
    )
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(g.integers(1, max(2, n // 30), size=n), pa.int64()),
            "l_suppkey": pa.array(g.integers(1, max(2, n // 600), size=n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(price, pa.float64()),
            "l_discount": pa.array(np.round(g.integers(0, 11, size=n) / 100.0, 2), pa.float64()),
            "l_tax": pa.array(np.round(g.integers(0, 9, size=n) / 100.0, 2), pa.float64()),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, size=n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, size=n)]),
            "l_shipdate": pa.array(ship_ms, pa.timestamp("ms", tz="UTC")),
        }
    )


def events(seed: int, n: int) -> pa.Table:
    """Events-shaped rows with ids ``1 .. n``."""
    g = rng(seed, "events")
    ids = np.arange(1, n + 1, dtype=np.int64)
    ts_ms = int(EPOCH.timestamp() * 1000) + np.sort(g.integers(0, EVENT_SPAN_S * 1000, size=n))
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_ms, pa.timestamp("ms", tz="UTC")),
            "user_id": pa.array(g.integers(1, 5001, size=n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[g.integers(0, len(EVENT_TYPES), size=n)]),
            "value": pa.array(np.round(g.gamma(2.0, 50.0, size=n), 3), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, size=n)]),
        }
    )


def documents(seed: int, n: int) -> pa.Table:
    g = rng(seed, "documents")
    lengths = g.integers(8, 120, size=n)
    text = token_texts(g, lengths)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(1, n + 1), pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(np.array(LANGS)[g.integers(0, len(LANGS), size=n)]),
            "source": pa.array([f"src{i}" for i in g.integers(0, 10, size=n)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    g = rng(seed, "embeddings")
    labels = g.integers(0, 5, size=n)
    centers = g.normal(0.0, 1.0, size=(5, dim))
    vecs = (centers[labels] + g.normal(0.0, 0.8, size=(n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(1, n + 1), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def boilerplate(seed: int, n: int = 40) -> list[str]:
    """Shared boilerplate segments that many documents repeat."""
    g = rng(seed, "boilerplate")
    return token_texts(g, g.integers(8, 14, size=n))


def corpus_docs(
    g: np.random.Generator, ids, pool: list[str], sources: dict[int, list[str]]
) -> tuple[dict[int, list[str]], list[tuple[int, int]]]:
    """Documents for ``ids``, each a list of token segments, with planted
    structure the dedup operators must find:

    - ~6% exact copies of a source document;
    - ~6% near-duplicates: a long source document with one token replaced
      (word-3-shingle Jaccard ≈ 0.9, well above the 0.8 LSH threshold);
    - ~30% carry 1-2 segments from the shared boilerplate ``pool``.

    Sources are the documents of ``sources`` (id -> segments) and the
    earlier non-copies of this call; each is copied at most once.  Returns
    the documents and the planted pairs as (smaller id, larger id)."""
    cands = dict(sources)
    keys = list(cands)
    used: set[int] = set()
    n = len(ids)
    n_seg = g.integers(5, 10, size=n)
    seg_texts = token_texts(g, g.integers(10, 15, size=int(n_seg.sum())))
    kind = g.random(n)
    docs: dict[int, list[str]] = {}
    pairs: list[tuple[int, int]] = []
    pos = 0
    for i, doc_id in enumerate(int(x) for x in ids):
        segs = list(seg_texts[pos : pos + n_seg[i]])
        pos += n_seg[i]
        planted = False
        if len(keys) >= 20 and kind[i] < 0.12:
            src = keys[int(g.integers(0, len(keys)))]
            if src not in used and sum(len(s.split()) for s in cands[src]) >= 60:
                used.add(src)
                segs = list(cands[src])
                if kind[i] >= 0.06:
                    j = int(g.integers(0, len(segs)))
                    toks = segs[j].split()
                    toks[int(g.integers(0, len(toks)))] = "zq" + VOCAB[int(g.integers(0, len(VOCAB)))]
                    segs[j] = " ".join(toks)
                pairs.append((min(src, doc_id), max(src, doc_id)))
                planted = True
        if not planted and kind[i] > 0.7:
            for _ in range(1 + int(kind[i] > 0.9)):
                segs.insert(int(g.integers(0, len(segs) + 1)), pool[int(zipf_ranks(g, len(pool), 1)[0])])
        docs[doc_id] = segs
        if not planted:
            cands[doc_id] = segs
            keys.append(doc_id)
    return docs, pairs


def corpus_table(docs: dict[int, list[str]]) -> pa.Table:
    """The corpus rows: ``text`` joins the segments, ``source`` is an
    upper-case tag that the ingest pipeline lower-cases."""
    ids = sorted(docs)
    text = [" . ".join(docs[i]) for i in ids]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(text),
            "segments": pa.array([docs[i] for i in ids], pa.list_(pa.string())),
            "source": pa.array([f"SRC{i % 10}" for i in ids]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def planted_vectors(
    seed: int, n: int, queries: int, neighbours: int = 5, dim: int = 64
) -> tuple[pa.Table, np.ndarray, list[list[int]]]:
    """``n`` vectors of which ``queries`` anchors each have ``neighbours``
    planted close copies.  Returns the table, the query vectors (an anchor
    plus small noise) and, per query, the planted ids (anchor first)."""
    g = rng(seed, "corpus_vectors")
    vecs = g.normal(0.0, 1.0, size=(n, dim))
    anchors = g.choice(n // 2, size=queries, replace=False)
    planted: list[list[int]] = []
    slot = n - queries * neighbours
    for a in anchors:
        ids = [int(a) + 1]
        for _ in range(neighbours):
            vecs[slot] = vecs[a] + g.normal(0.0, 0.05, size=dim)
            ids.append(slot + 1)
            slot += 1
        planted.append(ids)
    qv = vecs[anchors] + g.normal(0.0, 0.05, size=(queries, dim))
    vecs = vecs.astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(1, n + 1), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    return table, qv, planted


def file_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total

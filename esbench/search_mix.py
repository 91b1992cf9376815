"""``search_mix``: short interactive requests over read-only tables.

One operation is one request, drawn in a fixed rotation over seven request
types; each type's parameters come from a seeded pool through a Zipf rank,
so popular requests repeat the way an interactive session's do.  Every
answer is checked against DuckDB over the same parquet files, numpy for kNN
and a plain-Python BM25.
"""

from __future__ import annotations

import json
import math
import os
import re

import duckdb
import numpy as np

import gen
from checks import close, same_ranking

TYPES = ("search", "match", "aggs", "esql", "knn", "bm25", "read_docs")
POOL = 24

SIZES = {
    "full": {"lineitem": 300_000, "events": 50_000, "documents": 3_000, "embeddings": 2_000, "ndjson": 3_000},
    "tiny": {"lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500, "ndjson": 400},
}

MAPPING = {
    "properties": {
        "event_id": {"type": "long"},
        "ts": {"type": "date"},
        "user_id": {"type": "long"},
        "event_type": {"type": "keyword"},
        "value": {"type": "double"},
        "props": {"type": "keyword"},
    }
}
_SPLIT = re.compile(r"[^a-z0-9]+")


def analyze(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


class SearchMix:
    name = "search_mix"
    types = TYPES

    def __init__(self, spark, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.n = SIZES[size]
        self._pools = self._draw_pools()
        self._duck = None

    # ------------------------------------------------------------ set-up
    def prepare(self, root: str, tr) -> None:
        """Generate the tables as parquet, write the NDJSON bulk files with
        the engine's ``esdocs`` sink, and open the frames and DuckDB views."""
        from pyspark.sql import functions as F

        from elasticsearch_hadoop_spark.sources import es_datasource

        os.makedirs(root, exist_ok=True)
        tables = {
            "lineitem": gen.lineitem(self.seed, self.n["lineitem"]),
            "events": gen.events(self.seed, self.n["events"]),
            "documents": gen.documents(self.seed, self.n["documents"]),
            "embeddings": gen.embeddings(self.seed, self.n["embeddings"]),
        }
        self.paths = {}
        for name, t in tables.items():
            self.paths[name] = os.path.join(root, f"{name}.parquet")
            gen.write_parquet(t, self.paths[name])
        self.frames = {k: self.spark.read.parquet(p) for k, p in self.paths.items()}
        self.ndjson = os.path.join(root, "events_bulk")
        es_datasource.register(self.spark)
        bulk = self.frames["events"].filter(F.col("event_id") <= self.n["ndjson"])
        tr.call(
            "sources.write_docs_ms",
            es_datasource.write_docs,
            bulk, self.ndjson, mode="overwrite", **{"mapping.id": "event_id"},
        )
        self.arrow_bytes = sum(t.nbytes for t in tables.values())
        self.stored_bytes = sum(gen.file_bytes(p) for p in self.paths.values())
        if self._duck is not None:
            self._duck.close()
        self._duck = duckdb.connect()
        self._duck.execute("SET TimeZone='UTC'")
        for name, p in self.paths.items():
            self._duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        self._duck.execute(
            f"CREATE VIEW bulk AS SELECT * FROM events WHERE event_id <= {self.n['ndjson']}"
        )
        emb = tables["embeddings"]
        self._vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        self._vec_ids = np.array(emb.column("vec_id").to_pylist())
        self._labels = np.array(emb.column("label").to_pylist())
        docs = tables["documents"]
        self._doc_ids = docs.column("doc_id").to_pylist()
        self._doc_toks = [analyze(t) for t in docs.column("text").to_pylist()]

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None

    # ---------------------------------------------------------- requests
    def _draw_pools(self) -> dict[str, list[dict]]:
        """Seeded request parameters.  Their ranges keep each type's cost
        about the same from seed to seed (``from`` always pages past the
        first hits; every filter keeps a similar share of rows), so a seed
        changes which requests run, not how much work the mix is.  This
        matters because a Zipf rank of 0 is a quarter of all draws: one
        cheap or costly top request would set a run's whole median."""
        g = gen.rng(self.seed, "requests")
        words = gen.VOCAB[40:600]
        day = 86_400_000
        ship0 = int(gen.SHIP_START.timestamp() * 1000)
        ev0 = int(gen.EPOCH.timestamp() * 1000)

        def iso(ms: int) -> str:
            return np.datetime64(ms, "ms").astype("datetime64[s]").astype(str).replace("T", " ")

        pools: dict[str, list[dict]] = {t: [] for t in TYPES}
        for _ in range(POOL):
            d0 = int(g.integers(0, gen.SHIP_SPAN_DAYS - 400))
            pools["search"].append({
                "flag": str(g.choice(["A", "N", "R"])),
                "status": str(g.choice(["F", "O"])),
                "d0": iso(ship0 + d0 * day),
                "d1": iso(ship0 + (d0 + int(g.integers(180, 270))) * day),
                "q0": float(g.integers(20, 31)),
                "from": int(g.choice([10, 20])),
            })
            pools["match"].append({
                "words": " ".join(g.choice(words, size=2, replace=False)),
                "lang": str(g.choice(gen.LANGS)),
                "min_chars": int(g.integers(100, 250)),
            })
            pools["aggs"].append({
                "min_value": float(np.round(g.uniform(0, 20), 1)),
                "interval": str(g.choice(["week", "month"])),
            })
            pools["esql"].append({
                "min_value": float(np.round(g.uniform(0, 25), 1)),
                "max_user": int(g.integers(2500, 5001)),
                "since": iso(ev0 + int(g.integers(0, 30)) * day),
            })
            pools["knn"].append({
                "vector": [float(x) for x in np.round(g.normal(0, 1, size=64), 4)],
                "label": int(g.integers(0, 5)),
            })
            pools["bm25"].append({"text": " ".join(g.choice(words, size=3, replace=False))})
            pools["read_docs"].append({
                "type": str(g.choice(gen.EVENT_TYPES)),
                "min_value": float(np.round(g.uniform(0, 50), 1)),
                "max_user": int(g.integers(2500, 5001)),
            })
        return pools

    def schedule(self):
        """Endless request stream: types in a fixed rotation (so every run
        has the same mix), parameters by seeded Zipf rank within a pool."""
        g = gen.rng(self.seed, "schedule")
        while True:
            ranks = gen.zipf_ranks(g, POOL, len(TYPES))
            for typ, r in zip(TYPES, ranks):
                yield typ, self._pools[typ][int(r)]

    # --------------------------------------------------------- execution
    def execute(self, typ: str, p: dict, tr):
        """Run one request through the engine; returns (rows, input docs)."""
        from pyspark.sql import functions as F

        from elasticsearch_hadoop_spark import aggs_dsl, esql, search
        from elasticsearch_hadoop_spark.sources import es_datasource

        fr = self.frames
        if typ == "search":
            body = {
                "query": {"bool": {
                    "filter": [
                        {"term": {"l_returnflag": p["flag"]}},
                        {"range": {"l_shipdate": {"gte": p["d0"], "lt": p["d1"]}}},
                        {"range": {"l_quantity": {"gte": p["q0"]}}},
                    ],
                    "must_not": [{"term": {"l_linestatus": p["status"]}}],
                }},
                "sort": [{"l_extendedprice": "desc"}, "l_orderkey", "l_linenumber"],
                "size": 10,
                "from": p["from"],
            }
            df = tr.build("search.build_ms", search.search, fr["lineitem"], body, id_col="l_orderkey")
            rows = tr.collect(df)
            return [(r.l_orderkey, r.l_linenumber, r.l_extendedprice) for r in rows], self.n["lineitem"]
        if typ == "match":
            body = {
                "query": {"bool": {
                    "must": [{"match": {"text": p["words"]}}],
                    "filter": [
                        {"term": {"lang": p["lang"]}},
                        {"range": {"n_chars": {"gte": p["min_chars"]}}},
                    ],
                }},
                "sort": [{"n_chars": "desc"}],
                "size": 10,
            }
            df = tr.build("search.build_ms", search.search, fr["documents"], body, id_col="doc_id")
            return [r.doc_id for r in tr.collect(df)], self.n["documents"]
        if typ == "aggs":
            spec = {"aggs": {"by_type": {
                "terms": {"field": "event_type"},
                "aggs": {"per": {
                    "date_histogram": {"field": "ts", "calendar_interval": p["interval"]},
                    "aggs": {
                        "avg_v": {"avg": {"field": "value"}},
                        "max_v": {"max": {"field": "value"}},
                        "users": {"cardinality": {"field": "user_id"}},
                    },
                }},
            }}}
            df = tr.build(
                "aggs_dsl.build_ms",
                lambda: aggs_dsl.compile_aggs(fr["events"].filter(F.col("value") >= p["min_value"]), spec),
            )
            rows = tr.collect(df)
            return sorted(
                (r.by_type, int(r.per.timestamp() * 1000), r.doc_count, r.avg_v, r.max_v, r.users)
                for r in rows
            ), self.n["events"]
        if typ == "esql":
            q = (
                f"FROM events | WHERE value >= {p['min_value']} AND user_id <= {p['max_user']}"
                f' AND ts >= "{p["since"]}"'
                " | STATS n = COUNT(*), total = SUM(value), top = MAX(value) BY event_type"
                " | SORT event_type"
            )
            df = tr.build("esql.build_ms", esql.esql, q, tables={"events": fr["events"]})
            rows = tr.collect(df)
            return [(r.event_type, r.n, r.total, r.top) for r in rows], self.n["events"]
        if typ == "knn":
            knn = {
                "field": "embedding", "query_vector": p["vector"], "k": 10,
                "num_candidates": 100, "filter": {"term": {"label": p["label"]}},
            }
            df = tr.build("search.build_ms", search.knn_search, fr["embeddings"], knn, tiebreaker="vec_id")
            return [(r.vec_id, r._score) for r in tr.collect(df)], self.n["embeddings"]
        if typ == "bm25":
            df = tr.build(
                "search.build_ms", search.bm25_topk, fr["documents"], "text", p["text"], k=10,
                tiebreak=["doc_id"],
            )
            return [(r.doc_id, r._score) for r in tr.collect(df)], self.n["documents"]
        if typ == "read_docs":
            def build():
                df = es_datasource.read_docs(
                    self.spark, self.ndjson, MAPPING,
                    query=json.dumps({"term": {"event_type": p["type"]}}),
                )
                df = df.filter(F.col("value") >= p["min_value"]).filter(F.col("user_id") <= p["max_user"])
                return df.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"), F.sum("user_id").alias("u")
                )

            agg = tr.build("sources.build_ms", build)
            (r,) = tr.collect(agg, "sources.read_docs_ms")
            tr.add("sources.rows", self.n["ndjson"])
            return (r.n, r.s, r.u), self.n["ndjson"]
        raise ValueError(f"unknown request type {typ!r}")

    # ------------------------------------------------------------ checks
    def expected(self, typ: str, p: dict):
        """The answer computed without the engine."""
        q = self._duck.execute
        if typ == "search":
            return [tuple(r) for r in q(
                "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem"
                " WHERE l_returnflag = ? AND l_shipdate >= CAST(? AS TIMESTAMPTZ)"
                " AND l_shipdate < CAST(? AS TIMESTAMPTZ) AND l_quantity >= ? AND l_linestatus <> ?"
                " ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10 OFFSET ?",
                [p["flag"], p["d0"] + "+00", p["d1"] + "+00", p["q0"], p["status"], p["from"]],
            ).fetchall()]
        if typ == "match":
            return [r[0] for r in q(
                "SELECT doc_id FROM documents"
                " WHERE list_has_any(regexp_split_to_array(lower(text), '[^a-z0-9]+'), ?)"
                " AND lang = ? AND n_chars >= ? ORDER BY n_chars DESC, doc_id LIMIT 10",
                [analyze(p["words"]), p["lang"], p["min_chars"]],
            ).fetchall()]
        if typ == "aggs":
            return sorted(tuple(r) for r in q(
                f"SELECT event_type, epoch_ms(date_trunc('{p['interval']}', ts)), count(*),"
                " avg(value), max(value), count(DISTINCT user_id) FROM events"
                " WHERE value >= ? GROUP BY 1, 2",
                [p["min_value"]],
            ).fetchall())
        if typ == "esql":
            return [tuple(r) for r in q(
                "SELECT event_type, count(*), sum(value), max(value) FROM events"
                " WHERE value >= ? AND user_id <= ? AND ts >= CAST(? AS TIMESTAMPTZ)"
                " GROUP BY 1 ORDER BY 1",
                [p["min_value"], p["max_user"], p["since"] + "+00"],
            ).fetchall()]
        if typ == "knn":
            qv = np.array(p["vector"], dtype=np.float64)
            mask = self._labels == p["label"]
            v = self._vecs[mask]
            cos = (v @ qv) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
            score = (1.0 + cos) / 2.0
            ids = self._vec_ids[mask]
            order = sorted(range(len(ids)), key=lambda i: (-score[i], ids[i]))[:10]
            return [(int(ids[i]), float(score[i])) for i in order]
        if typ == "bm25":
            return bm25_topk(self._doc_ids, self._doc_toks, p["text"], 10)
        if typ == "read_docs":
            n, s, u = q(
                "SELECT count(*), sum(value), sum(user_id) FROM bulk"
                " WHERE event_type = ? AND value >= ? AND user_id <= ?",
                [p["type"], p["min_value"], p["max_user"]],
            ).fetchone()
            return (n, s, u)
        raise ValueError(typ)

    def matches(self, typ: str, got, exp) -> bool:
        if typ in ("knn", "bm25"):
            return same_ranking(got, exp)
        if typ == "match":
            return got == exp
        if typ == "read_docs":
            return got[0] == exp[0] and close(got[1] or 0.0, exp[1] or 0.0) and (got[2] or 0) == (exp[2] or 0)
        if len(got) != len(exp):
            return False
        return all(
            len(g) == len(e) and all(close(a, b) if isinstance(b, float) else a == b for a, b in zip(g, e))
            for g, e in zip(got, exp)
        )

    def final_check(self) -> bool:
        return True

    def storage_ratio(self) -> float:
        return self.stored_bytes / self.arrow_bytes


def bm25_topk(ids: list[int], toks: list[list[str]], text: str, k: int,
              k1: float = 1.2, b: float = 0.75) -> list[tuple[int, float]]:
    """Lucene BM25 over pre-tokenized documents, top-k by score then id."""
    terms = analyze(text)
    uniq = list(dict.fromkeys(terms))
    n = sum(1 for t in toks if t)
    sdl = sum(len(t) for t in toks)
    df = {t: sum(1 for d in toks if t in d) for t in uniq}
    out = []
    for i, d in zip(ids, toks):
        norm = k1 * ((1.0 - b) + (b * len(d)) / (sdl / n))
        score = 0.0
        for t in uniq:
            tf = d.count(t)
            if tf:
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                score += terms.count(t) * idf * ((tf * (k1 + 1.0)) / (tf + norm))
        if score > 0:
            out.append((i, score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]

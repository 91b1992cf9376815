"""``llm_dedup``: ingest-and-dedup rounds over an LLM-style corpus kept in
the catalog.

One round of the rotation is one cycle of an LLM data pipeline, and each of
its steps is one operation:

1. ``upsert``: a bulk write through ``Catalog.write_index`` into the corpus
   index, whose index template sets a ``default_pipeline`` (so ``ingest``
   runs on every batch), on Zipf-skewed ``_id``s that favour the newest
   keys (replacing recent documents and adding new ones); then the
   read-back ``count_index``;
2. ``delete``: a bulk ``delete`` of Zipf-recent documents; then the
   read-backs ``count_index`` and a filtered ``read_index``;
3. ``exact``: exact dedup over ``read_index`` of the corpus;
4. ``minhash``: MinHash-LSH near-duplicate pairs over the corpus;
5. ``clusters``: connected components over those pairs;
6. ``segments``: global segment dedup over the corpus;
7. ``topk``: cosine top-k for query vectors with planted neighbours.

The corpus and every batch carry planted exact copies, near-duplicates and
shared boilerplate segments.  The benchmark keeps its own model of the
index and checks each read-back and every step against it in plain
Python/numpy.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from checks import close, same_ranking
from search_mix import analyze

SIZES = {
    "full": {"docs": 1_500, "upsert": 150, "delete": 40, "vectors": 2_000, "queries": 2},
    "tiny": {"docs": 300, "upsert": 40, "delete": 10, "vectors": 300, "queries": 2},
}
THRESHOLD = 0.8
K = 10
PIPELINE = [{"lowercase": {"field": "source"}}]
INDEX = "corpus"
TYPES = ("upsert", "delete", "exact", "minhash", "clusters", "segments", "topk")


def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    toks = analyze(text)
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


class LlmDedup:
    name = "llm_dedup"
    types = TYPES

    def __init__(self, spark, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.n = SIZES[size]

    # ------------------------------------------------------------ set-up
    def prepare(self, root: str, tr) -> None:
        """A fresh catalog holding the corpus index, plus the query
        vectors as parquet."""
        from elasticsearch_hadoop_spark.catalog import Catalog
        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        os.makedirs(root, exist_ok=True)
        self.g = gen.rng(self.seed, "batches")
        self.pool = gen.boilerplate(self.seed)
        self.cat = Catalog(self.spark, os.path.join(root, "catalog"))
        self.cat.put_pipeline("bench-pipe", PIPELINE)
        self.cat.put_index_template("corpus-tpl", {
            "index_patterns": ["corpus*"],
            "priority": 10,
            "template": {"settings": {"index.default_pipeline": "bench-pipe"}},
        })
        # the model: {doc_id: segments}, and the live planted pairs
        n = self.n["docs"]
        self.docs, pairs = gen.corpus_docs(gen.rng(self.seed, "corpus"), np.arange(1, n + 1), self.pool, {})
        self.planted, self.next_id = set(pairs), n + 1
        base = self.spark.createDataFrame(gen.corpus_table(self.docs).to_pandas())
        self.cat.write_index(base, INDEX, mode="overwrite", id_col="doc_id")
        tr.build("ingest.compile_ms", lambda: compile_pipeline(PIPELINE)(base))
        vectors, self.queries, self.planted_vecs = gen.planted_vectors(
            self.seed, self.n["vectors"], self.n["queries"]
        )
        path = os.path.join(root, "vectors.parquet")
        gen.write_parquet(vectors, path)
        self.vectors = self.spark.read.parquet(path)
        self.vectors_bytes = (gen.file_bytes(path), vectors.nbytes)
        vecs = np.array(vectors.column("embedding").to_pylist(), dtype=np.float64)
        ids = np.array(vectors.column("vec_id").to_pylist())
        self._topk = []
        for q in self.queries:
            cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
            order = sorted(range(len(cos)), key=lambda i: (-cos[i], ids[i]))[:K]
            self._topk.append([(int(ids[i]), float(cos[i])) for i in order])
        self._shingles: dict[str, frozenset[str]] = {}
        self._pairs: list[tuple] = []

    def close(self) -> None:
        pass

    # ---------------------------------------------------------- batches
    def schedule(self):
        """Endless rounds of the step rotation.  A generator: each round's
        batches are drawn after the previous round is applied to the
        model."""
        while True:
            batches = self._params()
            yield "upsert", batches
            yield "delete", batches
            for typ in TYPES[2:]:
                yield typ, {}

    def _params(self) -> dict:
        """The next round's batches.  Upserts replace Zipf-recent documents
        and add new ones; deletes remove Zipf-recent documents."""
        live = np.array(sorted(self.docs, reverse=True), dtype=np.int64)
        p = 1.0 / np.arange(1, len(live) + 1) ** 0.8
        n_up, n_del = self.n["upsert"], self.n["delete"]
        n_new = int(n_up * 0.4)
        picked = self.g.choice(live, size=n_up - n_new + n_del, replace=False, p=p / p.sum())
        start = self.next_id
        self.next_id = start + n_new
        up_ids = np.sort(np.concatenate([picked[: n_up - n_new], np.arange(start, start + n_new)]))
        del_ids = np.sort(picked[n_up - n_new :])
        touched = set(up_ids.tolist()) | set(del_ids.tolist())
        sources = {i: s for i, s in self.docs.items() if i not in touched}
        docs, pairs = gen.corpus_docs(self.g, up_ids, self.pool, sources)
        return {
            "upsert": gen.corpus_table(docs),
            "delete": gen.corpus_table({int(i): self.docs[int(i)] for i in del_ids}),
            "pairs": pairs,
            "min_chars": int(self.g.integers(200, 800)),
        }

    # --------------------------------------------------------- execution
    def execute(self, typ: str, p: dict, tr):
        """Run one step through the engine; returns (output, input docs):
        the batch for the writes, the vectors for ``topk``, the live
        corpus for the dedup steps."""
        from pyspark.sql import functions as F

        from elasticsearch_hadoop_spark.operators import cc, dedup, similarity

        index, cat = INDEX, self.cat
        if typ in ("upsert", "delete"):
            df = tr.build("client.batch_ms", lambda: self.spark.createDataFrame(p[typ].to_pandas()))
            tr.call("catalog.write_index_ms", cat.write_index, df, index, operation=typ, id_col="doc_id")
            tr.add("catalog.jobs_per_write", tr.last_jobs)
            if tr.enabled:
                tr.add("catalog.files_per_index", _parquet_files(cat.path(index)))
            out = {"count": tr.call("catalog.count_index_ms", cat.count_index, index)}
            if typ == "upsert":
                return out, p[typ].num_rows
            m = "catalog.read_index_ms"
            query = {"range": {"n_chars": {"gte": p["min_chars"]}}}
            df = tr.build(m, lambda: cat.read_index(index, query=query).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("chars"),
                F.count(F.when(F.col("source") == F.lower("source"), 1)).alias("lower"),
            ))
            (r,) = tr.collect(df, m)
            out["filtered"] = tuple(r)
            return out, p[typ].num_rows
        if typ == "topk":
            m = "operators.similarity_topk_ms"
            out = []
            for q in self.queries:
                df = tr.build(m, similarity.brute_force_topk, self.vectors, list(q), k=K)
                out.append([(r.vec_id, r.cosine) for r in tr.collect(df, m)])
            if tr.enabled:
                hit = sum(len({i for i, _ in got} & set(ids)) for got, ids in zip(out, self.planted_vecs))
                base = sum(len(ids) for ids in self.planted_vecs)
                tr.add("operators.knn_recall", hit / base)
                tr.add("operators.knn_base", base)
            return out, self.n["vectors"]

        if typ == "clusters":
            m = "operators.connected_components_ms"
            pairs_df = tr.build(m, self.spark.createDataFrame,
                                [(a, b) for a, b, _ in self._pairs], "id_a long, id_b long")
            # connected_components runs its convergence jobs while building
            df = tr.call(m, cc.duplicate_clusters, pairs_df, "id_a", "id_b")
            out = {r.node: (r.cluster_id, r.cluster_size, r.is_canonical) for r in tr.collect(df, m)}
            return out, len(self.docs)

        docs = tr.build("catalog.read_index_ms", cat.read_index, index, fields=["doc_id", "text", "segments"])
        if typ == "exact":
            m = "operators.exact_dedup_ms"
            df = tr.build(m, lambda: dedup.exact_dedup(docs, F.col("text"), "doc_id").select(
                "doc_id", "group_size", "is_keeper"))
            out = {r.doc_id: (r.group_size, r.is_keeper) for r in tr.collect(df, m)}
        elif typ == "minhash":
            m = "operators.minhash_lsh_ms"
            df = tr.build(m, dedup.minhash_lsh_pairs, docs, "doc_id", threshold=THRESHOLD)
            out = self._pairs = [(r.id_a, r.id_b, r.jaccard) for r in tr.collect(df, m)]
            if tr.enabled:
                found = {(a, b) for a, b, _ in out}
                tr.add("operators.pair_recall", len(found & self.planted) / max(1, len(self.planted)))
                tr.add("operators.pair_base", len(self.planted))
        elif typ == "segments":
            m = "operators.segments_global_ms"
            df = tr.build(m, lambda: dedup.dedup_segments_global(docs, "segments", "doc_id").select(
                "doc_id", "n_kept", "n_dropped",
                F.length(F.concat_ws("|", "kept_segments")).alias("kept_chars")))
            out = {r.doc_id: (r.n_kept, r.n_dropped, r.kept_chars) for r in tr.collect(df, m)}
        else:
            raise ValueError(f"unknown step {typ!r}")
        return out, len(self.docs)

    # ------------------------------------------------------------ checks
    def _apply(self, typ: str, p: dict) -> None:
        """Apply one batch to the model.  Planted pairs that lost a
        document to a replace or delete are gone, the upsert's own are new
        (they never involve the deleted documents)."""
        ids = p[typ].column("doc_id").to_pylist()
        changed = set(ids)
        self.planted = {(a, b) for a, b in self.planted if a not in changed and b not in changed}
        if typ == "upsert":
            self.planted |= set(p["pairs"])
            self.docs.update(zip(ids, p[typ].column("segments").to_pylist()))
        else:
            for i in ids:
                self.docs.pop(i)

    def _texts(self) -> dict[int, str]:
        return {i: " . ".join(s) for i, s in self.docs.items()}

    def expected(self, typ: str, p: dict):
        """What the step must return, from the model (the writes first
        apply their batch to it).  MinHash pairs and clusters are checked
        structurally in ``matches``."""
        if typ == "upsert":
            self._apply(typ, p)
            return {"count": len(self.docs)}
        if typ == "delete":
            self._apply(typ, p)
            long = [len(t) for t in self._texts().values() if len(t) >= p["min_chars"]]
            # every stored source passed the pipeline, so all are lower-case
            return {"count": len(self.docs), "filtered": (len(long), sum(long) if long else None, len(long))}
        if typ == "exact":
            texts = self._texts()
            first: dict[str, int] = {}
            count: dict[str, int] = {}
            for i in sorted(texts):
                first.setdefault(texts[i], i)
                count[texts[i]] = count.get(texts[i], 0) + 1
            return {i: (count[t], first[t] == i) for i, t in texts.items()}
        if typ == "minhash":
            return {"planted": self.planted, "texts": self._texts()}
        if typ == "clusters":
            return components(self._pairs)
        if typ == "segments":
            seen: set[str] = set()
            segments = {}
            for i in sorted(self.docs):
                kept = []
                for s in self.docs[i]:
                    if s not in seen:
                        seen.add(s)
                        kept.append(s)
                segments[i] = (len(kept), len(self.docs[i]) - len(kept), len("|".join(kept)))
            return segments
        if typ == "topk":
            return self._topk
        raise ValueError(typ)

    def _jaccard(self, texts: dict[int, str], a: int, b: int) -> float:
        for i in (a, b):
            if texts[i] not in self._shingles:
                self._shingles[texts[i]] = shingle_set(texts[i])
        sa, sb = self._shingles[texts[a]], self._shingles[texts[b]]
        return len(sa & sb) / len(sa | sb) if sa or sb else 0.0

    def matches(self, typ: str, got, exp) -> bool:
        if typ == "topk":
            return len(got) == len(exp) and all(same_ranking(g, e) for g, e in zip(got, exp))
        if typ != "minhash":
            return got == exp
        # every reported pair is a true near-duplicate with its Jaccard
        # right, and (nearly all) live planted pairs are found
        texts = exp["texts"]
        for a, b, j in got:
            if not a < b or a not in texts or b not in texts:
                return False
            true_j = self._jaccard(texts, a, b)
            if true_j < THRESHOLD or not close(j, round(true_j, 6), abs_tol=1e-6):
                return False
        found = {(a, b) for a, b, _ in got}
        return len(found & exp["planted"]) >= 0.9 * len(exp["planted"])

    def final_check(self) -> bool:
        """The corpus again, through a new Catalog over the same root."""
        from pyspark.sql import functions as F

        from elasticsearch_hadoop_spark.catalog import Catalog

        fresh = Catalog(self.spark, self.cat.root)
        docs = self.docs
        (r,) = fresh.read_index(INDEX).agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c")).collect()
        chars = sum(len(" . ".join(s)) for s in docs.values())
        return fresh.count_index(INDEX) == len(docs) and (r.n, r.c) == (len(docs), chars)

    def storage_ratio(self) -> float:
        """Bytes on disk per Arrow byte: the corpus index and the vectors."""
        live = gen.corpus_table(self.docs).nbytes
        stored = gen.file_bytes(self.cat.path(INDEX))
        return (stored + self.vectors_bytes[0]) / (live + self.vectors_bytes[1])


def components(pairs: list[tuple]) -> dict[int, tuple[int, int, bool]]:
    """node -> (min id of its component, component size, is the min)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {x: find(x) for x in list(parent)}
    size: dict[int, int] = {}
    for r in roots.values():
        size[r] = size.get(r, 0) + 1
    return {x: (r, size[r], x == r) for x, r in roots.items()}


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


"""Dedup corpus: exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
near-dup, and stateless stream dedup (driver-mandated extensions).

Every DuckDB oracle below is GENERATED from the same constants the Spark
implementation uses (operators/dedup.py MINHASH_PERMS / MINHASH_PRIME /
md5-prefix hashing), so signatures — and therefore LSH candidate sets —
are bit-for-bit identical on both sides.  That makes even the LSH pipeline
hash-checkable, not just rows-only.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.corpus import query
from elasticsearch_hadoop_spark.corpus._util import spread, tbl
from elasticsearch_hadoop_spark.operators.dedup import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    SIMHASH_BITS,
    exact_dedup,
    jaccard,
    minhash_lsh_pairs,
    minhash_signature,
    shingle_hashes,
    shingles,
    simhash_signature,
)

# ---- generated SQL fragments (DuckDB dialect) --------------------------------
_ANALYZE = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), t -> length(t) > 0)"
_SHINGLES = (
    "CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> concat({t}[i], ' ', {t}[i+1], ' ', {t}[i+2]))) "
    "ELSE CAST([] AS VARCHAR[]) END"
)
_HASH = (
    "list_transform({s}, t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) "
    f"% {MINHASH_PRIME})"
)
_SIG_ITEMS = ", ".join(
    f"list_min(list_transform(h, x -> ({a} * x + {b}) % {MINHASH_PRIME}))"
    for a, b in MINHASH_PERMS
)
_SIMHASH = " + ".join(
    "(CASE WHEN list_sum(list_transform(h, x -> CASE WHEN (x >> {j}) & 1 = 1 "
    "THEN 1 ELSE -1 END)) > 0 THEN CAST({p} AS BIGINT) ELSE 0 END)".format(j=j, p=1 << j)
    for j in range(SIMHASH_BITS)
)
_JACCARD = (
    "CAST(len(list_intersect({a}, {b})) AS DOUBLE) / "
    "len(list_distinct(list_concat({a}, {b})))"
)

_DOC_SHINGLE_CTE = f"""
WITH toks AS (
  SELECT doc_id, n_chars, {_ANALYZE.format(c='text')} AS t FROM documents
), sh AS (
  SELECT doc_id, n_chars, {_SHINGLES.format(t='t')} AS s FROM toks
), hs AS (
  SELECT doc_id, n_chars, s, {_HASH.format(s='s')} AS h FROM sh
)"""


@query(
    "dedup_exact",
    oracle=f"""
WITH norm AS (
  SELECT doc_id,
         md5(array_to_string({_ANALYZE.format(c='text')}, ' ')) AS dedup_key
  FROM documents
)
SELECT doc_id, dedup_key,
       CAST(count(*) OVER (PARTITION BY dedup_key) AS BIGINT) AS group_size,
       (doc_id = min(doc_id) OVER (PARTITION BY dedup_key)) AS is_keeper
FROM norm
ORDER BY doc_id
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup on normalized text (analyzed tokens re-joined): md5
    group key, min-id keeper.  One hash shuffle — the 100 TB baseline
    dedup."""
    d = spread(spark, tbl(spark, sf_dir, "documents"))
    from elasticsearch_hadoop_spark.functions.text import standard_analyze

    norm = F.concat_ws(" ", standard_analyze(F.col("text")))
    out = exact_dedup(d.select("doc_id", "text"), norm, "doc_id")
    return out.select(
        "doc_id",
        "dedup_key",
        F.col("group_size").cast("bigint").alias("group_size"),
        "is_keeper",
    ).orderBy("doc_id")


@query(
    "dedup_minhash_signatures",
    oracle=f"""
{_DOC_SHINGLE_CTE}
SELECT doc_id,
       array_to_string(list_transform([{_SIG_ITEMS}], x -> CAST(x AS VARCHAR)), '-') AS sig
FROM hs
WHERE len(h) > 0
ORDER BY doc_id
""",
)
def dedup_minhash_signatures(spark, sf_dir):
    """16-permutation MinHash signatures over 3-gram shingles.  The md5-
    prefix hash + frozen (a,b) constants make the DuckDB oracle reproduce
    the signature exactly — cross-engine bit-parity for the sketch.
    Serialized '-'-joined (not array<bigint>): the driver canonicalizer
    cannot hash raw list cells."""
    d = spread(spark, tbl(spark, sf_dir, "documents"))
    sh = shingles(F.col("text"))
    base = d.select("doc_id", shingle_hashes(sh).alias("h")).filter(F.size("h") > 0)
    return base.select(
        "doc_id",
        F.array_join(minhash_signature("h").cast("array<string>"), "-").alias("sig"),
    ).orderBy("doc_id")


@query(
    "dedup_minhash_lsh",
    oracle=f"""
{_DOC_SHINGLE_CTE}, sig AS (
  SELECT doc_id, s, [{_SIG_ITEMS}] AS sig FROM hs WHERE len(h) > 0
), bands AS (
  SELECT doc_id, s, bb.band AS band,
         array_to_string(list_transform(list_slice(sig, bb.band*4 + 1, bb.band*4 + 4),
                                        x -> CAST(x AS VARCHAR)), '-') AS key
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bb
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                          AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round({_JACCARD.format(a='sa.s', b='sb.s')}, 6) AS jaccard
FROM cand
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
WHERE {_JACCARD.format(a='sa.s', b='sb.s')} >= 0.8
ORDER BY id_a, id_b
""",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs (4 bands x 4 rows, Jaccard >= 0.8 verify).

    Scale path: band-bucket self-equi-join — candidates ~= true dups, never
    O(n^2).  The oracle replays the identical LSH pipeline in SQL, so this
    is a full hash-match check (collision prob at J=0.8: 1-(1-0.8^4)^4 ~ 0.93;
    recall vs brute force asserted in tests/test_dedup.py)."""
    d = spread(spark, tbl(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(d, id_col="doc_id", text_col="text").orderBy("id_a", "id_b")


@query(
    "dedup_simhash",
    oracle=f"""
{_DOC_SHINGLE_CTE}
SELECT doc_id, ({_SIMHASH}) AS simhash
FROM hs
WHERE len(h) > 0
ORDER BY doc_id
""",
)
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash signatures over shingle hashes (sign-of-bit-sums);
    bit-for-bit oracle parity via the shared md5-prefix hash."""
    d = spread(spark, tbl(spark, sf_dir, "documents"))
    sh = shingles(F.col("text"))
    base = d.select("doc_id", shingle_hashes(sh).alias("h")).filter(F.size("h") > 0)
    return base.select("doc_id", simhash_signature(F.col("h")).alias("simhash")).orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    oracle=f"""
{_DOC_SHINGLE_CTE}, sig AS (
  SELECT doc_id, n_chars, ({_SIMHASH}) AS simhash FROM hs WHERE len(h) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b
  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 32
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
""",
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: Hamming distance <= 3 within +-32-char
    length blocks.  At 100 TB the pair join is replaced by banding the
    signature bytes (same trick as MinHash-LSH); length blocking keeps the
    corpus-scale check honest and small."""
    d = spread(spark, tbl(spark, sf_dir, "documents"))
    sh = shingles(F.col("text"))
    base = (
        d.select("doc_id", "n_chars", shingle_hashes(sh).alias("h"))
        .filter(F.size("h") > 0)
        .select("doc_id", "n_chars", simhash_signature(F.col("h")).alias("simhash"))
        # both sides of the self-join reference this frame; without the
        # checkpoint Spark recomputes the shingle+md5+32-bitsum pipeline
        # twice (2 corpus scans).  Narrow (id, len, 1 long) rows — tiny.
        .localCheckpoint(eager=False)
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 32),
        )
        .withColumn(
            "hamming", F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        )
        .filter(F.col("hamming") <= 3)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
{_DOC_SHINGLE_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round({_JACCARD.format(a='a.s', b='b.s')}, 6) AS jaccard
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 32
WHERE len(a.s) > 0 AND len(b.s) > 0
  AND {_JACCARD.format(a='a.s', b='b.s')} >= 0.8
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs with length blocking — the
    brute-force correctness anchor for the LSH path (quadratic WITHIN a
    length band; production uses dedup_minhash_lsh).

    The |len_a - len_b| <= 32 length block compiles to an EQUI-join on a
    band key (band width 33 > 32, so a qualifying pair's bands differ by
    at most 1): the left side explodes into its band ± 1, the right side
    keeps its own band, and each qualifying pair meets on exactly one key
    — a hash-partitionable shuffle instead of the BroadcastNestedLoopJoin
    a raw theta-join plans, so the blocking itself scales; only the
    within-band comparison stays quadratic, which is the point of the
    anchor."""
    d = spread(spark, tbl(spark, sf_dir, "documents"))
    base = (
        d.select("doc_id", "n_chars", shingles(F.col("text")).alias("s"))
        .filter(F.size("s") > 0)
        # referenced by both join sides: checkpoint so the analyzer+shingle
        # pipeline runs once, not twice (one corpus scan instead of two)
        .localCheckpoint(eager=False)
    )
    band = F.floor(F.col("n_chars") / 33)
    a = base.select(
        F.col("doc_id").alias("id_a"),
        F.col("n_chars").alias("len_a"),
        F.col("s").alias("s_a"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    b = base.select(
        F.col("doc_id").alias("id_b"),
        F.col("n_chars").alias("len_b"),
        F.col("s").alias("s_b"),
        band.alias("band"),
    )
    return (
        a.join(b, "band")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 32)
        )
        .withColumn("jaccard", jaccard(F.col("s_a"), F.col("s_b")))
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
ORDER BY id_a, id_b
""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the IVF-style
    cell: compare only within a coarse partition — at 100 TB the label is
    a k-means cell id, see operators/similarity.py)."""
    from elasticsearch_hadoop_spark.functions.similarity import cosine_similarity

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("cosine", cosine_similarity(F.col("a.v"), F.col("b.v")))
        .filter(F.col("cosine") >= 0.4)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.label").alias("label"),
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_events_first",
    oracle="""
SELECT event_id, user_id, event_type
FROM (
  SELECT event_id, user_id, event_type,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY event_id
""",
)
def dedup_events_first(spark, sf_dir):
    """Keyed keep-first dedup (deterministic dropDuplicates): first event
    per (user_id, event_type) by time.  The batch twin of streaming
    dropDuplicates-with-watermark (corpus/streaming_batch.py)."""
    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


@query(
    "dedup_cluster_components",
    oracle="""
WITH RECURSIVE doc_ids AS (
  SELECT doc_id FROM documents
), cand AS (
  SELECT doc_id AS u, doc_id + 1 AS v FROM doc_ids
  WHERE doc_id % 10 < 9 AND (doc_id // 10) % 3 = 0
), edges AS (
  SELECT c.u, c.v FROM cand c JOIN doc_ids d ON d.doc_id = c.v
), bidir AS (
  SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
), reach(node, lbl) AS (
  SELECT u AS node, u AS lbl FROM bidir
  UNION
  SELECT b.u AS node, r.lbl FROM bidir b JOIN reach r ON r.node = b.v
), cc AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT node, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       node = cluster_id AS is_canonical
FROM cc
ORDER BY node
""",
)
def dedup_cluster_components(spark, sf_dir):
    """Duplicate clustering: connected components over a candidate-pair
    graph (operators/cc.py — the transitive-closure stage after LSH pair
    generation; A~B, B~C => one cluster even though A~C never collided).
    Edges here are deterministic consecutive-id chains (up to 10 nodes, so
    min-label propagation genuinely iterates — 4 rounds + 1 confirming
    with pointer jumping, ~9 without; a single-hop star would not exercise
    convergence); the oracle replays the exact fixpoint with a recursive
    CTE.  Each round is one label lookup (a window over the looked-up node
    id) + groupBy-min on node id with localCheckpoint lineage truncation —
    no cross product, state is O(collided docs), not O(corpus)."""
    from elasticsearch_hadoop_spark.operators.cc import duplicate_clusters

    ids = tbl(spark, sf_dir, "documents").select("doc_id")
    cand = ids.filter(
        (F.col("doc_id") % 10 < 9) & (F.floor(F.col("doc_id") / 10) % 3 == 0)
    ).select(F.col("doc_id").alias("u"), (F.col("doc_id") + 1).alias("v"))
    edges = cand.join(ids.select(F.col("doc_id").alias("v")), "v", "inner")
    return (
        duplicate_clusters(edges, "u", "v")
        .select("node", "cluster_id", "cluster_size", "is_canonical")
        .orderBy("node")
    )


@query(
    "dedup_segments_global",
    oracle="""
WITH an AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> length(x) > 0) AS toks
  FROM documents
),
chunked AS (
  SELECT doc_id,
         list_transform(
             generate_series(0, CAST(ceil(len(toks) / 10.0) AS INT) - 1),
             i -> array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
         ) AS segs
  FROM an
),
segs AS (
  SELECT doc_id, unnest(segs) AS seg,
         generate_subscripts(segs, 1) - 1 AS pos
  FROM chunked
),
winners AS (
  SELECT seg, doc_id, pos
  FROM (
    SELECT seg, doc_id, pos,
           row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
    FROM segs
  ) WHERE rn = 1
),
kept AS (
  SELECT s.doc_id, s.pos, s.seg
  FROM segs s JOIN winners w
    ON s.seg = w.seg AND s.doc_id = w.doc_id AND s.pos = w.pos
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(seg, chr(10) ORDER BY pos)) AS kept_md5
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(p.n_kept, 0) AS n_kept,
       CAST(len(c.segs) AS BIGINT) - coalesce(p.n_kept, 0) AS n_dropped,
       p.kept_md5
FROM chunked c LEFT JOIN per_doc p ON c.doc_id = p.doc_id
ORDER BY c.doc_id
""",
)
def dedup_segments_global(spark, sf_dir):
    """C4-style GLOBAL segment dedup (Raffel et al. 2020 keep-one-of-
    every-span): documents chunk into 10-token segments; across the
    whole corpus only each segment's first (doc_id, pos) occurrence
    survives.  One posexplode + a min-(id,pos) hash aggregation per
    segment (partial-aggregatable, so hot boilerplate segments are
    map-side combined — no corpus-wide window, no join-back: the winner
    struct IS the kept row) + per-doc reassembly (operators/dedup.py
    dedup_segments_global)."""
    from elasticsearch_hadoop_spark.functions.text import (
        let_bind,
        standard_analyze,
    )
    from elasticsearch_hadoop_spark.operators import dedup as dd

    docs = tbl(spark, sf_dir, "documents")

    # let-bind the analyzed array: per-chunk slices read the variable,
    # not a re-inlined regex split per chunk
    def _chunks(toks):
        return F.transform(
            F.sequence(
                F.lit(0), F.ceil(F.size(toks) / F.lit(10.0)).cast("int") - 1
            ),
            lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
        )

    segs = let_bind(standard_analyze(F.col("text")), _chunks)
    chunked = docs.select("doc_id", segs.alias("segs"))
    out = dd.dedup_segments_global(chunked, "segs", "doc_id")
    return out.select(
        "doc_id",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        F.when(
            F.col("n_kept") > 0,
            F.md5(F.encode(F.array_join("kept_segments", "\n"), "UTF-8")),
        ).alias("kept_md5"),
    ).orderBy("doc_id")

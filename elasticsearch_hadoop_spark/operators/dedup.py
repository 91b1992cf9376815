"""Deduplication operators for LLM-pipeline corpora (driver-mandated
extension, SURVEY.md §2.C): exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:
- Everything is Column-expression math over arrays (Catalyst
  HigherOrderFunctions) — no Python UDFs, no driver-side collect.
- MinHash-LSH is the scale path: candidate generation is a self-equi-join
  on (band_index, band_key) — a hash shuffle whose output is ~(planted
  duplicates + tiny false-positive mass), never the O(n²) pair cross
  product.  Exact n-gram Jaccard (quadratic with blocking) exists as the
  correctness oracle, not the production path.
- Hashes are md5-prefix based (functions/text.py md5_token_hash) so every
  signature is bit-for-bit reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.functions.text import md5_token_hash, standard_analyze

# MinHash universe: largest 32-bit prime; (a * h + b) % P stays < 2^63 for
# a,b < 2^31 and h < P -> overflow-free in both Spark and DuckDB BIGINTs.
MINHASH_PRIME = 4_294_967_291
# 16 fixed (a, b) permutation constants (odd multipliers; arbitrary but
# frozen — the DuckDB oracle SQL is generated from this same list).
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_203_079_561, 88_001_821), (731_540_413, 1_560_268_399),
    (104_395_303, 982_451_653), (1_610_612_741, 402_653_189),
    (805_306_457, 201_326_611), (50_331_653, 1_572_869),
    (198_491_329, 305_175_781), (6_700_417, 2_147_483_629),
    (15_485_863, 32_452_843), (49_979_687, 86_028_121),
    (275_604_541, 472_882_027), (179_424_673, 122_949_823),
    (373_587_883, 593_441_861), (982_451_707, 15_487_457),
    (452_930_459, 735_632_791), (1_257_787_321, 94_418_953),
]
SIMHASH_BITS = 32


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-gram token shingles of the standard-analyzed text.
    Word shingles (not char) — the classic MinHash unit for documents.
    Docs with < n tokens yield an empty array.

    The token array is let-bound (see _let): naively capturing the
    tokenize expression inside the per-index lambda re-tokenizes the whole
    document for every shingle — O(len^2) per doc."""

    def body(tk: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        )
        empty = F.expr("CAST(array() AS ARRAY<STRING>)")
        return F.array_distinct(F.when(F.size(tk) >= n, grams).otherwise(empty))

    return _let(standard_analyze(text), body)


def shingle_hashes(sh: Column) -> Column:
    """Reduced md5 hashes of each shingle, mod MINHASH_PRIME."""
    return F.transform(sh, lambda t: md5_token_hash(t) % F.lit(MINHASH_PRIME))


def _let(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per row
    and reuse it via a lambda variable.  Without this, Catalyst's
    CollapseProject re-inlines the full producing expression (here: the
    md5-per-shingle map) into every consumer — 16x/32x recompute for the
    signature expressions below (measured: 23s -> <2s for 5k docs)."""
    return F.transform(F.array(value), body).getItem(0)


# One SQL expression, generated from MINHASH_PERMS / MINHASH_PRIME exactly
# as the DuckDB oracle's signature fragment is (corpus/dedup.py _SIG_ITEMS).
_SIGNATURE_SQL = "array({})".format(
    ", ".join(
        f"array_min(transform({{h}}, x -> ({a} * x + {b}) % {MINHASH_PRIME}))"
        for a, b in MINHASH_PERMS
    )
)


def minhash_signature(hashes: str) -> Column:
    """MinHash signature of the shingle-hash array in column ``hashes``:
    array of per-permutation minima (null-free as long as the doc has >= 1
    shingle).  Parsed from SQL generated from the same constants as the
    DuckDB oracle, so building it costs one round trip to the JVM instead
    of several per Column operator.  Taking a named column keeps md5 once
    per shingle: Catalyst's CollapseProject never inlines a non-cheap
    producer into a consumer that references it more than once."""
    return F.expr(_SIGNATURE_SQL.format(h=f"`{hashes}`"))


def _bitsum(hashes: Column, j: int) -> Column:
    return F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: acc
        + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1)),
    )


def simhash_signature(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over shingle hashes: bit j of the signature is the sign of
    sum(+1/-1 for bit j of each shingle hash).  Distinct shingles,
    unweighted (documented exact semantics; frequency weighting would need
    non-distinct shingles).  Hash array let-bound (see _let)."""

    def body(hs: Column) -> Column:
        out = F.lit(0).cast("bigint")
        for j in range(bits):
            out = out + F.when(_bitsum(hs, j) > 0, F.lit(1 << j).cast("bigint")).otherwise(
                F.lit(0)
            )
        return out

    return _let(hashes, body)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two DISTINCT-element arrays.
    |a∪b| computed as |a|+|b|-|a∩b| — one array_intersect instead of
    intersect+union (2x cheaper on the quadratic verify path)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Exact dedup on a derived key: keeps min(id) per key group.
    Adds ``dedup_key`` (md5 of the key), ``group_size``, ``is_keeper``.
    One shuffle on the key hash; fully streaming-aggregate at scale."""
    w = Window.partitionBy("dedup_key")
    return (
        df.withColumn("dedup_key", F.md5(F.encode(key, "UTF-8")))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_keeper", F.col(id_col) == F.min(id_col).over(w))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH, verified with exact Jaccard.

    Pipeline: shingle -> md5-hash -> 16-perm MinHash -> 4 bands x 4 rows
    -> band-bucket self-equi-join (candidates) -> exact Jaccard >= threshold.
    Candidate collision prob at J: 1-(1-J^4)^4 (~0.93 at J=0.8).

    Scale: the only shuffles are (a) the band-key equi-join and (b) the
    verify join back to shingle sets — both hash joins keyed on narrow
    columns, never a cross product. 100 TB-safe.
    """
    assert bands * rows_per_band == len(MINHASH_PERMS)
    base = (
        df.select(
            F.col(id_col),
            shingles(F.col(text_col), n).alias("__sh"),
        )
        .withColumn("__h", shingle_hashes(F.col("__sh")))
        .select(F.col(id_col), "__sh", minhash_signature("__h").alias("__sig"))
        # materialize the analyzer->shingle->md5->16-perm pipeline ONCE:
        # `base` is referenced FOUR times below (both sides of the band
        # self-join and both sides of the verify join), and Spark re-executes
        # the whole producing subtree per reference — 4 corpus scans and 4x
        # the signature math (measured in plans/r14/dedup_minhash_lsh_before
        # .txt: 4 parquet scans of documents, the md5 projection duplicated).
        # localCheckpoint (MEMORY_AND_DISK, spills at scale) is the guide-§8
        # "compute the lightweight proxy once" pass: the cached frame is
        # (id, shingles, sig) — the decision data — never the raw text.
        .localCheckpoint(eager=False)
    )

    # one parsed expression, like minhash_signature: a Column-built lambda
    # pays several JVM round trips per operator
    banded = base.select(
        id_col,
        F.expr(
            f"explode(transform(sequence(0, {bands - 1}), b -> named_struct('band', b, 'key', "
            f"concat_ws('-', transform(slice(__sig, b * {rows_per_band} + 1, {rows_per_band}), "
            "s -> CAST(s AS STRING))))))"
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")

    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )

    sh = base.select(F.col(id_col), F.col("__sh"))
    verified = (
        candidates.join(sh.alias("sa"), F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sh.alias("sb"), F.col("id_b") == F.col(f"sb.{id_col}"))
        .withColumn("jaccard", jaccard(F.col("sa.__sh"), F.col("sb.__sh")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def dedup_segments_global(
    df: DataFrame, segments_col: str, id_col: str
) -> DataFrame:
    """C4-style GLOBAL segment dedup: across the whole corpus, keep only
    the FIRST occurrence of every exact segment (C4 §2.2 does this with
    three-sentence spans; the caller chooses the segmentation — lines,
    sentences, fixed token chunks — and passes it as an array<string>
    column).  Returns (id_col, kept_segments, n_kept, n_dropped) with
    kept segments in their original in-document order.

    Shape: posexplode -> groupBy(segment).agg(min(struct(id, pos))) —
    the winner struct already carries the kept row's (id, pos), so the
    aggregate's output IS the kept set (one row per distinct segment);
    no window and no join-back.  The min is PARTIAL-aggregatable: a hot
    segment (boilerplate appearing in a large fraction of documents) is
    pre-combined map-side to one row per map task before the shuffle, so
    the reduce task for that segment receives O(#map tasks) rows instead
    of every occurrence — the skew bound the earlier window shape
    (PARTITION BY segment ships every exploded row of a hot segment to
    one task) lost.  NULL segment elements group like any other value
    (one group, one winner) — same retention as the window shape.
    Two shuffles of the exploded rows total (winner agg + per-doc
    reassembly).  This is the inherent cost of EXACT global dedup — the
    approximate alternative is the MinHash pipeline above."""
    segs = df.select(
        F.col(id_col),
        F.posexplode(F.col(segments_col)).alias("__pos", "__seg"),
    )
    kept = (
        segs.groupBy("__seg")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))
            ).alias("__w")
        )
        .select(
            F.col("__w.i").alias(id_col), F.col("__w.p").alias("__pos"), "__seg"
        )
    )
    per_doc = kept.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("__pos"), F.col("__seg")))
            ),
            lambda s: s["__seg"],
        ).alias("kept_segments"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(F.col(segments_col)).alias("__total")
    )
    return (
        totals.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("kept_segments", F.array().cast("array<string>")).alias(
                "kept_segments"
            ),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__total") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )

"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline) and an IVF-partitioned variant (the 100 TB path).
Driver-mandated extension, SURVEY.md §2.C.

Brute force: broadcast the query vector(s), compute cosine as a Column
expression, TakeOrderedAndProject for top-k — one scan, no shuffle beyond
the final k-row merge.  Fine for one query over any corpus size; for QxN
batch search use ivf_topk.

IVF: assign every vector to its nearest centroid (coarse quantizer) once —
at scale this is a stored partition/cluster column, so a query probes only
`nprobe` cells (partition pruning on the cell id).  Centroid assignment is
itself pure Column math (argmin over a broadcast centroid array).  Recall
vs brute force is asserted in tests/test_similarity.py.

Centroids come from ``train_centroids`` — deterministic distributed
Lloyd's iterations (init = first k vectors by id); a production build
could swap in k-means|| via pyspark.ml.clustering.KMeans on a sample
without changing anything downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.functions import sql
from elasticsearch_hadoop_spark.functions.similarity import cosine_similarity, cosine_sql


def _cosine_to(vec_col: str, query_vec: list[float]) -> Column:
    """cosine(vec_col, query_vec) parsed from SQL: one JVM round trip
    instead of one per operator and per vector element."""
    return F.expr(
        cosine_sql(
            f"CAST({sql.ident(vec_col)} AS ARRAY<DOUBLE>)",
            sql.double_array(query_vec),
        )
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector: scan + TakeOrderedAndProject."""
    return (
        embeddings.select(
            F.col(id_col), _cosine_to(vec_col, query_vec).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def assign_ivf_cells(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Attach nearest-centroid (by cosine) cell id — the coarse quantizer.
    At scale: write the table partitioned/bucketed by this column.

    The centroid matrix is ONE nested-array literal (parsed from SQL in
    one JVM round trip), not k×dim `lit()` nodes — with per-element
    literals Catalyst planning time explodes (~90 s for 8×64 at 4
    Lloyd's iterations; ~1 s this way)."""
    cent_arr = sql.double_array_lit(centroids)
    v = F.col(vec_col).cast("array<double>")
    # argmax over centroid index of cosine(v, centroid_i)
    scores = F.transform(cent_arr, lambda c: cosine_similarity(v, c))
    best = F.array_max(scores)
    return embeddings.withColumn(cell_col, F.array_position(scores, best).cast("int") - 1)


def ivf_topk(
    embeddings_with_cells: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Approximate top-k: rank centroids by cosine to the query, scan only
    the nprobe nearest cells, exact cosine within them.

    With a cell-partitioned table the `isin(cells)` filter is partition
    pruning — the scan physically skips (1 - nprobe/ncells) of the data.
    """
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na > 0 and nb > 0 else 0.0

    order = sorted(range(len(centroids)), key=lambda i: (-cos(query_vec, centroids[i]), i))
    probe_cells = order[:nprobe]

    return (
        embeddings_with_cells.filter(F.col(cell_col).isin(probe_cells))
        .select(
            F.col(id_col),
            F.col(cell_col),
            _cosine_to(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def train_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd's iterations for the IVF coarse quantizer.

    Init = the first ``k`` vectors by id; each iteration assigns every
    vector to its nearest (cosine) centroid with pure Column math, then
    recomputes centroids as the per-cell per-dimension mean via
    posexplode → groupBy(cell, dim) → avg — one narrow shuffle of
    (cell, dim, value) triples per iteration, never a driver-side pass
    over the data.  Only k×dim aggregated values ever reach the driver.

    At 100 TB: run on a sample (`df.sample(...)`) — the quantizer needs
    representative centroids, not every row; assignment of the full table
    happens once afterwards via assign_ivf_cells and is persisted as the
    partition column."""
    rows = (
        embeddings.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    cents = [[float(x) for x in r[0]] for r in rows]
    for _ in range(iters):
        assigned = assign_ivf_cells(embeddings, cents, vec_col=vec_col)
        means = (
            assigned.select(
                "ivf_cell", F.posexplode(F.col(vec_col).cast("array<double>"))
            )
            .groupBy("ivf_cell", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        new = {c: dict() for c in range(len(cents))}
        for r in means:
            new[r["ivf_cell"]][r["pos"]] = r["m"]
        cents = [
            [new[c][d] for d in sorted(new[c])] if new[c] else cents[c]
            for c in range(len(cents))
        ]
    return cents


def topk_per_group(
    embeddings: DataFrame,
    query_vec: list[float],
    group_col: str,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-similar per group (window row_number idiom)."""
    scored = embeddings.select(
        F.col(id_col),
        F.col(group_col),
        _cosine_to(vec_col, query_vec).alias("cosine"),
    )
    w = Window.partitionBy(group_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (the bucketed ANN alternative to IVF)
# ---------------------------------------------------------------------------


def rp_lsh_planes(num_planes: int = 6, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 signed-random-projection hyperplanes.

    Entries derive from md5(f"{plane}:{dim_idx}") so any engine (or the
    DuckDB oracle) given the same literals reproduces the same buckets —
    the same frozen-constant discipline as the MinHash permutations."""
    import hashlib

    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec, planes: list[list[float]]):
    """Column: bit-packed sign pattern of <vec, plane_p> — the LSH bucket.

    Pure Column math (zip_with product + aggregate sum per plane); the
    plane matrix enters as ONE nested-array literal (see the IVF planning
    note above)."""
    plane_arr = sql.double_array_lit(planes)
    v = vec.cast("array<double>")

    def dot(p):
        return F.aggregate(
            F.zip_with(v, p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.lit(0).cast("long")
    for i in range(len(planes)):
        bit = (dot(F.get(plane_arr, i)) >= 0).cast("long")
        bucket = bucket + F.shiftleft(bit, i)
    return bucket


def assign_lsh_buckets(
    embeddings: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Attach the random-hyperplane bucket id.  At scale: persist the
    table partitioned/bucketed by this column, exactly like the IVF cell —
    probing becomes partition pruning."""
    return embeddings.withColumn(bucket_col, lsh_bucket_expr(F.col(vec_col), planes))


def lsh_probe_buckets(
    query_vec: list[float], planes: list[list[float]], hamming_radius: int = 1
) -> list[int]:
    """Buckets within the given Hamming radius of the query's bucket
    (multiprobe LSH): the query bucket itself plus every single-bit flip
    for radius 1.  Computed driver-side from the query vector — k+1 ints,
    never a data pass."""
    qb = 0
    for i, p in enumerate(planes):
        d = sum(x * y for x, y in zip(query_vec, p))
        if d >= 0:
            qb |= 1 << i
    probes = [qb]
    if hamming_radius >= 1:
        probes += [qb ^ (1 << i) for i in range(len(planes))]
    return probes


# ---------------------------------------------------------------------------
# Int8 scalar quantization (the memory-bound ANN path)
# ---------------------------------------------------------------------------


def train_sq_bounds(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] bounds for int8 scalar quantization.

    Distributed: posexplode -> groupBy(dim) -> min/max — one narrow
    shuffle of (dim, value) pairs; only 2×dim doubles reach the driver
    (same discipline as train_centroids).  At 100 TB: train on a sample —
    the quantizer needs representative bounds, not every row."""
    rows = (
        embeddings.select(F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("pos")
        .agg(F.min("col").alias("mn"), F.max("col").alias("mx"))
        .collect()
    )
    by_pos = {r["pos"]: (r["mn"], r["mx"]) for r in rows}
    dims = sorted(by_pos)
    return [by_pos[d][0] for d in dims], [by_pos[d][1] for d in dims]


def _sq_code_expr(v, mins: list[float], maxs: list[float]):
    """Column: int8 codes for a double-array column under the given bounds.

    code_d = least(255, greatest(0, floor((x - mn_d)/(mx_d - mn_d) * 256))) - 128

    floor (not round) so there is no half-tie rounding-mode divergence
    between engines; the double arithmetic itself is order-identical on
    Spark / DuckDB / CPython, so codes agree bit-for-bit.  Degenerate
    dimensions (mx == mn) quantize to code 0."""
    mn_arr = sql.double_array_lit(mins)
    mx_arr = sql.double_array_lit(maxs)
    shifted = F.zip_with(v, mn_arr, lambda x, m: x - m)
    rng = F.zip_with(mx_arr, mn_arr, lambda a, b: a - b)
    return F.zip_with(
        shifted,
        rng,
        lambda s, r: (
            F.when(
                r > 0,
                F.least(F.lit(255.0), F.greatest(F.lit(0.0), F.floor(s / r * 256))),
            ).otherwise(F.lit(128.0))
            - 128
        ).cast("int"),
    )


def sq_encode(
    embeddings: DataFrame,
    mins: list[float],
    maxs: list[float],
    vec_col: str = "embedding",
    code_col: str = "sq_code",
) -> DataFrame:
    """Attach int8 scalar-quantized codes (stored array<tinyint> — 4× less
    IO/RAM than float32).  At scale: persist the codes column at ingest and
    scan ONLY it for candidate generation; the float column is touched just
    for the rescore rows."""
    codes = _sq_code_expr(F.col(vec_col).cast("array<double>"), mins, maxs)
    return embeddings.withColumn(code_col, codes.cast("array<tinyint>"))


def sq_quantize_query(
    query_vec: list[float], mins: list[float], maxs: list[float]
) -> list[int]:
    """Driver-side int8 codes for the query vector — same formula, same
    IEEE-double operation order as _sq_code_expr, so codes match what the
    engine would compute."""
    import math

    out = []
    for x, mn, mx in zip(query_vec, mins, maxs):
        r = mx - mn
        if r > 0:
            c = min(255.0, max(0.0, math.floor((x - mn) / r * 256)))
        else:
            c = 128.0
        out.append(int(c) - 128)
    return out


def sq_topk(
    encoded: DataFrame,
    mins: list[float],
    maxs: list[float],
    query_vec: list[float],
    k: int = 10,
    rescore_k: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "sq_code",
) -> DataFrame:
    """Approximate top-k via int8 codes + exact float rescore.

    Candidate generation is an integer dot product over the 1-byte codes
    (codegen F.aggregate — 4× less data moved than float32, integer ALU
    ops); the top ``rescore_k`` candidates by (int score desc, id) get the
    exact double cosine, and the final top ``k`` is exact over that set.
    Both stages are TakeOrderedAndProject — per-partition heaps, k-row
    driver merge, no global sort.  Deterministic end-to-end (floor-based
    codes, integer scores, id tie-breaks), so the DuckDB oracle replays it
    exactly — unlike IVF there is no float-tie argmax to blur."""
    qcodes = F.lit(sq_quantize_query(query_vec, mins, maxs))
    score = F.aggregate(
        F.zip_with(
            F.col(code_col), qcodes, lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        encoded.select(F.col(id_col), F.col(vec_col), score.alias("sq_score"))
        .orderBy(F.col("sq_score").desc(), F.col(id_col))
        .limit(rescore_k)
    )
    return (
        cand.select(
            F.col(id_col), _cosine_to(vec_col, query_vec).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def lsh_topk(
    embeddings_with_buckets: DataFrame,
    planes: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    hamming_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Approximate top-k: scan only the multiprobe buckets, exact cosine
    within them, TakeOrderedAndProject merge.  With a bucket-partitioned
    table the isin() filter is partition pruning — same scale shape as
    ivf_topk, trading IVF's trained quantizer for a training-free hash."""
    probes = lsh_probe_buckets(query_vec, planes, hamming_radius)
    return (
        embeddings_with_buckets.filter(F.col(bucket_col).isin(probes))
        .select(
            F.col(id_col),
            F.col(bucket_col),
            _cosine_to(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------------------------- bit vectors
# ES 8.14+ dense_vector element_type "bit" with the hamming similarity:
# vectors binarized to sign bits, compared by popcount(xor).  32× less IO
# than float32 and pure integer ALU work — the cheapest candidate-
# generation stage at 100 TB.  Word size is 32 bits: both Spark and the
# DuckDB oracle raise/wrap differently on a 1<<63 sign-bit shift, so
# packing stays within non-negative BIGINT territory on both engines.
BIT_WORD = 32


def pack_sign_bits(vec, dim: int):
    """Pack ``vec``'s sign bits (x > 0) into an ``array<long>`` of
    32-bit words, LSB = lowest dimension of the word.  Pure Column math
    (slice/transform-with-index/aggregate) — the packed column is
    precomputable and storable like sq_code."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    words = []
    for j in range(0, dim, BIT_WORD):
        width = min(BIT_WORD, dim - j)
        # F.shiftleft takes a Python-int shift, so the per-index bit value
        # is 2.0**i (exact in doubles through 2**31 — words are 32-bit for
        # exactly this reason) cast back to long
        word = F.aggregate(
            F.transform(
                F.slice(vec, j + 1, width),
                lambda x, i: F.when(
                    x > 0, F.pow(F.lit(2.0), i).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, w: acc + w,
        )
        words.append(word)
    return F.array(*words)


def _pack_sign_bits_py(vec: list[float]) -> list[int]:
    out = []
    for j in range(0, len(vec), BIT_WORD):
        w = 0
        for i, x in enumerate(vec[j : j + BIT_WORD]):
            if x > 0:
                w |= 1 << i
        out.append(w)
    return out


def hamming_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rescore_k: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    packed_col: str | None = None,
) -> DataFrame:
    """Hamming top-k over binarized vectors: popcount(xor) per 32-bit
    word, summed — smallest distance first, id tie-break.  With
    ``rescore_k`` > 0, the top rescore_k hamming candidates get the exact
    double cosine and the final k is exact over that set (ES's
    quantized-then-rescore knn pattern).  ``packed_col`` names a
    precomputed pack_sign_bits column (the stored-index path); absent,
    bits pack on the fly from ``vec_col``.  Both stages are
    TakeOrderedAndProject — no global sort, no shuffle beyond the k-row
    driver merge.  Deterministic end-to-end, so a SQL oracle replays it
    exactly."""
    dim = len(query_vec)
    qw = _pack_sign_bits_py([float(x) for x in query_vec])
    qwords = F.lit(qw)
    src_col = packed_col or vec_col
    # docs without a vector are skipped, never scored — ES knn skips docs
    # missing the dense_vector field (a NULL would otherwise sort FIRST
    # under asc and poison the top-k)
    embeddings = embeddings.filter(F.col(src_col).isNotNull())
    packed = F.col(packed_col) if packed_col else pack_sign_bits(F.col(vec_col), dim)
    # a packed column whose word count differs from the query's would
    # zip_with NULL-pad into NULL distances that sort FIRST — silently
    # wrong top-k.  Make the mismatch loud instead of plausible (NULL
    # vectors are already filtered, so size() here is never -1/NULL).
    dist = F.aggregate(
        F.zip_with(packed, qwords, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    if packed_col:
        dist = F.when(F.size(F.col(packed_col)) == len(qw), dist).otherwise(
            F.raise_error(
                F.lit(
                    f"hamming_topk: packed column {packed_col!r} width does not "
                    f"match the {dim}-d query ({len(qw)} words expected)"
                )
            )
        )
    else:
        # same loudness on the on-the-fly path: a vector whose length
        # differs from the query would pack to a different word count and
        # F.slice-pad missing dims as 0-bits — plausible-but-wrong
        # distances instead of an error (r8 advice)
        dist = F.when(F.size(F.col(vec_col)) == dim, dist).otherwise(
            F.raise_error(
                F.lit(
                    f"hamming_topk: vector column {vec_col!r} length does not "
                    f"match the {dim}-d query"
                )
            )
        )
    scored = embeddings.select(
        F.col(id_col), F.col(vec_col), dist.alias("hamming")
    ).orderBy(F.col("hamming").asc(), F.col(id_col))
    if not rescore_k:
        return scored.select(id_col, "hamming").limit(k)
    cand = scored.limit(rescore_k)
    return (
        cand.select(
            F.col(id_col),
            F.col("hamming"),
            _cosine_to(vec_col, query_vec).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )

"""Vector-similarity math as pure Column expressions (SURVEY.md §2.C
"Similarity search").

F.zip_with + F.aggregate compile to Catalyst HigherOrderFunctions — the dot
product runs JVM-side inside codegen, no Python per row.  Cast inputs to
array<double> first: fixtures store array<float> and float accumulation
would diverge from the (double-based) DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(|a||b|); null-safe-ish: 0 when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


# The same three formulas as SQL text over SQL operands (a column
# reference, an array literal from functions.sql.double_array, or a
# lambda variable): a scoring expression then parses in one JVM round
# trip.  The trees equal the Column functions above, so the doubles do.
def dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0D AS DOUBLE), (acc, x) -> acc + x)"


def norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, CAST(0.0D AS DOUBLE), (acc, x) -> acc + x * x))"


def cosine_sql(a: str, b: str) -> str:
    na, nb = norm_sql(a), norm_sql(b)
    return (
        f"CASE WHEN ({na} > 0) AND ({nb} > 0) "
        f"THEN {dot_sql(a, b)} / ({na} * {nb}) ELSE 0.0D END"
    )


def sparse_dot(weights_col: Column, query_weights: dict) -> Column:
    """ES ``sparse_vector`` / ELSER-style scoring: the dot product of a
    ``map<string,double>`` token-weight column with the query expansion's
    token->weight map — Σ doc_w[t] * query_w[t] over the QUERY's tokens
    (the query side is a handful of terms, so the sum unrolls to a fixed
    codegen expression; missing doc tokens contribute 0, and
    map_contains_key guards ANSI's missing-key error)."""
    if not query_weights:
        raise ValueError("sparse_dot needs a non-empty query weight map")
    total = F.lit(0.0)
    for tok, w in query_weights.items():
        total = total + F.when(
            F.map_contains_key(weights_col, F.lit(tok)),
            weights_col[F.lit(tok)].cast("double") * float(w),
        ).otherwise(F.lit(0.0))
    return total


def l2_normalize(a: Column) -> Column:
    """Unit-normalize an embedding (array<double>): v / ||v||.  The
    ingestion-side transform ES requires before dot_product similarity;
    zero vectors pass through unchanged rather than dividing by zero."""
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)


def truncate_dims(a: Column, dims: int) -> Column:
    """Matryoshka truncation: keep the first ``dims`` dimensions (MRL
    embeddings are trained so prefixes stay meaningful) — the cheap
    storage/recall dial for a 100 TB vector corpus; re-normalize with
    l2_normalize after truncating if cosine/dot scoring follows."""
    if dims < 1:
        raise ValueError(f"truncate_dims needs dims >= 1, got {dims}")
    return F.slice(a, 1, dims)

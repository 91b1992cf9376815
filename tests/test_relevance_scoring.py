"""BM25 and vector scoring built from SQL text: the matched-only cut on
the raw field keeps exactly the positively scored rows, the SQL literals
and formulas give the same doubles as the Column functions, the `match`
predicate without the interpreted analyzer is the same predicate, and
building each request stays within a Py4J round-trip budget."""

from __future__ import annotations

import random
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.functions import sql
from elasticsearch_hadoop_spark.functions.similarity import (
    cosine_similarity,
    cosine_sql,
    dot,
    dot_sql,
    norm,
    norm_sql,
)
from elasticsearch_hadoop_spark.functions.text import (
    py_standard_analyze,
    standard_analyze,
)
from elasticsearch_hadoop_spark.search import (
    bm25_corpus_stats,
    bm25_score,
    bm25_topk,
    knn_search,
)
from tests.conftest import count_py4j_calls

TEXTS = [
    "bako bakos BAKO",
    "bakos only here",  # 'bako' only inside a longer token
    None,
    "",
    "!!! ---",  # analyzes to no tokens
    "Hash, join; HASH—join",
    "naïve café bako",  # non-ASCII letters are delimiters
    "  leading and trailing  ",
    "bako",
    "JOIN the hash hash hash join",
    "ñandú",
    "zzz",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "id int, text string"
    )


def _scores(df):
    return sorted((r["id"], r["_score"]) for r in df.select("id", "_score").collect())


# (query, k1, b): a term inside a longer token, a repeated term, a term
# absent from the corpus, upper case, non-ASCII delimiters, k1 = 0 and
# both ends of b
CASES = [
    ("bako", 1.2, 0.75),
    ("Bako bako zzzabsent", 0.0, 0.75),
    ("HASH join hash", 1.2, 0.0),
    ("naïve ñandú", 1.2, 1.0),
    ("absentterm", 1.2, 0.75),
    ("the JOIN", 2.0, 0.3),
]


@pytest.mark.parametrize("use_stats", [False, True], ids=["computed", "stats"])
@pytest.mark.parametrize("query,k1,b", CASES)
def test_matched_only_is_positive_score_filter(docs, use_stats, query, k1, b):
    stats = (
        bm25_corpus_stats(docs, "text", py_standard_analyze(query))
        if use_stats
        else None
    )
    every = bm25_score(docs, "text", query, k1=k1, b=b, matched_only=False, stats=stats)
    want = _scores(every.filter(F.col("_score") > 0))
    got = _scores(bm25_score(docs, "text", query, k1=k1, b=b, stats=stats))
    assert got == want  # exact double equality
    if not use_stats:
        top = _scores(bm25_topk(docs, "text", query, k=len(TEXTS), k1=k1, b=b))
        assert top == want


_WORDS = ["bako", "bakos", "BAKO", "hash", "Join", "ñandú", "café", "x1", "zz"]
_SEPS = [" ", ",", "--", "·", "  "]
_texts = st.one_of(
    st.none(),
    st.lists(
        st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPS)), max_size=6
    ).map(lambda ws: "".join(w + s for w, s in ws)),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    texts=st.lists(_texts, min_size=1, max_size=8),
    query=st.lists(st.sampled_from(_WORDS + ["absent"]), min_size=1, max_size=3),
    k1=st.sampled_from([0.0, 0.5, 1.2, 2.0]),
    b=st.sampled_from([0.0, 0.3, 0.75, 1.0]),
    use_stats=st.booleans(),
)
def test_matched_only_property(spark, texts, query, k1, b, use_stats):
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    q = " ".join(query)
    stats = (
        bm25_corpus_stats(df, "text", py_standard_analyze(q)) if use_stats else None
    )
    every = bm25_score(df, "text", q, k1=k1, b=b, matched_only=False, stats=stats)
    want = _scores(every.filter(F.col("_score") > 0))
    assert _scores(bm25_score(df, "text", q, k1=k1, b=b, stats=stats)) == want


def test_precomputed_stats_must_keep_df_within_doc_count(docs):
    with pytest.raises(ValueError, match="doc_count"):
        bm25_score(
            docs, "text", "bako",
            stats={"doc_count": 2, "sum_dl": 9, "df": {"bako": 3}},
        )


def test_double_array_literal_is_bit_identical(spark):
    vals = [
        -1.5, -0.0, 0.0, 5e-324, -2.5e-310, 2.2250738585072014e-308, 1e-300,
        1.7976931348618157e308, 0.1, 1 / 3, 1e22,
        float("nan"), float("inf"), float("-inf"),
    ]
    nested = [[1.0, -0.0, 5e-324], [-2.0, 1e-300, float("inf")]]
    row = spark.range(1).select(
        F.lit(vals).alias("a"),
        sql.double_array_lit(vals).alias("b"),
        F.lit(nested).alias("c"),
        sql.double_array_lit(nested).alias("d"),
    ).collect()[0]

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert bits(row["a"]) == bits(row["b"])
    assert [bits(x) for x in row["c"]] == [bits(x) for x in row["d"]]


def test_vector_sql_matches_column_functions(spark):
    rng = random.Random(7)
    q = [rng.uniform(-1, 1) for _ in range(16)]
    rows = [([rng.uniform(-1, 1) for _ in range(16)],) for _ in range(20)]
    rows += [([0.0] * 16,), (None,)]
    df = spark.createDataFrame(rows, "v array<float>")
    a_col, b_col = F.col("v").cast("array<double>"), F.lit(q)
    a, b = "CAST(`v` AS ARRAY<DOUBLE>)", sql.double_array(q)
    out = df.select(
        cosine_similarity(a_col, b_col).alias("c0"),
        F.expr(cosine_sql(a, b)).alias("c1"),
        dot(a_col, b_col).alias("d0"),
        F.expr(dot_sql(a, b)).alias("d1"),
        norm(a_col).alias("n0"),
        F.expr(norm_sql(a)).alias("n1"),
    ).collect()
    for r in out:
        assert (r["c0"], r["d0"], r["n0"]) == (r["c1"], r["d1"], r["n1"])


def test_knn_search_scores_match_column_reference(spark):
    rng = random.Random(3)
    q = [rng.uniform(-1, 1) for _ in range(8)]
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        "id int, v array<float>",
    )
    a, b = F.col("v").cast("array<double>"), F.lit(q)
    refs = {
        "cosine": (F.lit(1.0) + cosine_similarity(a, b)) / F.lit(2.0),
        "dot_product": (F.lit(1.0) + dot(a, b)) / F.lit(2.0),
        "l2_norm": F.lit(1.0)
        / (
            F.lit(1.0)
            + F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
        ),
    }
    for sim, ref in refs.items():
        body = {"field": "v", "query_vector": q, "k": 30, "similarity": sim}
        got = {r["id"]: r["_score"] for r in knn_search(df, body).collect()}
        want = {r["id"]: r["s"] for r in df.select("id", ref.alias("s")).collect()}
        assert got == want, sim


MATCH_TEXTS = [
    "Quick brown fox",
    ",,quick,,",  # leading, trailing and doubled delimiters
    "QUICK FOX",
    "",
    None,
    "café—quick·fox",  # non-ASCII delimiters
    "brown",
    "quickfox",
]
MATCH_QUERIES = [
    {"query": "quick fox"},
    {"query": "quick fox", "operator": "and"},
    {"query": "Quick brown fox", "minimum_should_match": 2},
    {"query": "Quick brown fox", "minimum_should_match": "-1"},
    {"query": ",,quick"},
    {"query": "café fox", "operator": "AND"},
]


def _match_reference(q: dict):
    """The predicate as it was built with the interpreted analyzer on
    both sides."""
    from elasticsearch_hadoop_spark.query_dsl import _msm_count
    value = q["query"]
    qtokens = F.array_distinct(standard_analyze(F.lit(value)))
    ftokens = standard_analyze(F.col("t"))
    if q.get("operator", "or").lower() == "and":
        return F.size(F.array_except(qtokens, ftokens)) == 0
    if "minimum_should_match" in q:
        n_tok = len(set(py_standard_analyze(value)))
        required = _msm_count(q["minimum_should_match"], n_tok, False)
        if required > 1:
            return F.size(F.array_intersect(ftokens, qtokens)) >= required
    return F.arrays_overlap(ftokens, qtokens)


def test_match_predicate_equals_analyzer_form(spark):
    from elasticsearch_hadoop_spark.query_dsl import compile_query

    df = spark.createDataFrame([(t,) for t in MATCH_TEXTS], "t string")
    cols = []
    for i, q in enumerate(MATCH_QUERIES):
        cols.append(compile_query({"match": {"t": q}}).alias(f"new{i}"))
        cols.append(_match_reference(q).alias(f"old{i}"))
    for r in df.select(*cols).collect():
        for i in range(len(MATCH_QUERIES)):
            assert r[f"new{i}"] == r[f"old{i}"], (MATCH_QUERIES[i], r)


# Py4J round trips to BUILD one request (no action runs).  Built from
# Column operators these took 706 (filtered 64-dim knn), 649
# (brute-force top-k) and 1,487 (3-term bm25) round trips; the SQL-text
# versions need about a tenth.  The ceilings leave headroom for
# PySpark-internal drift.
def test_py4j_budget_knn_search(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.columns  # schema fetched once, as any caller's frame has
    q = [random.Random(1).uniform(-1, 1) for _ in range(64)]
    body = {
        "field": "embedding", "query_vector": q, "k": 10,
        "filter": {"range": {"label": {"gte": 1}}},
    }
    _, calls = count_py4j_calls(lambda: knn_search(emb, body, tiebreaker="vec_id"))
    assert calls <= 160  # 108 when pinned


def test_py4j_budget_brute_force_topk(spark, sf_dir):
    from elasticsearch_hadoop_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.columns
    q = [random.Random(2).uniform(-1, 1) for _ in range(64)]
    _, calls = count_py4j_calls(lambda: brute_force_topk(emb, q, k=10))
    assert calls <= 120  # 79 when pinned


def test_py4j_budget_bm25_topk(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.columns
    _, calls = count_py4j_calls(
        lambda: bm25_topk(docs, "text", "hash join table", k=10, tiebreak=["doc_id"])
    )
    assert calls <= 220  # 147 when pinned

"""Runtime fields (painless-lite) and search helpers: the compile paths,
the rejection guardrails (no silent approximation of painless), and
keyset-pagination continuity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.runtime_fields import (
    RuntimeFieldError,
    apply_runtime_mappings,
    compile_script,
)
from elasticsearch_hadoop_spark.search import collapse, search_after


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, 10.0, "ab"), (2, 20.0, "c"), (3, 30.0, "defg")],
        "k long, price double, name string",
    )


def test_runtime_field_arithmetic_and_funcs(spark, df):
    out = apply_runtime_mappings(
        df,
        {
            "taxed": {"type": "double", "script": "emit(doc['price'].value * 1.5)"},
            "cap": {
                "type": "double",
                "script": "emit(Math.min(doc['price'].value, 15.0))",
            },
            "name_len": {"type": "long", "script": "emit(doc['name'].value.length())"},
            # runtime field referencing a runtime field (ES allows it)
            "taxed2": {"type": "double", "script": "emit(doc['taxed'].value + 1)"},
        },
    )
    r = {x["k"]: x for x in out.collect()}
    assert r[1]["taxed"] == 15.0 and r[1]["cap"] == 10.0 and r[1]["name_len"] == 2
    assert r[2]["cap"] == 15.0 and r[3]["name_len"] == 4
    assert r[2]["taxed2"] == 31.0


def test_runtime_field_ternary(spark, df):
    out = apply_runtime_mappings(
        df, {"bulk": {"type": "long", "script": "emit(doc['price'].value >= 20 ? 1 : 0)"}}
    )
    assert [r["bulk"] for r in out.orderBy("k").collect()] == [0, 1, 1]


@pytest.mark.parametrize(
    "script",
    [
        "doc['price'].value",  # no emit
        "emit(doc['price'].value); emit(1)",  # two statements
        "emit(params.x)",  # params unsupported
        "emit(doc['price'].value + \"s\")",  # string literal -> quote residue
        "emit(new Random().nextInt())",  # arbitrary painless
        "emit(a ? b : c ? d : e)",  # nested ternary
    ],
)
def test_runtime_field_rejects_unsupported(script):
    with pytest.raises(RuntimeFieldError):
        compile_script(script)


def test_search_after_pages_are_continuous(spark):
    data = spark.range(100).select(
        (F.col("id") % 7).alias("grp"), F.col("id").alias("k")
    )
    sort = [{"grp": "desc"}, {"k": "asc"}]
    page1 = search_after(data, sort, after=None, size=30).collect()
    cursor = (page1[-1]["grp"], page1[-1]["k"])
    page2 = search_after(data, sort, after=cursor, size=30).collect()
    # continuity: concatenation equals the first 60 of the full ordering
    full = data.orderBy(F.col("grp").desc(), F.col("k").asc()).limit(60).collect()
    assert [tuple(r) for r in page1 + page2] == [tuple(r) for r in full]


def test_collapse_keeps_top_per_key(spark):
    data = spark.createDataFrame(
        [(1, 5), (1, 9), (1, 7), (2, 3)], "g long, v long"
    )
    out = collapse(data, "g", sort=[{"v": "desc"}], inner_hits=2).orderBy("g", "hit_rank")
    assert [(r["g"], r["v"], r["hit_rank"]) for r in out.collect()] == [
        (1, 9, 1), (1, 7, 2), (2, 3, 1)
    ]


def test_runtime_field_boolean_operators(spark, df):
    """Painless && / || must compile to AND/OR — Spark would otherwise
    parse || as string concat (silent garbage) and reject &&."""
    out = apply_runtime_mappings(
        df,
        {
            "both": {
                "type": "boolean",
                "script": "emit(doc['price'].value >= 20 && doc['k'].value > 2)",
            },
            "either": {
                "type": "boolean",
                "script": "emit(doc['price'].value >= 30 || doc['k'].value == 1)",
            },
        },
    )
    r = {x["k"]: (x["both"], x["either"]) for x in out.collect()}
    assert r == {1: (False, True), 2: (False, False), 3: (True, True)}


def test_runtime_field_rejects_embedded_ternary():
    with pytest.raises(RuntimeFieldError):
        compile_script("emit(1 + (doc['price'].value > 20 ? 3 : 4))")


# ---------------------------------------------------------------- round 4


def test_highlight_wraps_and_filters(spark):
    from elasticsearch_hadoop_spark.search import highlight

    df = spark.createDataFrame(
        [(1, "a Hash join beats hashing"), (2, "no match here"), (3, None)],
        "id int, text string",
    )
    out = {r["id"]: r["highlight"] for r in highlight(df, "text", "hash").collect()}
    # word boundary: "hashing" untouched; case preserved in the wrap
    assert out == {1: "a <em>Hash</em> join beats hashing"}
    kept = highlight(df, "text", "hash", matched_only=False)
    assert kept.count() == 3  # non-matching rows retained on request


def test_highlight_multi_term_and_tags(spark):
    from elasticsearch_hadoop_spark.search import highlight

    df = spark.createDataFrame([(1, "sort or scan")], "id int, text string")
    (row,) = highlight(df, "text", "Scan, SORT!", pre_tag="[", post_tag="]").collect()
    assert row["highlight"] == "[sort] or [scan]"


def test_terms_enum_prefix_size(spark):
    from elasticsearch_hadoop_spark.search import terms_enum

    df = spark.createDataFrame(
        [(f"src{i}",) for i in range(20)] + [("src1",), (None,)], "source string"
    )
    got = [r["term"] for r in terms_enum(df, "source", prefix="src1", size=5).collect()]
    assert got == ["src1", "src10", "src11", "src12", "src13"]  # sorted, deduped, cut
    assert terms_enum(df, "source", prefix="SRC1", case_insensitive=True, size=3).count() == 3


def test_suggest_terms_ranks_distance_then_freq(spark):
    from elasticsearch_hadoop_spark.search import suggest_terms

    df = spark.createDataFrame(
        [Row(t="table table table chair"), Row(t="cable table")]
    )
    out = suggest_terms(df, "t", ["tabel"], max_edits=2, size=3).collect()
    # 'table' (freq 4, distance 2) and 'cable' (freq 1, distance 2)... but
    # distance('tabel','table')=2, ('tabel','cable')=3 -> only 'table'? rely on result
    assert out[0]["term"] == "table"
    assert all(1 <= r["distance"] <= 2 for r in out)
    ranks = [r["suggest_rank"] for r in out]
    assert ranks == sorted(ranks)


def test_suggest_terms_excludes_exact_match(spark):
    from elasticsearch_hadoop_spark.search import suggest_terms

    df = spark.createDataFrame([Row(t="table cable")])
    out = suggest_terms(df, "t", ["table"], max_edits=2, size=5).collect()
    assert "table" not in [r["term"] for r in out]
    assert "cable" in [r["term"] for r in out]


def test_mget_preserves_request_order_and_found(spark):
    from elasticsearch_hadoop_spark.search import mget

    df = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    out = mget(df, [2, 99, 1], id_col="id").collect()
    assert [r["req_ord"] for r in out] == [0, 1, 2]
    assert [r["id"] for r in out] == [2, 99, 1]
    assert [r["found"] for r in out] == [True, False, True]
    assert out[1]["v"] is None


def test_mget_empty_ids_rejected(spark):
    from elasticsearch_hadoop_spark.search import mget

    df = spark.createDataFrame([Row(id=1)])
    with pytest.raises(ValueError, match="at least one id"):
        mget(df, [], id_col="id")


def test_msearch_tags_and_limits(spark):
    from elasticsearch_hadoop_spark.search import msearch

    df = spark.createDataFrame([Row(id=i, k="ab"[i % 2]) for i in range(10)])
    out = msearch(
        df,
        [
            {"query": {"term": {"k": "a"}}, "sort": [{"id": "asc"}], "size": 2},
            {"query": {"term": {"k": "b"}}, "sort": [{"id": "desc"}], "size": 1},
            {"query": {"match_all": {}}},
        ],
    ).collect()
    by_req = {}
    for r in out:
        by_req.setdefault(r["request"], []).append(r["id"])
    assert sorted(by_req[0]) == [0, 2]
    assert by_req[1] == [9]
    assert len(by_req[2]) == 10


def test_scroll_pages_cover_everything_once(spark):
    from elasticsearch_hadoop_spark.search import scroll

    df = spark.createDataFrame([Row(id=i, v=i % 3) for i in range(25)])
    pages = list(scroll(df, sort=[{"v": "asc"}, {"id": "asc"}], size=10))
    assert [len(p) for p in pages] == [10, 10, 5]
    seen = [r["id"] for p in pages for r in p]
    assert sorted(seen) == list(range(25))
    # pages are globally ordered under the sort
    keys = [(r["v"], r["id"]) for p in pages for r in p]
    assert keys == sorted(keys)


def test_scroll_exact_multiple_terminates(spark):
    from elasticsearch_hadoop_spark.search import scroll

    df = spark.createDataFrame([Row(id=i) for i in range(10)])
    pages = list(scroll(df, sort=[{"id": "asc"}], size=5))
    assert [len(p) for p in pages] == [5, 5]


def test_field_caps_types_and_aggregatable(spark):
    from elasticsearch_hadoop_spark.search import field_caps

    df = spark.createDataFrame(
        [Row(a=1, b="x", c=[1, 2])]
    )
    caps = {r["field"]: (r["type"], r["aggregatable"]) for r in field_caps(df).collect()}
    assert caps["a"] == ("bigint", True)
    assert caps["b"] == ("string", True)
    assert caps["c"][0].startswith("array") and caps["c"][1] is False


class TestSearchTemplate:
    def test_render_scalars_and_tojson(self):
        from elasticsearch_hadoop_spark.search import render_search_template

        t = ('{"query": {"terms": {"k": {{#toJson}}vals{{/toJson}}}}, '
             '"size": "{{size}}", "tag": "pre-{{name}}-post"}')
        body = render_search_template(t, {"vals": [1, 2], "size": 5, "name": "x"})
        assert body["query"]["terms"]["k"] == [1, 2]
        assert body["size"] == 5  # quotes dissolved for the numeric param
        assert body["tag"] == "pre-x-post"

    def test_render_default_and_missing(self):
        import pytest
        from elasticsearch_hadoop_spark.search import render_search_template

        t = '{"size": "{{size}}{{^size}}20{{/size}}"}'
        assert render_search_template(t, {})["size"] == "20"
        assert render_search_template(t, {"size": 7})["size"] == "7"
        with pytest.raises(KeyError):
            render_search_template('{"a": "{{missing}}"}', {})

    def test_render_string_param_stays_quoted(self):
        from elasticsearch_hadoop_spark.search import render_search_template

        body = render_search_template('{"f": "{{v}}"}', {"v": 'he said "hi"'})
        assert body["f"] == 'he said "hi"'


def test_suggest_completion_prefix_weight_rank(spark):
    df = spark.createDataFrame(
        [("small widget", 3), ("small bolt", 9), ("smart cap", 1),
         ("large bolt", 5), ("small widget", 7)],
        ["name", "w"],
    )
    from elasticsearch_hadoop_spark.search import suggest_completion

    out = suggest_completion(df, "name", "small", size=2, weight_col="w").collect()
    assert [(r["text"], r["weight"], r["doc_count"], r["suggest_rank"]) for r in out] == [
        ("small bolt", 9, 1, 1),
        ("small widget", 7, 2, 2),
    ]
    # default weight = doc frequency
    out2 = suggest_completion(df, "name", "small", size=1).collect()
    assert out2[0]["text"] == "small widget" and out2[0]["weight"] == 2


def test_suggest_completion_fuzzy_prefix(spark):
    df = spark.createDataFrame([("small widget",), ("large bolt",)], ["name"])
    from elasticsearch_hadoop_spark.search import suggest_completion

    strict = suggest_completion(df, "name", "smal", size=5).collect()
    assert len(strict) == 1
    fuzzy = suggest_completion(
        df, "name", "smoll", size=5, fuzzy=True, max_edits=1
    ).collect()
    assert [r["text"] for r in fuzzy] == ["small widget"]
    none = suggest_completion(df, "name", "smoll", size=5).collect()
    assert none == []


def test_suggest_phrase_corrects_and_scores(spark):
    df = spark.createDataFrame(
        [("merge sort merge window",), ("merge window scan",)], ["text"]
    )
    from elasticsearch_hadoop_spark.search import suggest_phrase

    row = suggest_phrase(df, "text", "mrege sort windw").collect()[0]
    assert row["suggestion"] == "merge sort window"
    assert row["n_corrections"] == 2
    assert row["score"] < 0  # log-prob sum
    # OOV token with no candidate within max_edits stays verbatim
    row2 = suggest_phrase(df, "text", "zzzzzzz sort").collect()[0]
    assert row2["suggestion"] == "zzzzzzz sort"
    assert row2["n_corrections"] == 0


def test_rrf_fuse_scores_and_ranks(spark):
    from elasticsearch_hadoop_spark.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "rank"])
    b = spark.createDataFrame([(3, 1), (1, 2), (4, 3)], ["id", "rank"])
    out = rrf_fuse([a, b], "id", k=60, size=10).orderBy("fused_rank").collect()
    scores = {r["id"]: (round(r["rrf_score"], 6), r["n_lists"]) for r in out}
    assert scores[1] == (round(1 / 61 + 1 / 62, 6), 2)
    assert scores[3] == (round(1 / 63 + 1 / 61, 6), 2)
    assert scores[2] == (round(1 / 62, 6), 1)
    assert scores[4] == (round(1 / 63, 6), 1)
    # doc 1 (1st + 2nd) outranks doc 3 (3rd + 1st)
    assert [r["id"] for r in out[:2]] == [1, 3]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([], "id")


def test_rank_eval_metrics(spark):
    from elasticsearch_hadoop_spark.search import rank_eval

    ranked = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "y", 2)],
        ["request", "_id", "rank"],
    )
    ratings = spark.createDataFrame(
        [("q1", "a", 3), ("q1", "c", 1), ("q1", "d", 2),
         ("q2", "z", 1)],
        ["request", "_id", "rating"],
    )
    out = {r["request"]: r for r in rank_eval(ranked, ratings, k=3).collect()}
    q1 = out["q1"]
    # top-3 ratings: a=3, b=0, c=1 -> 2 relevant of 3 retrieved
    assert abs(q1["precision_k"] - 2 / 3) < 1e-9
    # 3 total relevant judged (a, c, d) -> recall 2/3
    assert abs(q1["recall_k"] - 2 / 3) < 1e-9
    assert q1["mrr"] == 1.0  # first relevant at rank 1
    import math

    dcg = (2**3 - 1) / math.log2(2) + 0.0 + (2**1 - 1) / math.log2(4)
    idcg = (2**3 - 1) / math.log2(2) + (2**2 - 1) / math.log2(3) + (2**1 - 1) / math.log2(4)
    assert abs(q1["dcg"] - dcg) < 1e-9
    assert abs(q1["ndcg"] - dcg / idcg) < 1e-9
    q2 = out["q2"]
    # nothing relevant retrieved
    assert q2["precision_k"] == 0.0 and q2["mrr"] == 0.0 and q2["ndcg"] == 0.0
    assert q2["recall_k"] == 0.0


def test_linear_fuse_minmax_weighted(spark):
    from elasticsearch_hadoop_spark.search import linear_fuse

    a = spark.createDataFrame([(1, 10.0), (2, 5.0), (3, 0.0)], ["id", "_score"])
    b = spark.createDataFrame([(3, 2.0), (2, 1.0)], ["id", "_score"])
    out = {r["id"]: r for r in
           linear_fuse([a, b], "id", weights=[1.0, 2.0]).collect()}
    assert out[1]["linear_score"] == pytest.approx(1.0)       # 1*1.0 + 0
    assert out[2]["linear_score"] == pytest.approx(0.5)       # 1*0.5 + 2*0
    assert out[3]["linear_score"] == pytest.approx(2.0)       # 0 + 2*1.0
    assert out[3]["fused_rank"] == 1
    with pytest.raises(ValueError, match="weights"):
        linear_fuse([a, b], "id", weights=[1.0])


def test_sparse_vector_query_and_score(spark):
    from elasticsearch_hadoop_spark.functions.similarity import sparse_dot
    from elasticsearch_hadoop_spark.query_dsl import compile_query

    df = spark.createDataFrame(
        [(1, {"ml": 2.0, "data": 1.0}), (2, {"cook": 3.0}), (3, None)],
        "id int, tw map<string,double>",
    )
    q = {"sparse_vector": {"field": "tw", "query_vector": {"ml": 0.5, "ai": 1.0}}}
    got = [r["id"] for r in df.filter(compile_query(q)).collect()]
    assert got == [1]
    scored = df.select(
        "id", sparse_dot(F.col("tw"), {"ml": 0.5, "data": 2.0}).alias("s")
    ).collect()
    s = {r["id"]: r["s"] for r in scored}
    assert s[1] == pytest.approx(2.0 * 0.5 + 1.0 * 2.0)
    assert s[2] == 0.0


def test_termvectors_freq_and_positions(spark):
    from elasticsearch_hadoop_spark.search import termvectors

    df = spark.createDataFrame([(1, "the cat the hat")], ["id", "text"])
    out = {r["term"]: (r["term_freq"], r["positions"])
           for r in termvectors(df, "text", "id").collect()}
    assert out["the"] == (2, [0, 2])
    assert out["cat"] == (1, [1])
    no_pos = termvectors(df, "text", "id", positions=False)
    assert "positions" not in no_pos.columns


def test_validate_query(spark):
    from elasticsearch_hadoop_spark.query_dsl import validate_query

    ok = validate_query({"term": {"f": "x"}})
    assert ok["valid"] and ok["error"] is None and "f" in ok["explanation"]
    bad = validate_query({"frobnicate": {}})
    assert not bad["valid"] and "frobnicate" in bad["error"]


class TestSearchScore:
    """search(): materialized `_score` for the deterministic subset
    (the `_metadata._score` analogue), sort/size/from semantics."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, float(i * 10), "en" if i % 2 else "fr") for i in range(1, 9)]
        return spark.createDataFrame(rows, "k long, price double, lang string")

    def test_function_score_ranked(self, corpus):
        from elasticsearch_hadoop_spark.search import search

        body = {
            "query": {
                "function_score": {
                    "query": {"term": {"lang": "en"}},
                    "functions": [{"field_value_factor": {"field": "price"}}],
                }
            },
            "size": 3,
        }
        hits = search(corpus, body, id_col="k").collect()
        assert [r["k"] for r in hits] == [7, 5, 3]  # price desc
        assert [r["_score"] for r in hits] == [70.0, 50.0, 30.0]

    def test_constant_score_boost_and_filter_context(self, corpus):
        from elasticsearch_hadoop_spark.search import search

        hits = search(
            corpus,
            {"query": {"constant_score": {"filter": {"term": {"lang": "fr"}}, "boost": 3.5}}},
            id_col="k",
        ).collect()
        assert hits and all(r["_score"] == 3.5 for r in hits)
        # non-scoring clause: filter context, constant 1.0
        hits = search(corpus, {"query": {"range": {"k": {"gte": 7}}}}, id_col="k").collect()
        assert [r["k"] for r in hits] == [7, 8]
        assert all(r["_score"] == 1.0 for r in hits)

    def test_bare_score_sort_defaults_desc_and_id_tiebreak(self, corpus):
        from elasticsearch_hadoop_spark.search import search

        # constant score everywhere: ordering must fall back to k asc
        body = {"query": {"match_all": {}}, "sort": ["_score"], "size": 4}
        hits = search(corpus, body, id_col="k").collect()
        assert [r["k"] for r in hits] == [1, 2, 3, 4]

    def test_from_pages_without_overlap(self, corpus):
        from elasticsearch_hadoop_spark.search import search

        body = {
            "query": {
                "function_score": {"functions": [{"field_value_factor": {"field": "price"}}]}
            },
            "size": 3,
        }
        page1 = [r["k"] for r in search(corpus, body, id_col="k").collect()]
        page2 = [
            r["k"]
            for r in search(corpus, {**body, "from": 3}, id_col="k").collect()
        ]
        assert page1 == [8, 7, 6] and page2 == [5, 4, 3]
        assert "__rn" not in search(corpus, {**body, "from": 3}, id_col="k").columns

    def test_from_plans_one_top_n(self, spark):
        """``from`` is Spark's Offset folded into the page's top-N: one
        job, and the root operator is a TakeOrderedAndProject that keeps
        ``from + size`` rows and skips ``from`` of them — no Window, no
        exchange."""
        from elasticsearch_hadoop_spark.search import search
        from tests.conftest import count_jobs, plan_nodes

        corpus = spark.range(1, 9, numPartitions=3).selectExpr(
            "id AS k", "id * 10.0 AS price"
        )
        body = {"query": {"match_all": {}}, "sort": [{"price": "desc"}], "size": 3, "from": 3}
        page = search(corpus, body, id_col="k")
        nodes = plan_nodes(page)
        assert nodes[0].nodeName() == "TakeOrderedAndProject"
        assert (nodes[0].limit(), nodes[0].offset()) == (6, 3)
        assert not {"Window", "Exchange"} & {n.nodeName() for n in nodes}
        rows, jobs = count_jobs(spark, page.collect)
        assert [r["k"] for r in rows] == [5, 4, 3] and jobs == 1

    def test_min_score_and_field_sort(self, corpus):
        from elasticsearch_hadoop_spark.search import search

        body = {
            "query": {
                "function_score": {"functions": [{"field_value_factor": {"field": "price"}}]}
            },
            "min_score": 45.0,
            "sort": [{"lang": {"order": "asc"}}, {"k": "desc"}],
            "size": 10,
        }
        hits = search(corpus, body, id_col="k").collect()
        # scores >= 45 -> k in {5..8}; sorted lang asc then k desc
        assert [r["k"] for r in hits] == [7, 5, 8, 6]


class TestRetrieverTree:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (i, float(i), [float(i), float(10 - i)]) for i in range(1, 9)
        ]
        return spark.createDataFrame(rows, "k long, price double, emb array<double>")

    def test_standard_and_knn_leaves(self, corpus):
        from elasticsearch_hadoop_spark.search import compile_retriever

        std = compile_retriever(
            corpus,
            {"standard": {"query": {"function_score": {"functions": [
                {"field_value_factor": {"field": "price"}}]}},
                "filter": {"range": {"k": {"lte": 5}}}}},
            id_col="k", size=3,
        ).collect()
        assert [r["k"] for r in std] == [5, 4, 3]
        assert [r["rank"] for r in std] == [1, 2, 3]
        knn = compile_retriever(
            corpus,
            {"knn": {"field": "emb", "query_vector": [1.0, 0.0], "k": 2}},
            id_col="k",
        ).collect()
        # cosine toward (1, 0): maximized by the largest k/(10-k) ratio
        assert [r["k"] for r in knn] == [8, 7]

    def test_linear_fusion_and_weights(self, corpus):
        from elasticsearch_hadoop_spark.search import compile_retriever

        body = {"linear": {
            "rank_window_size": 3,
            "retrievers": [
                {"retriever": {"standard": {"query": {"function_score": {
                    "functions": [{"field_value_factor": {"field": "price"}}]}}}},
                 "weight": 1.0},
                {"retriever": {"knn": {"field": "emb",
                                       "query_vector": [0.0, 1.0]}},
                 "weight": 3.0},
            ],
        }}
        out = compile_retriever(corpus, body, id_col="k", size=8).collect()
        # ES semantics: rank_window_size is the per-sub-list DEPTH (3 from
        # each side -> union of {1,2,3} and {8,7,6}); size caps the output
        assert sorted(r["k"] for r in out) == [1, 2, 3, 6, 7, 8]
        # knn toward (0,1) favors SMALL k with weight 3 -> k=1 wins
        assert out[0]["k"] == 1 and out[0]["rank"] == 1
        capped = compile_retriever(corpus, body, id_col="k", size=2).collect()
        assert [r["k"] for r in capped] == [1, 2]

    def test_pinned_promotes_declared_order(self, corpus):
        from elasticsearch_hadoop_spark.search import compile_retriever

        body = {"pinned": {
            "ids": [2, 6],
            "retriever": {"standard": {"query": {"function_score": {
                "functions": [{"field_value_factor": {"field": "price"}}]}}}},
        }}
        out = compile_retriever(corpus, body, id_col="k", size=5).collect()
        assert [r["k"] for r in out[:2]] == [2, 6]
        assert [r["k"] for r in out[2:]] == [8, 7, 5]  # organic, pins removed

    def test_rejections(self, corpus):
        import pytest as _pytest

        from elasticsearch_hadoop_spark.search import compile_retriever

        with _pytest.raises(ValueError, match="model or rules"):
            compile_retriever(corpus, {"text_similarity_reranker": {}}, id_col="k")
        with _pytest.raises(ValueError, match=">= 2"):
            compile_retriever(corpus, {"rrf": {"retrievers": [
                {"knn": {"field": "emb", "query_vector": [1.0, 0.0]}}]}}, id_col="k")
        with _pytest.raises(ValueError, match="normalizer"):
            compile_retriever(corpus, {"linear": {"retrievers": [
                {"retriever": {"knn": {"field": "emb", "query_vector": [1.0, 0.0]}},
                 "normalizer": "l2_norm"},
                {"retriever": {"knn": {"field": "emb", "query_vector": [0.0, 1.0]}}},
            ]}}, id_col="k")


class TestPainlessStringMethods:
    """Round-7 painless-lite String methods (compile_script): method
    chains rewrite innermost-out to Spark SQL with exact 0-/1-based
    index translation; unknown methods still reject."""

    @pytest.fixture(scope="class")
    def sdf(self, spark):
        return spark.createDataFrame([(" Hello,World ", "He")], "s string, p string")

    @pytest.mark.parametrize("script,want", [
        ("emit(doc['s'].value.trim().toLowerCase())", "hello,world"),
        ("emit(doc['s'].value.contains('World'))", True),
        ("emit(doc['s'].value.trim().startsWith('Hel'))", True),
        ("emit(doc['s'].value.trim().endsWith('rld'))", True),
        ("emit(doc['s'].value.trim().substring(6))", "World"),
        ("emit(doc['s'].value.trim().substring(0, 5))", "Hello"),
        ("emit(doc['s'].value.indexOf('World'))", 7),
        ("emit(doc['s'].value.indexOf('zzz'))", -1),
        # chains resolve across passes; args with commas inside quotes
        ("emit(doc['s'].value.trim().toLowerCase().contains('o,w'))", True),
        ("emit(doc['s'].value.trim().toLowerCase().substring(1, 4).endsWith('ll'))", True),
        # a column as an argument; two independent calls in one script
        ("emit(doc['s'].value.trim().startsWith(doc['p'].value))", True),
        ("emit(doc['s'].value.contains('a') AND doc['p'].value.contains('H'))", False),
        # the Math surface additions
        ("emit(Math.exp(0.0) + Math.log10(100.0) + Math.signum(-5.0))", 2.0),
    ])
    def test_methods(self, sdf, script, want):
        assert sdf.select(compile_script(script).alias("x")).collect()[0]["x"] == want

    def test_unknown_method_rejects(self, sdf):
        from elasticsearch_hadoop_spark.runtime_fields import RuntimeFieldError

        with pytest.raises(RuntimeFieldError, match="replace"):
            compile_script("emit(doc['s'].value.replace('a','b'))")
        with pytest.raises(RuntimeFieldError, match="argument"):
            compile_script("emit(doc['s'].value.substring(1, 2, 3))")

    def test_too_nested_args_reject_typed(self, sdf):
        """A method whose arguments the receiver grammar can't resolve
        must raise RuntimeFieldError, not leak into F.expr as a phantom
        routine (review r7 finding)."""
        from elasticsearch_hadoop_spark.runtime_fields import RuntimeFieldError

        with pytest.raises(RuntimeFieldError, match="method"):
            compile_script(
                "emit(doc['s'].value.contains(doc['p'].value.substring(1)))"
            )

    def test_search_accepts_bare_string_sort(self, sdf, spark):
        from elasticsearch_hadoop_spark.search import search

        df = spark.createDataFrame([(2, 5.0), (1, 9.0)], "k long, price double")
        out = search(df, {"query": {"match_all": {}}, "sort": "price"}, id_col="k")
        assert [r["k"] for r in out.collect()] == [2, 1]

    @pytest.mark.parametrize("script,want", [
        # string literals survive every textual rewrite (review r7-2):
        # boolean operators, Math names, ternary chars, parens inside them
        ("emit(doc['s'].value.contains('a&&b'))", False),
        ("emit(doc['s'].value.contains('x||y'))", False),
        ("emit(doc['s'].value.contains('a:b') OR doc['s'].value.contains('o,W'))", True),
        ("emit(doc['s'].value.contains('x?y'))", False),
        ("emit(doc['s'].value.contains('(a)'))", False),
        ("emit(doc['s'].value.contains('Math.log'))", False),
        # .length() composes with chains now
        ("emit(doc['s'].value.trim().length())", 11),
        ("emit(doc['s'].value.trim().substring(0, 5).length())", 5),
    ])
    def test_literal_masking_and_length_chain(self, sdf, script, want):
        assert sdf.select(compile_script(script).alias("x")).collect()[0]["x"] == want


def test_explain_doc_matched_found_and_score(spark):
    """ES _explain: found/matched flags, deterministic-subset _score,
    compiled-predicate explanation; missing id is the 404 case."""
    from elasticsearch_hadoop_spark.search import explain_doc

    df = spark.createDataFrame(
        [(1, "open", 10.0), (2, "closed", 5.0)], "id int, st string, w double"
    )
    hit = explain_doc(df, 1, {"term": {"st": "open"}}, id_col="id")
    assert hit["found"] and hit["matched"] and hit["_score"] == 1.0
    assert hit["_id"] == 1 and "open" in hit["explanation"]
    miss = explain_doc(df, 2, {"term": {"st": "open"}}, id_col="id")
    assert miss["found"] and not miss["matched"] and miss["_score"] is None
    gone = explain_doc(df, 99, {"term": {"st": "open"}}, id_col="id")
    assert not gone["found"] and not gone["matched"] and gone["_score"] is None
    # deterministic scoring subset flows through (field_value_factor)
    fs = explain_doc(
        df, 1,
        {"function_score": {
            "query": {"term": {"st": "open"}},
            "field_value_factor": {"field": "w", "factor": 2.0},
        }},
        id_col="id",
    )
    assert fs["matched"] and fs["_score"] == 20.0
    # constant_score boost
    cs = explain_doc(
        df, 2, {"constant_score": {"filter": {"term": {"st": "closed"}},
                                   "boost": 3.5}}, id_col="id")
    assert cs["matched"] and cs["_score"] == 3.5

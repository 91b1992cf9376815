"""Regression tests for the round-1 advisor findings: dict-form match
specs, bulk action-line disambiguation, EqualNullSafe null semantics,
delete_by_query schema drift, continuous-aggregate key collisions, and
resolver-stack thread isolation."""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualNullSafe, EqualTo

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.catalog import Catalog
from elasticsearch_hadoop_spark.query_dsl import _RESOLVER_STACK, compile_query
from elasticsearch_hadoop_spark.sources.es_datasource import (
    EsDocsDataSource,
    _filter_ok,
    _is_bulk_action,
    match_doc,
)

MAPPING = json.dumps(
    {
        "properties": {
            "doc_id": {"type": "long"},
            "name": {"type": "keyword"},
            "index": {"type": "keyword"},
        }
    }
)


# ---------------------------------------------------------------- match_doc


def test_match_dict_spec_uses_query_key():
    d = {"name": "the quick brown fox"}
    # dict form spells the needle "query"; the dict repr must NOT be matched
    assert match_doc(d, {"match": {"name": {"query": "fox"}}})
    assert not match_doc(d, {"match": {"name": {"query": "dog"}}})
    # a doc containing the literal token "query" must not spuriously match
    assert not match_doc({"name": "query plan"}, {"match": {"name": {"query": "fox"}}})


def test_match_operator_and_requires_all_tokens():
    d = {"name": "the quick brown fox"}
    assert match_doc(d, {"match": {"name": {"query": "quick fox", "operator": "and"}}})
    assert not match_doc(d, {"match": {"name": {"query": "quick dog", "operator": "and"}}})
    # OR (default) still matches on any token
    assert match_doc(d, {"match": {"name": {"query": "quick dog"}}})


def test_match_phrase_dict_spec():
    d = {"name": "the quick brown fox"}
    assert match_doc(d, {"match_phrase": {"name": {"query": "quick brown"}}})
    assert not match_doc(d, {"match_phrase": {"name": {"query": "brown quick"}}})


def test_match_doc_agrees_with_compiled_column(spark):
    """Differential: dict-form match must agree with query_dsl's compiled
    Column on the same docs (the gap the advisor flagged as untested)."""
    rows = [
        ("the quick brown fox",),
        ("quick dog",),
        ("query plan optimizer",),
        ("fox",),
    ]
    df = spark.createDataFrame(rows, "name string")
    for q in (
        {"match": {"name": {"query": "quick fox", "operator": "and"}}},
        {"match": {"name": {"query": "quick fox"}}},
        {"match_phrase": {"name": {"query": "quick brown"}}},
    ):
        compiled = sorted(
            r["name"] for r in df.filter(compile_query({"query": q})).collect()
        )
        doc_side = sorted(name for (name,) in rows if match_doc({"name": name}, q))
        assert compiled == doc_side, q


# ------------------------------------------------------- bulk action lines


def test_is_bulk_action_shape():
    assert _is_bulk_action({"index": {"_id": 1}})
    assert _is_bulk_action({"delete": {"_id": 1}})
    assert _is_bulk_action({"create": {}})
    # a DOCUMENT whose first/only field is named like an op is not an action
    assert not _is_bulk_action({"index": "idx-2024"})
    assert not _is_bulk_action({"index": {"anything": 1}})
    assert not _is_bulk_action({"index": {"_id": 1}, "x": 2})


def test_bulk_read_keeps_docs_with_op_named_fields(spark, tmp_path):
    spark.dataSource.register(EsDocsDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    p = tmp_path / "idx"
    p.mkdir()
    lines = [
        {"index": {"_id": 1}},
        {"doc_id": 1, "name": "a", "index": "idx-2024"},  # field named "index"
        {"update": {"_id": 2}},
        {"doc": {"doc_id": 2, "name": "b", "index": None}},  # update source line
        {"delete": {"_id": 9}},  # no source line follows
        {"index": {"_id": 3}},
        {"doc_id": 3, "name": "c", "index": "idx-2025"},
    ]
    with open(p / "shard0.ndjson", "w") as fh:
        for d in lines:
            fh.write(json.dumps(d) + "\n")
    df = (
        spark.read.format("esdocs")
        .option("path", str(p))
        .option("mapping", MAPPING)
        .load()
    )
    got = {r["doc_id"]: (r["name"], r["index"]) for r in df.collect()}
    assert got == {1: ("a", "idx-2024"), 2: ("b", None), 3: ("c", "idx-2025")}


# ------------------------------------------------------------ EqualNullSafe


def test_equal_null_safe_null_semantics():
    assert _filter_ok({"f": None}, EqualNullSafe(("f",), None))
    assert _filter_ok({}, EqualNullSafe(("f",), None))
    assert not _filter_ok({"f": 1}, EqualNullSafe(("f",), None))
    assert not _filter_ok({"f": None}, EqualNullSafe(("f",), 1))
    assert _filter_ok({"f": 1}, EqualNullSafe(("f",), 1))
    # EqualTo keeps SQL semantics: null = anything is not a match
    assert not _filter_ok({"f": None}, EqualTo(("f",), None))


# ------------------------------------- delete_by_query after schema drift


def test_delete_by_query_preserves_drifted_column(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    cat.write_index(df1, "drift")
    # blind append adds a column (dynamic-mapping drift)
    df2 = spark.createDataFrame([(3, "c", 9.5)], "id long, name string, score double")
    cat.write_index(df2, "drift", mode="append")
    deleted = cat.delete_by_query("drift", {"term": {"name": "a"}})
    assert deleted == 1
    # the files the live snapshot lists, read without the recorded schema
    live = txn.latest(cat.path("drift"))[1]
    out = spark.read.option("mergeSchema", "true").parquet(*live)
    assert "score" in out.columns, "drifted column lost by delete_by_query rewrite"
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {2, 3}
    assert rows[3]["score"] == 9.5


# --------------------------------------- continuous-aggregate key identity


def test_continuous_aggregate_key_tuples_do_not_collide(spark, tmp_path):
    from elasticsearch_hadoop_spark.streaming.pipeline import continuous_aggregate

    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"a": "a", "b": "bc", "v": 1},
        {"a": "ab", "b": "c", "v": 10},
        {"a": None, "b": "x", "v": 100},
        {"a": "x", "b": None, "v": 1000},
    ]
    with open(src / "batch0.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("a string, b string, v long")
        .json(str(src))
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    q = continuous_aggregate(
        stream,
        cat,
        dest="rollup",
        key_cols=["a", "b"],
        aggs={"total": F.sum("v")},
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    out = cat.read_index("rollup")
    totals = {(r["a"], r["b"]): r["total"] for r in out.collect()}
    assert totals == {
        ("a", "bc"): 1,
        ("ab", "c"): 10,
        (None, "x"): 100,
        ("x", None): 1000,
    }, "distinct key tuples must stay distinct groups"


# -------------------------------------------------- resolver thread safety


def test_nested_compile_is_thread_isolated():
    nested = {
        "nested": {
            "path": "items",
            "query": {"term": {"items.tag": "t"}},
        }
    }
    flat = {"term": {"tag": "t"}}

    def compile_pair(_):
        for _ in range(50):
            compile_query({"query": nested})
            compile_query({"query": flat})
        return _RESOLVER_STACK.get()

    with ThreadPoolExecutor(max_workers=8) as ex:
        leftovers = list(ex.map(compile_pair, range(8)))
    assert all(stack == () for stack in leftovers), "resolver leaked"
    assert _RESOLVER_STACK.get() == ()


def test_children_bucket_missing_type_is_typed_error(spark):
    """ADVICE r7: a children/parent bucket body without the required
    'type' key must raise AggsDslError (like every other bucket kind),
    not a bare KeyError."""
    from elasticsearch_hadoop_spark.aggs_dsl import AggsDslError, compile_aggs

    df = spark.range(1).select(F.col("id").alias("_id"))
    base = df.withColumn(
        "join_field", F.struct(F.lit("q").alias("name"), F.lit(None).cast("string").alias("parent"))
    )
    for kind in ("children", "parent"):
        with pytest.raises(AggsDslError, match="type"):
            compile_aggs(df, {"x": {kind: {}, "aggs": {"n": {"value_count": {"field": "_id"}}}}}, base_df=base)

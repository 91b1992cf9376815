"""Catalog ("index" abstraction) round-trip tests — the reference's own
itest pattern (write-then-read equality, SURVEY.md §5: AbstractScalaEsSparkSQL
save-mode / multi-index coverage), re-expressed for the parquet-backed engine."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.catalog import (
    Catalog,
    DocumentConflictError,
    DocumentMissingError,
    IndexExistsError,
    dedupe_last,
)
from tests.conftest import bounded, dying_dump


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "indices"))


def docs(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


BASE = [
    {"k": 1, "v": "a", "n": 10},
    {"k": 2, "v": "b", "n": 20},
    {"k": 3, "v": "c", "n": 30},
]


def as_dicts(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda d: d["k"])


def test_append_roundtrip(spark, cat):
    cat.write_index(docs(spark, BASE), "t1")
    got = as_dicts(cat.read_index("t1"))
    assert got == BASE
    # blind append (no id): rows accumulate
    cat.write_index(docs(spark, BASE[:1]), "t1")
    assert cat.count_index("t1") == 4


def test_save_modes(spark, cat):
    cat.write_index(docs(spark, BASE), "t2")
    with pytest.raises(IndexExistsError):
        cat.write_index(docs(spark, BASE), "t2", mode="error")
    cat.write_index(docs(spark, BASE[:1]), "t2", mode="ignore")
    assert cat.count_index("t2") == 3  # ignore: untouched
    cat.write_index(docs(spark, BASE[:1]), "t2", mode="overwrite")
    assert cat.count_index("t2") == 1  # truncate parity


def test_index_op_last_write_wins(spark, cat):
    cat.write_index(docs(spark, BASE), "t3", id_col="k")
    # batch has k=2 twice; last occurrence wins, and it replaces the stored doc
    batch = docs(
        spark,
        [{"k": 2, "v": "first", "n": 0}, {"k": 2, "v": "last", "n": 99}, {"k": 4, "v": "d", "n": 40}],
    )
    cat.write_index(batch, "t3", id_col="k", operation="index")
    got = {d["k"]: d for d in as_dicts(cat.read_index("t3"))}
    assert got[2]["v"] == "last" and got[2]["n"] == 99
    assert set(got) == {1, 2, 3, 4}


def test_create_conflict(spark, cat):
    cat.write_index(docs(spark, BASE), "t4", id_col="k")
    with pytest.raises(DocumentConflictError):
        cat.write_index(docs(spark, BASE[:1]), "t4", id_col="k", operation="create")
    cat.write_index(docs(spark, [{"k": 9, "v": "z", "n": 90}]), "t4", id_col="k", operation="create")
    assert cat.count_index("t4") == 4


def test_update_and_upsert(spark, cat):
    cat.write_index(docs(spark, BASE), "t5", id_col="k")
    with pytest.raises(DocumentMissingError):
        cat.write_index(
            docs(spark, [{"k": 7, "v": "x", "n": 0}]), "t5", id_col="k", operation="update"
        )
    cat.write_index(
        docs(spark, [{"k": 1, "v": "A", "n": 11}]), "t5", id_col="k", operation="update"
    )
    got = {d["k"]: d for d in as_dicts(cat.read_index("t5"))}
    assert got[1]["v"] == "A"
    cat.write_index(
        docs(spark, [{"k": 7, "v": "x", "n": 70}, {"k": 2, "v": "B", "n": 22}]),
        "t5",
        id_col="k",
        operation="upsert",
    )
    got = {d["k"]: d for d in as_dicts(cat.read_index("t5"))}
    assert set(got) == {1, 2, 3, 7} and got[2]["v"] == "B" and got[7]["n"] == 70


def test_scripted_update(spark, cat):
    """A11 parity: painless `ctx._source.n += params.n` becomes a Column
    expression over existing + _new_* columns."""
    cat.write_index(docs(spark, BASE), "t6", id_col="k")
    cat.write_index(
        docs(spark, [{"k": 1, "v": "ignored", "n": 5}, {"k": 8, "v": "new", "n": 80}]),
        "t6",
        id_col="k",
        operation="upsert",
        on_match={"n": F.col("n") + F.col("_new_n")},
    )
    got = {d["k"]: d for d in as_dicts(cat.read_index("t6"))}
    assert got[1]["n"] == 15  # 10 + 5, v untouched by script
    assert got[1]["v"] == "a"
    assert got[8]["n"] == 80  # insert branch takes the new doc wholesale


def test_delete(spark, cat):
    cat.write_index(docs(spark, BASE), "t7", id_col="k")
    cat.write_index(docs(spark, BASE[:2]), "t7", id_col="k", operation="delete")
    assert [d["k"] for d in as_dicts(cat.read_index("t7"))] == [3]


def _seed_with_duplicate_id(spark, cat, name):
    """An index CAN hold duplicate _ids: a blind append (no id_col) of a
    frame that carries its own _id runs no merge, so the copy lands as-is —
    the shape that used to confuse the update paths' miss accounting (r14
    verdict #2 / advice)."""
    cat.write_index(docs(spark, BASE), name, id_col="k", mode="overwrite")
    cat.write_index(
        docs(spark, [{"k": 2, "v": "dup", "n": 21}]).withColumn("_id", F.lit("2")), name
    )


def test_update_missing_id_raises_despite_duplicate_ids(spark, cat):
    # k=2 now has TWO rows; the old o_in - o_match subtraction let the
    # inner-join fan-out (+1) cancel a genuinely missing id (-1) and the
    # DocumentMissingError was silently masked
    _seed_with_duplicate_id(spark, cat, "t7d")
    with pytest.raises(DocumentMissingError):
        cat.write_index(
            docs(spark, [{"k": 2, "v": "upd", "n": 0}, {"k": 99, "v": "miss", "n": 0}]),
            "t7d",
            id_col="k",
            operation="update",
            on_match={"n": F.col("n") + F.col("_new_n")},
        )
    # and no spurious raise when every incoming id exists (fan-out alone
    # made the old subtraction negative/truthy in the other direction)
    cat.write_index(
        docs(spark, [{"k": 2, "v": "upd", "n": 1}]),
        "t7d",
        id_col="k",
        operation="update",
        on_match={"n": F.col("n") + F.col("_new_n")},
    )
    got = [d for d in as_dicts(cat.read_index("t7d")) if d["k"] == 2]
    # scripted update touches EVERY stored copy of the id (dup rows kept)
    assert sorted(d["n"] for d in got) == [20 + 1, 21 + 1]


def test_replace_update_writes_one_doc_per_incoming_id(spark, cat):
    # whole-document replace against a duplicated id: the marker join fans
    # out; without the dedupe the replacement doc was written TWICE
    _seed_with_duplicate_id(spark, cat, "t7e")
    cat.write_index(
        docs(spark, [{"k": 2, "v": "replaced", "n": 0}]),
        "t7e",
        id_col="k",
        operation="update",
    )
    got = [d for d in as_dicts(cat.read_index("t7e")) if d["k"] == 2]
    assert len(got) == 1 and got[0]["v"] == "replaced"
    # a genuinely missing id still raises (count rides the same marker join)
    with pytest.raises(DocumentMissingError):
        cat.write_index(
            docs(spark, [{"k": 123, "v": "x", "n": 0}]),
            "t7e",
            id_col="k",
            operation="update",
        )


def test_index_pattern_routing(spark, cat):
    """A7: dynamic index routing -> hive partitions, partition-prunable."""
    rows = [
        {"k": 1, "typ": "click", "ts": "2024-03-01 10:00:00"},
        {"k": 2, "typ": "view", "ts": "2024-03-02 11:00:00"},
        {"k": 3, "typ": "click", "ts": "2024-03-02 12:00:00"},
    ]
    df = docs(spark, rows).withColumn("ts", F.to_timestamp("ts"))
    cat.write_index(df, "ev", id_col="k", index_pattern="ev-{typ}-{ts|date:yyyy.MM.dd}")
    (live,) = txn.latest(cat.path("ev"))[1]
    parts = {d for d in os.listdir(live) if d.startswith("_index=")}
    assert parts == {
        "_index=ev-click-2024.03.01",
        "_index=ev-view-2024.03.02",
        "_index=ev-click-2024.03.02",
    }
    got = cat.read_index("ev", metadata=True)
    m = {r["k"]: r["_metadata"] for r in got.collect()}
    assert m[1]["_index"] == "ev-click-2024.03.01" and m[1]["_id"] == "1"


def test_read_query_fields_metadata(spark, cat):
    cat.write_index(docs(spark, BASE), "t8", id_col="k")
    got = cat.read_index("t8", query={"range": {"n": {"gte": 20}}}, fields=["k", "n"])
    assert got.columns == ["k", "n"]
    assert sorted(r["k"] for r in got.collect()) == [2, 3]
    # no metadata requested -> internal columns hidden
    assert "_id" not in cat.read_index("t8").columns
    assert cat.count_index("t8", query={"term": {"v": "a"}}) == 1


def test_dedupe_last_order(spark):
    df = docs(
        spark,
        [{"k": 1, "v": "x", "n": 1}, {"k": 1, "v": "y", "n": 2}, {"k": 2, "v": "z", "n": 3}],
    ).withColumn("_id", F.col("k").cast("string"))
    out = {r["_id"]: r["v"] for r in dedupe_last(df, "_id").collect()}
    assert out == {"1": "y", "2": "z"}


@pytest.mark.parametrize("slices", [1, 3, 8])
@pytest.mark.parametrize("shuffle_partitions", [1, 7, 64])
def test_index_keeps_last_occurrence_across_layouts(spark, cat, slices, shuffle_partitions):
    """ES bulk order: the last occurrence of an _id in a batch wins,
    whatever the batch's partitioning or the shuffle width."""
    rows = [(i % 5, i) for i in range(40)]  # each _id repeats 8 times, in order
    batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), "k long, n long")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        cat.write_index(docs(spark, [{"k": 99, "n": -1}]), "bulk", id_col="k")
        cat.write_index(batch, "bulk", operation="index", id_col="k")
        got = {r["k"]: r["n"] for r in cat.read_index("bulk").collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got == {99: -1, **{k: 35 + k for k in range(5)}}


def test_multi_index_comma_and_wildcard(spark, cat):
    cat.write_index(docs(spark, BASE), "logs-2024")
    cat.write_index(docs(spark, [{"k": 4, "v": "d", "n": 40}]), "logs-2025")
    cat.write_index(docs(spark, [{"k": 9, "v": "z", "n": 90}]), "metrics")

    assert cat.resolve_pattern("logs-*") == ["logs-2024", "logs-2025"]
    assert cat.resolve_pattern("logs-2024,metrics") == ["logs-2024", "metrics"]
    assert cat.resolve_pattern("logs-*,metrics") == ["logs-2024", "logs-2025", "metrics"]

    assert cat.read_index("logs-*").count() == 4
    assert cat.read_index("logs-*,metrics").count() == 5
    # single-name read keeps its exact historical shape
    assert set(cat.read_index("logs-2024").columns) == {"k", "v", "n"}
    # provenance via metadata: _index lands in the _metadata map
    got = cat.read_index("logs-*", metadata=True)
    idx = {r["k"]: r["_metadata"]["_index"] for r in got.collect()}
    assert idx[1] == "logs-2024" and idx[4] == "logs-2025"
    # query pushdown still applies across branches
    assert cat.read_index("logs-*", query={"range": {"n": {"gte": 30}}}).count() == 2


def test_multi_index_schema_drift(spark, cat):
    cat.write_index(docs(spark, BASE), "drift-a")
    cat.write_index(docs(spark, [{"k": 5, "extra": "x"}]), "drift-b")
    got = cat.read_index("drift-*")
    assert set(got.columns) == {"k", "v", "n", "extra"}
    row5 = [r for r in got.collect() if r.k == 5][0]
    assert row5.extra == "x" and row5.v is None


def test_resolve_pattern_no_match(spark, cat):
    cat.write_index(docs(spark, BASE), "only")
    with pytest.raises(ValueError):
        cat.resolve_pattern("nope-*")


def test_read_index_stream_picks_up_appends(spark, cat, tmp_path):
    cat.write_index(docs(spark, BASE), "streamed")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        q = (
            cat.read_index_stream("streamed", query={"range": {"n": {"gte": 20}}})
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return {r["k"] for r in spark.read.parquet(out).collect()}

    assert cat.read_index_stream("streamed").isStreaming
    assert run_once() == {2, 3}  # n>=20 filter applied per batch

    # blind append (no id_col) adds new files; the checkpoint makes the
    # second availableNow run process ONLY the new file (incremental)
    cat.write_index(docs(spark, [{"k": 9, "v": "z", "n": 90}]), "streamed")
    assert run_once() == {2, 3, 9}


def test_read_index_stream_rejects_multi(spark, cat):
    cat.write_index(docs(spark, BASE), "sa")
    cat.write_index(docs(spark, BASE), "sb")
    with pytest.raises(ValueError):
        cat.read_index_stream("s*")


def test_alias_read_and_swap(spark, cat):
    cat.write_index(docs(spark, BASE), "v1")
    cat.write_index(docs(spark, [{"k": 7, "v": "g", "n": 70}]), "v2")
    cat.put_alias("live", "v1")
    assert cat.read_index("live").count() == 3
    # blue/green: atomically re-point the alias at the new index
    cat.put_alias("live", "v2")
    assert {r.k for r in cat.read_index("live").collect()} == {7}
    # alias over two indices unions them like a comma list
    cat.put_alias("live", "v1", "v2")
    assert cat.read_index("live").count() == 4
    cat.delete_alias("live")
    with pytest.raises(ValueError):
        cat.resolve_pattern("live")


def test_alias_requires_existing_target(spark, cat):
    with pytest.raises(ValueError, match="does not exist"):
        cat.put_alias("a", "missing-index")


def test_delete_by_query(spark, cat):
    cat.write_index(docs(spark, BASE), "dbq")
    n = cat.delete_by_query("dbq", {"range": {"n": {"gte": 20}}})
    assert n == 2
    assert {r.k for r in cat.read_index("dbq").collect()} == {1}
    # deleting with a non-matching query is a no-op
    assert cat.delete_by_query("dbq", {"term": {"v": "zzz"}}) == 0
    assert cat.read_index("dbq").count() == 1


def test_typed_roundtrip_fidelity(spark, cat):
    """A4/A6 serialization parity: every §1.2-relevant Spark type survives
    write_index -> read_index bit-for-bit (timestamps, arrays, structs,
    binary, nulls) — the reference's write-then-read itest pattern."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "loc",
                T.StructType(
                    [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
                ),
            ),
            T.StructField("blob", T.BinaryType()),
            T.StructField("maybe", T.StringType()),
            T.StructField("nested", T.ArrayType(T.ArrayType(T.IntegerType()))),
        ]
    )
    rows = [
        (1, datetime(2024, 3, 1, 10, 30, 0, 123000), ["a", "b"], (48.85, 2.35),
         b"\x00\xffpayload", None, [[1, 2], [], [3]]),
        (2, None, [], (None, 2.0), b"", "present", None),
    ]
    df = spark.createDataFrame(rows, schema)
    cat.write_index(df, "typed", id_col="k")
    got = {r["k"]: r for r in cat.read_index("typed").collect()}
    assert got[1]["ts"] == rows[0][1]
    assert got[1]["tags"] == ["a", "b"] and got[2]["tags"] == []
    assert got[1]["loc"]["lat"] == 48.85 and got[2]["loc"]["lat"] is None
    assert bytes(got[1]["blob"]) == b"\x00\xffpayload" and bytes(got[2]["blob"]) == b""
    assert got[1]["maybe"] is None and got[2]["maybe"] == "present"
    assert got[1]["nested"] == [[1, 2], [], [3]] and got[2]["nested"] is None
    assert got[2]["ts"] is None
    # schema itself unchanged (no silent widening/narrowing)
    assert cat.read_index("typed").schema == schema


def test_blind_append_schema_drift_unions_fields(spark, cat):
    """ES dynamic-mapping parity: a blind append introducing a new field
    must surface it on read regardless of parquet file listing order
    (the append records the union schema; reads pass it to Spark)."""
    cat.write_index(docs(spark, [{"k": 1, "v": "a"}]), "dyn")
    cat.write_index(docs(spark, [{"k": 2, "v": "b", "extra": 99}]), "dyn")
    got = cat.read_index("dyn")
    assert set(got.columns) == {"k", "v", "extra"}
    by_k = {r.k: r for r in got.collect()}
    assert by_k[2].extra == 99 and by_k[1].extra is None


def test_blind_append_drift_column_order_is_deterministic(spark, tmp_path):
    """Appended fields read back in the order they were added, whatever
    order the file listing returns the parquet files in (a footer-inferred
    schema followed the listing)."""
    for i in range(8):
        c = Catalog(spark, str(tmp_path / f"c{i}"))
        c.write_index(docs(spark, [{"k": 1, "name": "a"}]), "dyn")
        c.write_index(docs(spark, [{"k": 2, "name": "b", "x": 1}]), "dyn")
        c.write_index(docs(spark, [{"k": 3, "name": "c", "y": 2}]), "dyn")
        assert c.read_index("dyn").columns == ["k", "name", "x", "y"], i


def test_read_index_builds_without_spark_jobs(spark, cat):
    """Every read passes the recorded schema to Spark, so building the
    frame infers nothing from parquet footers and runs no Spark job."""
    from tests.conftest import count_jobs

    cat.write_index(docs(spark, BASE), "plain")
    cat.write_index(docs(spark, BASE), "merged", id_col="k")
    cat.write_index(
        docs(spark, [{"k": 2, "v": "B", "n": 21}]), "merged",
        operation="upsert", id_col="k",
    )
    cat.write_index(docs(spark, [{"k": 1, "v": "a"}]), "drift")
    cat.write_index(docs(spark, [{"k": 2, "v": "b", "extra": 9}]), "drift")
    cat.write_index(docs(spark, BASE), "gen-000001")
    cat.put_alias("gen", "gen-000001")
    assert cat.rollover("gen", max_docs=1)["rolled_over"]
    for name in ("plain", "merged", "drift", "gen-000002"):
        _, jobs = count_jobs(spark, lambda: cat.read_index(name))
        assert jobs == 0, name
    assert cat.read_index("gen-000002").columns == ["k", "v", "n"]


def test_sidecar_json_write_is_atomic(spark, cat, monkeypatch):
    """A write that dies part-way through must leave the previous sidecar
    intact: a torn alias map would make every alias and pattern read
    fail."""
    import json

    cat.write_index(docs(spark, BASE), "torn")
    cat.put_alias("al", "torn")
    monkeypatch.setattr(json, "dump", dying_dump)
    with pytest.raises(OSError, match="disk full"):
        cat.put_alias("al2", "torn")
    monkeypatch.undo()
    assert cat._read_aliases() == {"al": ["torn"]}
    assert as_dicts(cat.read_index("torn")) == BASE
    assert not [f for f in os.listdir(cat.root) if ".tmp-" in f]


def test_update_by_query(spark, cat):
    cat.write_index(docs(spark, BASE), "ubq")
    n = cat.update_by_query(
        "ubq", {"range": {"n": {"gte": 20}}}, {"n": F.col("n") * 10, "v": F.upper("v")}
    )
    assert n == 2
    got = {r.k: r for r in cat.read_index("ubq").collect()}
    assert got[1].n == 10 and got[1].v == "a"       # untouched
    assert got[2].n == 200 and got[2].v == "B"      # updated
    assert got[3].n == 300 and got[3].v == "C"


def test_reindex_with_query_transform_and_alias_swap(spark, cat):
    cat.write_index(docs(spark, BASE), "src-a")
    cat.write_index(docs(spark, [{"k": 4, "v": "d", "n": 40}]), "src-b")
    n = cat.reindex(
        "src-*",
        "dst",
        query={"range": {"n": {"gte": 20}}},
        transform=lambda df: df.withColumn("n2", F.col("n") * 2),
        id_col="k",
    )
    assert n == 3
    got = {r.k: r.n2 for r in cat.read_index("dst").collect()}
    assert got == {2: 40, 3: 60, 4: 80}
    # blue/green completion: alias swap onto the reindexed copy
    cat.put_alias("live", "dst")
    assert cat.count_index("live") == 3


def test_max_records_per_file_bounds_files(spark, cat):
    df = docs(spark, [{"k": i, "v": str(i), "n": i} for i in range(100)]).coalesce(1)
    cat.write_index(df, "bounded", mode="overwrite", max_records_per_file=10)
    (live,) = txn.latest(cat.path("bounded"))[1]
    files = [f for f in os.listdir(live) if f.endswith(".parquet")]
    assert len(files) >= 10  # 100 rows / <=10 per file
    assert cat.count_index("bounded") == 100


def test_sort_by_write_preserves_rows(spark, cat):
    import random

    rng = random.Random(7)
    rows = [{"k": i, "v": str(i), "n": rng.randint(0, 1000)} for i in range(500)]
    cat.write_index(docs(spark, rows), "sorted", mode="overwrite", sort_by=["n"])
    got = as_dicts(cat.read_index("sorted"))
    assert got == sorted(rows, key=lambda d: d["k"])


def test_stats_index(spark, cat):
    cat.write_index(docs(spark, BASE), "st-a")
    cat.write_index(docs(spark, [{"k": 4, "v": "d", "n": 40}]), "st-b")
    stats = cat.stats_index("st-*")
    assert set(stats) == {"st-a", "st-b"}
    assert stats["st-a"]["doc_count"] == 3 and stats["st-b"]["doc_count"] == 1
    assert stats["st-a"]["store_bytes"] > 0
    assert set(stats["st-a"]["fields"]) == {"k", "v", "n"}


class TestRollover:
    def test_rollover_flow(self, spark, tmp_path):
        from elasticsearch_hadoop_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path))
        df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id int, v string")
        cat.write_index(df, "logs-000001")
        cat.put_alias("logs", "logs-000001")

        dry = cat.rollover("logs", max_docs=5, dry_run=True)
        assert dry["dry_run"] and not dry["rolled_over"] and dry["conditions"]["max_docs"]
        assert not cat.exists("logs-000002")

        res = cat.rollover("logs", max_docs=5)
        assert res["rolled_over"] and res["new_index"] == "logs-000002"
        assert cat.exists("logs-000002")

        cat.write_alias(spark.createDataFrame([(99, "new")], "id int, v string"), "logs")
        assert cat.read_index("logs-000002").count() == 1
        assert cat.read_index("logs").count() == 11  # alias unions generations

        unmet = cat.rollover("logs", max_docs=100)
        assert not unmet["rolled_over"]

    def test_rollover_age_condition(self, spark, tmp_path):
        from elasticsearch_hadoop_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path))
        df = spark.createDataFrame([(1,)], "id int")
        cat.write_index(df, "t-000001")
        cat.put_alias("t", "t-000001")
        assert not cat.rollover("t", max_age_seconds=3600)["rolled_over"]
        assert cat.rollover("t", max_age_seconds=0.0)["rolled_over"]

    def test_rollover_errors(self, spark, tmp_path):
        import pytest
        from elasticsearch_hadoop_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path))
        df = spark.createDataFrame([(1,)], "id int")
        with pytest.raises(ValueError):
            cat.rollover("nope", max_docs=1)
        cat.write_index(df, "unsuffixed")
        cat.put_alias("u", "unsuffixed")
        with pytest.raises(ValueError):
            cat.rollover("u", max_docs=1)
        cat.write_index(df, "ok-000001")
        cat.put_alias("ok", "ok-000001")
        with pytest.raises(ValueError):
            cat.rollover("ok")  # no conditions


def test_terms_lookup_rewrites_and_filters(spark, cat):
    cat.write_index(docs(spark, BASE), "data", id_col="k")
    lookup = spark.createDataFrame(
        [Row(k=1, allowed=["a", "c"]), Row(k=2, allowed=["b"])]
    )
    cat.write_index(lookup, "lk", id_col="k")
    got = as_dicts(
        cat.read_index(
            "data",
            query={"terms": {"v": {"index": "lk", "id": "1", "path": "allowed"}}},
        )
    )
    assert [d["k"] for d in got] == [1, 3]
    # nested inside bool arms too
    got2 = as_dicts(
        cat.read_index(
            "data",
            query={"bool": {
                "must": [
                    {"terms": {"v": {"index": "lk", "id": "1", "path": "allowed"}}},
                ],
                "must_not": [{"term": {"n": 30}}],
            }},
        )
    )
    assert [d["k"] for d in got2] == [1]


def test_terms_lookup_missing_doc_and_cap(spark, cat):
    cat.write_index(docs(spark, BASE), "data2", id_col="k")
    lookup = spark.createDataFrame([Row(k=1, allowed=["a"])])
    cat.write_index(lookup, "lk2", id_col="k")
    with pytest.raises(DocumentMissingError):
        cat.read_index(
            "data2",
            query={"terms": {"v": {"index": "lk2", "id": "99", "path": "allowed"}}},
        )
    cat.MAX_TERMS_COUNT = 0
    try:
        with pytest.raises(ValueError):
            cat.read_index(
                "data2",
                query={"terms": {"v": {"index": "lk2", "id": "1", "path": "allowed"}}},
            )
    finally:
        cat.MAX_TERMS_COUNT = Catalog.MAX_TERMS_COUNT


def test_terms_lookup_scalar_path_and_plain_terms_untouched(spark, cat):
    cat.write_index(docs(spark, BASE), "data3", id_col="k")
    lookup = spark.createDataFrame([Row(k=1, one="b")])
    cat.write_index(lookup, "lk3", id_col="k")
    got = as_dicts(
        cat.read_index(
            "data3",
            query={"terms": {"v": {"index": "lk3", "id": "1", "path": "one"}}},
        )
    )
    assert [d["k"] for d in got] == [2]
    # a plain terms list is untouched by the pre-pass
    got2 = as_dicts(cat.read_index("data3", query={"terms": {"v": ["a"]}}))
    assert [d["k"] for d in got2] == [1]


def test_sql_query_veneer(spark, cat):
    cat.write_index(docs(spark, BASE), "sql-data", id_col="k")
    out = cat.sql_query(
        "SELECT v, sum(n) AS total FROM sql_data GROUP BY v ORDER BY v",
        pattern="sql-data",
    ).collect()
    assert [(r["v"], r["total"]) for r in out] == [("a", 10), ("b", 20), ("c", 30)]


def test_snapshot_restore_roundtrip(spark, cat, tmp_path):
    repo = str(tmp_path / "snap-repo")
    cat.write_index(docs(spark, BASE), "snappy", id_col="k")
    manifest = cat.snapshot_index("snappy", repo, "s1")
    assert manifest["index"] == "snappy" and manifest["snapshot"] == "s1"
    # mutate the live index AFTER the snapshot
    cat.write_index(
        docs(spark, [{"k": 9, "v": "z", "n": 90}]), "snappy", id_col="k"
    )
    assert cat.read_index("snappy").count() == 4
    # restore-with-rename brings back the point-in-time state
    cat.restore_index(repo, "s1", "snappy", rename_to="snappy-restored")
    assert as_dicts(cat.read_index("snappy-restored")) == BASE
    # guards: duplicate snapshot, restore over existing
    with pytest.raises(IndexExistsError):
        cat.snapshot_index("snappy", repo, "s1")
    with pytest.raises(IndexExistsError):
        cat.restore_index(repo, "s1", "snappy")
    with pytest.raises(ValueError):
        cat.restore_index(repo, "nope", "snappy", rename_to="x")
    snaps = cat.list_snapshots(repo)
    assert len(snaps) == 1 and snaps[0]["snapshot"] == "s1"


def test_filtered_alias_applies_query(spark, cat):
    cat.write_index(docs(spark, BASE), "fa-data", id_col="k")
    cat.put_alias("big-only", "fa-data", filter={"range": {"n": {"gte": 20}}})
    got = as_dicts(cat.read_index("big-only"))
    assert [d["k"] for d in got] == [2, 3]
    # alias filter composes with a read-time query (conjunction)
    got2 = as_dicts(cat.read_index("big-only", query={"term": {"v": "b"}}))
    assert [d["k"] for d in got2] == [2]
    # plain aliases still work; bad filter rejects at declaration
    cat.put_alias("plain", "fa-data")
    assert len(as_dicts(cat.read_index("plain"))) == 3
    with pytest.raises(Exception):
        cat.put_alias("bad", "fa-data", filter={"frobnicate": {}})


def test_filtered_alias_multi_target_union(spark, cat):
    cat.write_index(docs(spark, BASE), "fa1", id_col="k")
    cat.write_index(docs(spark, [{"k": 7, "v": "a", "n": 70}]), "fa2", id_col="k")
    cat.put_alias("both-a", "fa1", "fa2", filter={"term": {"v": "a"}})
    got = sorted(r["k"] for r in cat.read_index("both-a").collect())
    assert got == [1, 7]


def test_cat_indices(spark, cat):
    cat.write_index(docs(spark, BASE), "cat-a", id_col="k")
    cat.write_index(docs(spark, BASE[:1]), "cat-b", id_col="k")
    rows = {r["index"]: r for r in cat.cat_indices()}
    assert rows["cat-a"]["docs_count"] == 3
    assert rows["cat-b"]["docs_count"] == 1
    assert rows["cat-a"]["store_bytes"] > 0


def test_data_stream_lifecycle(spark, cat):
    import datetime

    cat.create_data_stream("logs")
    with pytest.raises(IndexExistsError):
        cat.create_data_stream("logs")

    def batch(n, base):
        return spark.createDataFrame(
            [(base + i, datetime.datetime(2024, 1, 1 + i)) for i in range(n)],
            "k long, `@timestamp` timestamp",
        )

    with pytest.raises(ValueError, match="@timestamp"):
        cat.write_data_stream(docs(spark, BASE), "logs")
    cat.write_data_stream(batch(3, 0), "logs", max_docs_per_generation=3)
    # generation 1 hit max_docs -> rolled to generation 2
    st = cat.data_stream_stats("logs")
    assert st["generations"] == 2
    assert st["backing_indices"][0]["index"] == ".ds-logs-000001"
    cat.write_data_stream(batch(2, 10), "logs", max_docs_per_generation=3)
    st2 = cat.data_stream_stats("logs")
    assert st2["generations"] == 2  # 2 docs < 3: no roll
    assert st2["backing_indices"][1]["docs_count"] == 2
    # reads through the stream alias union every generation
    assert cat.read_index("logs").count() == 5
    cat.delete_data_stream("logs")
    with pytest.raises(ValueError):
        cat.data_stream_stats("logs")
    assert not cat.exists(".ds-logs-000001")


def test_ccs_read_unions_clusters(spark, tmp_path):
    from elasticsearch_hadoop_spark.catalog import Catalog, ccs_read

    c1 = Catalog(spark, str(tmp_path / "c1"))
    c2 = Catalog(spark, str(tmp_path / "c2"))
    c1.write_index(docs(spark, BASE), "t", id_col="k")
    c2.write_index(docs(spark, [{"k": 9, "v": "z", "n": 90}]), "t", id_col="k")
    out = ccs_read({"local": c1, "west": c2}, "t, west:t").collect()
    got = sorted((r["_cluster"], r["k"]) for r in out)
    assert got == [("local", 1), ("local", 2), ("local", 3), ("west", 9)]
    filtered = ccs_read(
        {"local": c1, "west": c2}, "t, west:t", query={"range": {"n": {"gte": 30}}}
    ).collect()
    assert sorted(r["k"] for r in filtered) == [3, 9]
    with pytest.raises(ValueError, match="unknown cluster"):
        ccs_read({"local": c1}, "east:t")


def test_index_template_applies_on_create(spark, cat):
    cat.put_pipeline(
        "norm", [{"lowercase": {"field": "v"}},
                 {"set": {"field": "src", "value": "tpl"}}]
    )
    cat.put_index_template(
        "t-logs",
        {"index_patterns": ["logs-*"], "priority": 10,
         "template": {
             "settings": {"index.default_pipeline": "norm",
                          "index.sort.field": "k"},
             "mappings": {"properties": {"v": {"type": "keyword"}}},
         }},
    )
    up = [{"k": 2, "v": "B"}, {"k": 1, "v": "A"}]
    cat.write_index(docs(spark, up), "logs-app", id_col="k")
    got = as_dicts(cat.read_index("logs-app"))
    assert [d["v"] for d in got] == ["a", "b"]       # pipeline ran
    assert all(d["src"] == "tpl" for d in got)
    assert cat.get_mapping("logs-app") == {
        "properties": {"v": {"type": "keyword"}}
    }
    # non-matching index: untouched, schema-inferred mapping
    cat.write_index(docs(spark, BASE), "other", id_col="k")
    got2 = as_dicts(cat.read_index("other"))
    assert got2 == BASE
    inferred = cat.get_mapping("other")
    assert inferred["properties"]["v"]["type"] == "keyword"
    assert inferred["properties"]["n"]["type"] == "long"


def test_default_pipeline_applies_to_every_write(spark, cat):
    """index.default_pipeline is per indexing REQUEST in ES, not per
    index creation — a second append must run the pipeline too (ADVICE
    r4: later batches used to land untransformed)."""
    cat.put_pipeline("norm", [{"lowercase": {"field": "v"}}])
    cat.put_index_template(
        "t-logs2",
        {"index_patterns": ["logs2-*"], "priority": 10,
         "template": {"settings": {"index.default_pipeline": "norm"}}},
    )
    cat.write_index(docs(spark, [{"k": 1, "v": "A", "n": 1}]),
                    "logs2-app", id_col="k")
    # second batch, same index — already exists, template not re-matched,
    # pipeline must come from the persisted _meta
    cat.write_index(docs(spark, [{"k": 2, "v": "B", "n": 2}]),
                    "logs2-app", id_col="k")
    got = {d["k"]: d["v"] for d in as_dicts(cat.read_index("logs2-app"))}
    assert got == {1: "a", 2: "b"}
    assert cat.get_settings("logs2-app")["default_pipeline"] == "norm"


def test_index_template_priority_and_guards(spark, cat):
    cat.put_index_template(
        "low", {"index_patterns": ["p-*"], "priority": 1,
                "template": {"mappings": {"properties": {"a": {"type": "long"}}}}}
    )
    cat.put_index_template(
        "high", {"index_patterns": ["p-x*"], "priority": 5,
                 "template": {"mappings": {"properties": {"b": {"type": "long"}}}}}
    )
    cat.write_index(docs(spark, BASE), "p-xyz", id_col="k")
    assert "b" in cat.get_mapping("p-xyz")["properties"]
    with pytest.raises(ValueError, match="index_patterns"):
        cat.put_index_template("bad", {"template": {}})
    with pytest.raises(ValueError, match="no such ingest pipeline"):
        cat.put_index_template(
            "badp", {"index_patterns": ["q-*"],
                     "template": {"settings": {"index.default_pipeline": "nope"}}}
        )


def test_meta_merge_preserves_created_at(spark, cat):
    cat.write_index(docs(spark, BASE), "keepme", id_col="k")
    cat.put_settings("keepme", {"created_at": 123.0})
    cat.write_index(docs(spark, [{"k": 9, "v": "z", "n": 90}]), "keepme", id_col="k")
    assert cat.get_settings("keepme")["created_at"] == 123.0


def test_filtered_alias_plus_direct_read_stays_unfiltered(spark, cat):
    cat.write_index(docs(spark, BASE), "fd", id_col="k")
    cat.put_alias("fd-big", "fd", filter={"range": {"n": {"gte": 30}}})
    # the direct request already returns everything; the filtered alias
    # must not narrow it (ES union semantics)
    got = sorted(r["k"] for r in cat.read_index("fd-big, fd").collect())
    assert got == [1, 2, 3]
    got2 = sorted(r["k"] for r in cat.read_index("fd, fd-big").collect())
    assert got2 == [1, 2, 3]
    # alone, the filter applies
    assert sorted(r["k"] for r in cat.read_index("fd-big").collect()) == [3]


def test_component_template_composition(spark, cat):
    cat.put_component_template(
        "base-settings",
        {"template": {"settings": {"index.sort.field": "k"},
                      "mappings": {"properties": {"a": {"type": "long"}}}}},
    )
    cat.put_component_template(
        "base-mappings",
        {"template": {"mappings": {"properties": {"b": {"type": "keyword"},
                                                  "a": {"type": "integer"}}}}},
    )
    cat.put_index_template(
        "ct-logs",
        {"index_patterns": ["ct-*"], "priority": 3,
         "composed_of": ["base-settings", "base-mappings"],
         "template": {"mappings": {"properties": {"c": {"type": "double"}}}}},
    )
    cat.write_index(docs(spark, BASE), "ct-app", id_col="k")
    props = cat.get_mapping("ct-app")["properties"]
    # later component wins (a: integer over long); own block adds c
    assert props == {"a": {"type": "integer"}, "b": {"type": "keyword"},
                     "c": {"type": "double"}}
    with pytest.raises(ValueError, match="unknown component template"):
        cat.put_index_template(
            "bad", {"index_patterns": ["x-*"], "composed_of": ["nope"]}
        )
    with pytest.raises(ValueError, match="template"):
        cat.put_component_template("empty", {})


def test_indexed_shape_lookup_resolves_and_guards(spark, cat):
    """geo_shape indexed_shape: the read_index pre-pass fetches the
    geometry once (JSON string OR struct storage) and rewrites to the
    inline form, anywhere in the clause tree; missing docs and
    shapeless values raise, they don't silently match-nothing."""
    import pytest

    from elasticsearch_hadoop_spark.catalog import DocumentMissingError

    pts = docs(
        spark,
        [
            {"pid": 1, "loc": {"lat": 1.0, "lon": 1.0}},
            {"pid": 2, "loc": {"lat": 9.0, "lon": 9.0}},
        ],
    )
    cat.write_index(pts, "pts", mode="overwrite", id_col="pid")
    shapes = docs(
        spark,
        [
            {"sid": 1, "geom": '{"type": "envelope", "coordinates": [[0.0, 3.0], [3.0, 0.0]]}'},
            {"sid": 2, "geom": '{"coordinates": [[0.0, 3.0], [3.0, 0.0]]}'},
        ],
    )
    cat.write_index(shapes, "regions", mode="overwrite", id_col="sid")

    def body(doc_id, extra=None):
        spec = {"indexed_shape": {"index": "regions", "id": doc_id, "path": "geom"}}
        spec.update(extra or {})
        return {"geo_shape": {"loc": spec}}

    got = cat.read_index("pts", query=body("1")).select("pid").collect()
    assert [r["pid"] for r in got] == [1]
    # nested inside a bool arm too
    nested = {"bool": {"filter": [body("1"), {"range": {"pid": {"gte": 0}}}]}}
    assert cat.read_index("pts", query=nested).count() == 1
    with pytest.raises(DocumentMissingError):
        cat.read_index("pts", query=body("99")).count()
    with pytest.raises(ValueError, match="type"):
        cat.read_index("pts", query=body("2")).count()

    # struct-stored geometry resolves the same way
    struct_shapes = spark.createDataFrame(
        [(5, ("envelope", [[0.0, 3.0], [3.0, 0.0]]))],
        "sid int, geom struct<type string, coordinates array<array<double>>>",
    )
    cat.write_index(struct_shapes, "regions2", mode="overwrite", id_col="sid")
    q = {"geo_shape": {"loc": {
        "indexed_shape": {"index": "regions2", "id": "5", "path": "geom"}}}}
    assert cat.read_index("pts", query=q).count() == 1


def test_downsample_index_gauge_and_counter(spark, cat):
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1, 0, 10), "a", 1.0, 100),
        (datetime.datetime(2024, 1, 1, 0, 50), "a", 3.0, 200),
        (datetime.datetime(2024, 1, 1, 1, 10), "a", 5.0, 300),
        (datetime.datetime(2024, 1, 1, 0, 20), "b", 7.0, 400),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, dim string, g double, c long")
    cat.write_index(df, "raw", mode="overwrite")
    cat.downsample_index(
        "raw", "raw_1h", "1h", timestamp_col="ts",
        dimensions=["dim"], metrics={"g": "gauge", "c": "counter"},
    )
    out = {
        (r["ts"].isoformat(), r["dim"]): r
        for r in cat.read_index("raw_1h").collect()
    }
    a0 = out[("2024-01-01T00:00:00", "a")]
    assert (a0["_doc_count"], a0["g_min"], a0["g_max"], a0["g_sum"],
            a0["g_value_count"], a0["c_last"]) == (2, 1.0, 3.0, 4.0, 2, 200)
    a1 = out[("2024-01-01T01:00:00", "a")]
    assert a1["_doc_count"] == 1 and a1["c_last"] == 300
    b0 = out[("2024-01-01T00:00:00", "b")]
    assert b0["g_sum"] == 7.0 and b0["c_last"] == 400
    import pytest as _pytest

    with _pytest.raises(ValueError, match="gauge"):
        cat.downsample_index("raw", "x", "1h", timestamp_col="ts",
                             metrics={"g": "histogram"})
    with _pytest.raises(ValueError, match="fixed_interval|duration"):
        cat.downsample_index("raw", "x", "0s", timestamp_col="ts")


def test_downsample_floor_and_counter_tiebreak(spark, cat):
    import datetime

    # pre-1970 timestamps bucket DOWN (floor, not cast-truncation) and
    # counter ties on the timestamp break by max metric value
    rows = [
        (datetime.datetime(1969, 12, 31, 12, 0), "a", 1.0, 7),
        (datetime.datetime(1969, 12, 31, 13, 0), "a", 2.0, 3),
        (datetime.datetime(1969, 12, 31, 13, 0), "a", 2.0, 9),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, dim string, g double, c long")
    cat.write_index(df, "neg", mode="overwrite")
    cat.downsample_index("neg", "neg_1d", "1d", timestamp_col="ts",
                         dimensions=["dim"], metrics={"c": "counter"})
    out = cat.read_index("neg_1d").collect()
    assert len(out) == 1
    assert out[0]["ts"].date().isoformat() == "1969-12-31"
    assert out[0]["c_last"] == 9


def test_watcher_state_load_propagates_non_missing_errors(spark, tmp_path):
    from elasticsearch_hadoop_spark.catalog import Catalog
    from elasticsearch_hadoop_spark.watcher import load_watcher_state

    cat = Catalog(spark, str(tmp_path / "w"))
    assert load_watcher_state(cat) == {}  # missing index only
    # an index with the WRONG schema must raise, not wipe the state
    cat.write_index(
        spark.createDataFrame([(1,)], "x int"), "watcher_state", mode="overwrite"
    )
    import pytest as _pytest

    with _pytest.raises(Exception):
        load_watcher_state(cat)


def test_point_in_time_lifecycle(spark, tmp_path):
    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "pit"), transactional=True)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    cat.write_index(df1, "docs", mode="overwrite", id_col="id")
    pit = cat.open_point_in_time("docs", keep_alive="5m", now=1000.0)
    # a concurrent append is INVISIBLE through the PIT
    cat.write_index(
        spark.createDataFrame([(3, "c")], "id int, v string"), "docs", mode="append"
    )
    assert cat.read_index("docs").count() == 3
    assert cat.pit_read(pit, now=1100.0).count() == 2
    # touch-to-extend: keep_alive refreshes the window from `now`
    cat.pit_read(pit, keep_alive="5m", now=1290.0)
    assert cat.pit_read(pit, now=1500.0).count() == 2  # would have expired
    # expiry raises ES's search_context_missing analogue
    import pytest as _pytest

    with _pytest.raises(ValueError, match="search_context_missing"):
        cat.pit_read(pit, now=99999.0)
    # closed -> gone; double close reports False
    pit2 = cat.open_point_in_time("docs", now=1.0)
    assert cat.close_point_in_time(pit2) is True
    assert cat.close_point_in_time(pit2) is False
    with _pytest.raises(ValueError, match="search_context_missing"):
        cat.pit_read(pit2, now=2.0)
    # non-transactional index: reject (no pinnable versions)
    cat2 = Catalog(spark, str(tmp_path / "plain"))
    cat2.write_index(df1, "docs", mode="overwrite")
    with _pytest.raises(ValueError, match="transactional"):
        cat2.open_point_in_time("docs")


def test_pits_on_same_snapshot_are_distinct_contexts(spark, tmp_path):
    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "pit2"), transactional=True)
    cat.write_index(spark.createDataFrame([(1,)], "id int"), "d", mode="overwrite")
    a = cat.open_point_in_time("d", keep_alive="1h", now=0.0)
    b = cat.open_point_in_time("d", keep_alive="1m", now=0.0)
    assert a != b  # every _pit open is its own context (ES semantics)
    # b's short window must not shorten a's
    assert cat.pit_read(a, now=120.0).count() == 1
    assert cat.close_point_in_time(b) is True
    assert cat.pit_read(a, now=130.0).count() == 1  # closing b spares a


def test_pit_survives_across_catalog_instances(spark, tmp_path):
    """ADVICE r7: PIT state is server-side in ES — a pit_id opened via one
    client must resolve through any Catalog over the same root.  The
    registry is persisted (root/_pits.json), like the alias map."""
    from elasticsearch_hadoop_spark.catalog import Catalog

    root = str(tmp_path / "pit3")
    cat1 = Catalog(spark, root, transactional=True)
    cat1.write_index(
        spark.createDataFrame([(1, "a")], "id int, v string"), "d", mode="overwrite"
    )
    pit = cat1.open_point_in_time("d", keep_alive="1h", now=0.0)
    cat1.write_index(
        spark.createDataFrame([(2, "b")], "id int, v string"), "d", mode="append"
    )
    # a brand-new Catalog instance over the same root sees the PIT ...
    cat2 = Catalog(spark, root, transactional=True)
    assert cat2.pit_read(pit, now=60.0).count() == 1
    # ... an extend through cat2 is visible to cat1 ...
    cat2.pit_read(pit, keep_alive="1h", now=3500.0)
    assert cat1.pit_read(pit, now=6000.0).count() == 1
    # ... and a close through cat2 closes it for cat1 too
    assert cat2.close_point_in_time(pit) is True
    import pytest as _pytest

    with _pytest.raises(ValueError, match="search_context_missing"):
        cat1.pit_read(pit, now=6001.0)
    # the registry file must not surface as an index
    assert cat1.list_indices() == ["d"]


def test_missing_index_raises_typed_error(spark, tmp_path):
    """ADVICE r7: missing-index is a TYPED signal (IndexNotFoundError,
    still a ValueError for back-compat), not message-text matching."""
    from elasticsearch_hadoop_spark.catalog import Catalog, IndexNotFoundError

    cat = Catalog(spark, str(tmp_path / "tn"))
    import pytest as _pytest

    with _pytest.raises(IndexNotFoundError):
        cat.read_index("nope")
    assert issubclass(IndexNotFoundError, ValueError)


def test_shrink_split_clone(spark, cat):
    """ES _shrink/_split/_clone analogues: file-count arithmetic enforced
    (factor / multiple), data preserved exactly, settings meta copied,
    existing target rejected."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g")
    )
    cat.write_index(df.repartition(4), "src", mode="overwrite")
    assert cat._data_file_count("src") == 4

    r = cat.shrink_index("src", "small", 2)
    assert (r["source_shards"], r["target_shards"]) == (4, 2)
    assert cat._data_file_count("small") == 2
    assert as_dicts_by(cat.read_index("small"), "k") == as_dicts_by(df, "k")

    r = cat.split_index("src", "big", 8)
    assert cat._data_file_count("big") == 8
    assert as_dicts_by(cat.read_index("big"), "k") == as_dicts_by(df, "k")

    r = cat.clone_index("src", "copy")
    assert r["target_shards"] == 4
    assert cat._data_file_count("copy") == 4
    assert as_dicts_by(cat.read_index("copy"), "k") == as_dicts_by(df, "k")

    with pytest.raises(ValueError, match="factor"):
        cat.shrink_index("src", "bad", 3)
    with pytest.raises(ValueError, match="multiple"):
        cat.split_index("src", "bad", 6)
    with pytest.raises(IndexExistsError):
        cat.clone_index("src", "copy")
    with pytest.raises(IndexExistsError):
        cat.shrink_index("src", "small", 2)


def as_dicts_by(df, key):
    return sorted((r.asDict() for r in df.collect()), key=lambda d: d[key])


def test_field_caps(spark, cat):
    """_field_caps merges per-index mappings; conflicting fields list the
    indices per type, agreed fields omit the list (ES shape)."""
    cat.write_index(docs(spark, [{"k": 1, "v": "a", "n": 10}]), "logs-1")
    cat.write_index(
        spark.createDataFrame([(2, "b", 1.5)], "k long, v string, n double"),
        "logs-2",
    )
    cat.write_index(docs(spark, [{"k": 9, "other": "x"}]), "metrics-1")
    out = cat.field_caps("logs-*")
    assert out["indices"] == ["logs-1", "logs-2"]
    assert set(out["fields"]) == {"k", "v", "n"}
    # agreed: single type, no indices key
    assert out["fields"]["v"] == {
        "keyword": {"type": "keyword", "searchable": True, "aggregatable": True}
    }
    # conflict: n is long in logs-1, double in logs-2
    n = out["fields"]["n"]
    assert set(n) == {"long", "double"}
    assert n["long"]["indices"] == ["logs-1"] and n["double"]["indices"] == ["logs-2"]
    # alias + comma resolution ride the same resolver
    cat.put_alias("all-logs", "logs-1", "logs-2")
    assert cat.field_caps("all-logs")["fields"].keys() == out["fields"].keys()
    both = cat.field_caps("logs-1,metrics-1")
    assert "other" in both["fields"] and both["indices"] == ["logs-1", "metrics-1"]


def test_resize_preserves_metadata_columns_and_skips_templates(spark, cat):
    """Review r8: _shrink/_split copy data verbatim like ES — stored _id
    survives (so upserts into the target still work), and a template
    matching the target name must NOT run its pipeline over resized
    data."""
    cat.put_pipeline("boom", [{"set": {"field": "v", "value": "CLOBBERED"}}])
    cat.put_index_template(
        "t-ev", {"index_patterns": ["ev_*"], "priority": 5,
                 "template": {"settings": {"index.default_pipeline": "boom"}}},
    )
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, v string")
    cat.write_index(df.repartition(2), "src", mode="overwrite", id_col="k")
    cat.shrink_index("src", "ev_small", 1)
    got = as_dicts_by(cat.read_index("ev_small"), "k")
    assert [d["v"] for d in got] == ["a", "b", "c", "d"]  # pipeline did NOT run
    # stored _id survived: an upsert joining on _id works on the target
    cat.write_index(
        spark.createDataFrame([(2, "B")], "k int, v string"),
        "ev_small", operation="upsert", id_col="k",
    )
    got = as_dicts_by(cat.read_index("ev_small"), "k")
    assert [d["v"] for d in got] == ["a", "B", "c", "d"]


def test_resize_counts_live_files_only_on_transactional(spark, tmp_path):
    """Review r8: superseded manifest versions retained for time travel
    are not shards — the resize arithmetic uses the live manifest."""
    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "txn"), transactional=True)
    df = spark.range(20).select(F.col("id").alias("k"))
    cat.write_index(df.repartition(4), "src", mode="overwrite")
    cat.write_index(df.repartition(4), "src", mode="overwrite")  # v2; v1 retained
    assert cat._data_file_count("src") == 4  # not 8
    cat.shrink_index("src", "dst", 2)
    assert cat.read_index("dst").count() == 20  # live version only, no dupes


def test_pit_stale_lock_recovers_and_reads_are_lock_free(spark, tmp_path):
    """Review r8-2: (a) an orphaned lock from a killed process is broken
    after the staleness window instead of wedging every PIT op forever;
    (b) a plain pit_read (no keep_alive, unexpired) neither takes the
    lock nor rewrites the registry."""
    import os
    import time

    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "pit"), transactional=True)
    cat.write_index(
        spark.createDataFrame([(1, "a")], "k int, v string"), "pidx", id_col="k"
    )
    pit = cat.open_point_in_time("pidx", keep_alive="1h")
    # (b) read-only: registry file untouched
    reg = cat._pits_path()
    before = os.path.getmtime(reg)
    assert cat.pit_read(pit).count() == 1
    assert os.path.getmtime(reg) == before
    # (a) orphaned lock with an old mtime: ops recover, not TimeoutError
    lock = f"{reg}.lock"
    with open(lock, "w"):
        pass
    os.utime(lock, (time.time() - 60, time.time() - 60))
    pit2 = cat.open_point_in_time("pidx", keep_alive="1h")
    assert cat.close_point_in_time(pit2) is True
    assert not os.path.exists(lock)


def test_ccr_follow_poll_unfollow(spark, tmp_path):
    """CCR follow over the manifest log: bootstrap copies the leader's
    live dirs, polls ship only NEW immutable dirs, leader replace
    commits replicate as manifest swaps, followers reject writes until
    unfollowed."""
    from elasticsearch_hadoop_spark.catalog import Catalog

    leader = Catalog(spark, str(tmp_path / "cl1"), transactional=True)
    follower_cat = Catalog(spark, str(tmp_path / "cl2"), transactional=True)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    leader.write_index(df, "logs", mode="overwrite", id_col="k")

    st = follower_cat.follow_index(leader, "logs", "logs-copy")
    assert st["synced"] is True
    assert sorted(r["k"] for r in follower_cat.read_index("logs-copy").collect()) == [1, 2]

    # idempotent: nothing new
    assert follower_cat.ccr_poll("logs-copy")["synced"] is False

    # leader append -> poll ships only the delta
    leader.write_index(
        spark.createDataFrame([(3, "c")], "k int, v string"), "logs",
        id_col="k",
    )
    assert follower_cat.ccr_poll("logs-copy")["synced"] is True
    assert sorted(r["k"] for r in follower_cat.read_index("logs-copy").collect()) == [1, 2, 3]

    # leader upsert (replace commit) replicates as a manifest swap
    leader.write_index(
        spark.createDataFrame([(2, "B")], "k int, v string"), "logs",
        operation="upsert", id_col="k",
    )
    follower_cat.ccr_poll("logs-copy")
    got = {r["k"]: r["v"] for r in follower_cat.read_index("logs-copy").collect()}
    assert got[2] == "B" and len(got) == 3

    # follower is read-only until unfollowed
    with pytest.raises(ValueError, match="read-only"):
        follower_cat.write_index(df, "logs-copy", mode="overwrite")
    follower_cat.unfollow_index("logs-copy")
    follower_cat.write_index(
        spark.createDataFrame([(9, "z")], "k int, v string"), "logs-copy",
        mode="append",
    )
    assert follower_cat.count_index("logs-copy") == 4

    # non-transactional leader refused; non-follower poll refused
    plain = Catalog(spark, str(tmp_path / "cl3"))
    plain.write_index(df, "p")
    with pytest.raises(ValueError, match="transactional leader"):
        follower_cat.follow_index(plain, "p")
    with pytest.raises(ValueError, match="not a CCR follower"):
        follower_cat.ccr_poll("logs-copy")


def test_ccr_follower_rejects_all_mutations(spark, tmp_path):
    """Review r8-3: the read-only guard lives at the commit layer —
    delete_by_query/update_by_query/compact_index refuse on a follower,
    not just write_index."""
    from elasticsearch_hadoop_spark.catalog import Catalog

    leader = Catalog(spark, str(tmp_path / "l"), transactional=True)
    fcat = Catalog(spark, str(tmp_path / "f"), transactional=True)
    leader.write_index(
        spark.createDataFrame([(1, "a")], "k int, v string"), "x", id_col="k"
    )
    fcat.follow_index(leader, "x")
    with pytest.raises(ValueError, match="read-only"):
        fcat.delete_by_query("x", {"term": {"k": 1}})
    with pytest.raises(ValueError, match="read-only"):
        fcat.update_by_query("x", {"term": {"k": 1}}, {"v": F.lit("z")})
    with pytest.raises(ValueError, match="read-only"):
        fcat.compact_index("x")
    # reads still fine
    assert fcat.read_index("x").count() == 1


def test_ccr_poll_crash_safe_copy(spark, tmp_path):
    """Review r8-3: a half-copied data dir from a killed poll must not be
    mistaken for complete — the tmp+rename protocol means only complete
    dirs ever carry the final name."""
    import os

    from elasticsearch_hadoop_spark.catalog import Catalog
    from elasticsearch_hadoop_spark import txn

    leader = Catalog(spark, str(tmp_path / "l"), transactional=True)
    fcat = Catalog(spark, str(tmp_path / "f"), transactional=True)
    df = spark.createDataFrame([(i, "v") for i in range(50)], "k int, v string")
    leader.write_index(df, "x", id_col="k")
    # simulate a crashed poll: a PARTIAL copy under the final dir name
    # must be impossible by protocol — assert the tmp name convention by
    # running a real poll and checking no *.tmp.* residue remains
    fcat.follow_index(leader, "x")
    froot = txn.data_root(fcat.path("x"))
    assert not [d for d in os.listdir(froot) if ".tmp." in d]
    assert fcat.read_index("x").count() == 50


# --------------------------------------------------------- ES SQL cursors


def test_sql_page_three_page_roundtrip(spark, cat):
    rows = [{"k": i, "grp": "g" + str(i % 3), "n": (i * 37) % 100} for i in range(25)]
    cat.write_index(docs(spark, rows), "pag", id_col="k")
    stmt = "SELECT k, grp, n FROM pag ORDER BY n DESC, k"
    got, resp = [], cat.sql_page(stmt, fetch_size=10)
    assert [c["name"] for c in resp["columns"]] == ["k", "grp", "n"]
    while True:
        got.extend(resp["rows"])
        if resp["cursor"] is None:
            break
        resp = cat.sql_page(cursor=resp["cursor"])
    exp = sorted(rows, key=lambda d: (-d["n"], d["k"]))
    assert [(r[0], r[1], r[2]) for r in got] == [(d["k"], d["grp"], d["n"]) for d in exp]
    # exact-multiple exhaustion: a 25-row set at fetch_size 5 ends with
    # one final empty page, never a lost or duplicated row
    n_pages, resp = 0, cat.sql_page(stmt, fetch_size=5)
    total = 0
    while True:
        n_pages += 1
        total += len(resp["rows"])
        if resp["cursor"] is None:
            break
        resp = cat.sql_page(cursor=resp["cursor"])
    assert total == 25 and n_pages == 6 and resp["rows"] == []


def test_sql_page_statement_validation(spark, cat):
    cat.write_index(docs(spark, BASE), "val", id_col="k")
    with pytest.raises(ValueError, match="ORDER BY"):
        cat.sql_page("SELECT k FROM val", fetch_size=2)
    with pytest.raises(ValueError, match="LIMIT"):
        cat.sql_page("SELECT k FROM val ORDER BY k LIMIT 5", fetch_size=2)
    with pytest.raises(ValueError, match="sort items"):
        cat.sql_page("SELECT k FROM val ORDER BY k + 1", fetch_size=2)
    with pytest.raises(ValueError, match="projection"):
        cat.sql_page("SELECT v FROM val ORDER BY k", fetch_size=2)
    with pytest.raises(ValueError, match="fetch_size"):
        cat.sql_page("SELECT k FROM val ORDER BY k", fetch_size=0)
    with pytest.raises(ValueError, match="not both"):
        cat.sql_page("SELECT k FROM val ORDER BY k", cursor="x", fetch_size=2)
    # a subquery's ORDER BY/LIMIT is depth>0 — allowed; the outer one pages
    resp = cat.sql_page(
        "SELECT k FROM (SELECT k FROM val ORDER BY k DESC LIMIT 2) ORDER BY k",
        fetch_size=10,
    )
    assert [r[0] for r in resp["rows"]] == [2, 3]
    # a quoted literal containing 'order by' or parens must not confuse it
    resp = cat.sql_page(
        "SELECT k, ' order by limit (' AS s FROM val ORDER BY k", fetch_size=10
    )
    assert [r[0] for r in resp["rows"]] == [1, 2, 3]


def test_sql_close_cursor(spark, cat):
    import pytest as _pytest

    cat.write_index(docs(spark, BASE), "cls", id_col="k")
    resp = cat.sql_page("SELECT k FROM cls ORDER BY k", fetch_size=1)
    assert cat.sql_close_cursor(resp["cursor"]) == {"succeeded": True}
    with _pytest.raises(Exception):
        cat.sql_close_cursor("not-a-cursor")


def test_sql_page_null_keyset_values_survive_paging(spark, cat):
    """Review r9-1: NULL keyset values must neither vanish from later
    pages nor dead-end the cursor — they page at Spark's default sort
    position (asc first, desc last) via the null-aware keyset filter."""
    rows = ([{"k": i, "n": None} for i in range(4)]
            + [{"k": i, "n": (i * 7) % 50} for i in range(4, 20)])
    cat.write_index(docs(spark, rows), "nk", id_col="k")

    def drain(stmt):
        got, resp = [], cat.sql_page(stmt, fetch_size=3)
        while True:
            got.extend(resp["rows"])
            if resp["cursor"] is None:
                return got
            resp = cat.sql_page(cursor=resp["cursor"])

    # asc: 4 NULLs lead (> fetch_size, so a page boundary falls INSIDE
    # the null run and the minted cursor value is None)
    got = drain("SELECT n, k FROM nk ORDER BY n, k")
    assert len(got) == 20
    assert [r[1] for r in got[:4]] == [0, 1, 2, 3] and all(r[0] is None for r in got[:4])
    nn = [r[0] for r in got[4:]]
    assert nn == sorted(nn)
    # desc: NULLs trail; every row still delivered exactly once
    got = drain("SELECT n, k FROM nk ORDER BY n DESC, k")
    assert len(got) == 20 and sorted(r[1] for r in got) == list(range(20))
    assert all(r[0] is None for r in got[-4:])


def test_sql_page_quoted_identifiers_and_case(spark, cat):
    """Review r9-4/5: quoted identifiers containing LIMIT/ORDER BY text
    must not confuse the clause scan, and keyset resolution is
    case-insensitive like Spark's."""
    cat.write_index(docs(spark, BASE), "qi", id_col="k")
    resp = cat.sql_page(
        "SELECT k AS `page limit (order by` FROM qi ORDER BY `page limit (order by`",
        fetch_size=10,
    )
    assert [r[0] for r in resp["rows"]] == [1, 2, 3]
    resp = cat.sql_page("SELECT k FROM qi ORDER BY K DESC", fetch_size=10)
    assert [r[0] for r in resp["rows"]] == [3, 2, 1]


def test_sql_page_backticked_dotted_alias(spark, cat):
    """Review r9b-4: a quoted keyset name containing a dot must not be
    parsed as struct access by the order/filter Column construction."""
    cat.write_index(docs(spark, BASE), "dotted", id_col="k")
    got, resp = [], cat.sql_page(
        "SELECT k AS `a.b` FROM dotted ORDER BY `a.b` DESC", fetch_size=2
    )
    while True:
        got.extend(r[0] for r in resp["rows"])
        if resp["cursor"] is None:
            break
        resp = cat.sql_page(cursor=resp["cursor"])
    assert got == [3, 2, 1]


def test_sql_page_backticked_comma_alias(spark, cat):
    """ADVICE r9-3: a backtick-quoted sort column CONTAINING A COMMA must
    not be split mid-identifier by the ORDER BY item scan — sort items
    split on the blanked text, where quoted spans are spaces."""
    cat.write_index(docs(spark, BASE), "commas", id_col="k")
    got, resp = [], cat.sql_page(
        "SELECT k AS `a,b` FROM commas ORDER BY `a,b` DESC", fetch_size=2
    )
    while True:
        got.extend(r[0] for r in resp["rows"])
        if resp["cursor"] is None:
            break
        resp = cat.sql_page(cursor=resp["cursor"])
    assert got == [3, 2, 1]


def test_sql_page_columnar_mode(spark, cat):
    """ES `"columnar": true`: pages render column-major as `values`,
    and the mode persists through the cursor like ES's does."""
    cat.write_index(docs(spark, BASE), "colr", id_col="k")
    resp = cat.sql_page(
        "SELECT k, v FROM colr ORDER BY k", fetch_size=2, columnar=True
    )
    assert "rows" not in resp
    assert resp["values"] == [[1, 2], ["a", "b"]]
    resp = cat.sql_page(cursor=resp["cursor"])  # mode persists
    assert resp["values"] == [[3], ["c"]]
    assert resp["cursor"] is None


def test_sql_page_columnar_mismatch_on_continuation_raises(spark, cat):
    """Review r9c-3: an explicit columnar flag on a continuation that
    disagrees with the cursor's minted mode raises (ES rejects a changed
    columnar setting mid-scroll); omitting it inherits."""
    cat.write_index(docs(spark, BASE), "colm", id_col="k")
    resp = cat.sql_page("SELECT k FROM colm ORDER BY k", fetch_size=1)
    with pytest.raises(ValueError, match="columnar mismatch"):
        cat.sql_page(cursor=resp["cursor"], columnar=True)
    nxt = cat.sql_page(cursor=resp["cursor"], columnar=False)  # agrees: fine
    assert nxt["rows"] == [[2]]


# ------------------------------------------------------- recorded row counts


def _recorded(spark, cat, name):
    """count_index's answer, asserting it came from the manifest: no job."""
    from tests.conftest import count_jobs

    n, jobs = count_jobs(spark, lambda: cat.count_index(name))
    assert jobs == 0, (name, jobs)
    return n


def test_recorded_count_matches_scan_count(spark, sf_dir, tmp_path):
    # the recorded count must agree with the scan count across overwrite,
    # blind append, and merge shapes, and a filtered alias must count by
    # scan (it filters)
    cat = Catalog(spark, str(tmp_path))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cat.write_index(cust, "c", mode="overwrite")
    assert cat.count_index("c") == cat.read_index("c").count()
    cat.write_index(cust.limit(7), "c")  # blind append (2nd write job uuid)
    assert cat.count_index("c") == cat.read_index("c").count()
    cat.write_index(
        cust.limit(5).withColumn("extra", F.lit(1)), "c2",
        mode="overwrite", id_col="c_custkey",
    )
    cat.write_index(
        cust.limit(9).withColumn("extra", F.lit(2)), "c2",
        operation="upsert", id_col="c_custkey",
    )
    assert cat.count_index("c2") == cat.read_index("c2").count() == 9
    cat.put_alias("small", "c2", filter={"range": {"extra": {"gte": 2}}})
    assert cat.count_index("small") == cat.read_index("small").count()


def test_recorded_count_after_every_commit_shape(spark, tmp_path):
    """After each kind of commit, count_index answers from the manifest
    (0 jobs) and equals the scan count."""
    cat = Catalog(spark, str(tmp_path / "a"), transactional=True)

    def rows(lo, hi, tag="a"):
        return spark.range(lo, hi).select(F.col("id").alias("k"), F.lit(tag).alias("tag"))

    def check(name, expect):
        assert _recorded(spark, cat, name) == cat.read_index(name).count() == expect

    cat.write_index(rows(0, 10), "t", mode="overwrite", id_col="k")
    check("t", 10)
    cat.write_index(rows(10, 13).withColumn("_id", F.col("k").cast("string")), "t")
    check("t", 13)  # blind append
    cat.write_index(rows(8, 20, "b"), "t", operation="upsert", id_col="k")
    check("t", 20)
    cat.write_index(rows(0, 2), "t", operation="delete", id_col="k")
    check("t", 18)
    assert cat.delete_by_query("t", {"range": {"k": {"lt": 5}}}) == 3
    check("t", 15)
    assert cat.update_by_query("t", {"term": {"tag": "b"}}, {"tag": F.lit("c")}) == 12
    check("t", 15)
    cat.compact_index("t", target_files=2)
    check("t", 15)
    cat.shrink_index("t", "shrunk", 1)
    check("shrunk", 15)
    cat.split_index("shrunk", "split", 3)
    check("split", 15)
    cat.clone_index("t", "cloned")
    check("cloned", 15)
    repo = str(tmp_path / "repo")
    cat.snapshot_index("t", repo, "s1")
    cat.restore_index(repo, "s1", "t", rename_to="restored")
    check("restored", 15)
    follower = Catalog(spark, str(tmp_path / "b"), transactional=True)
    follower.follow_index(cat, "t", "f")
    assert _recorded(spark, follower, "f") == follower.read_index("f").count() == 15
    cat.write_index(rows(100, 104), "t", id_col="k")
    follower.ccr_poll("f")
    assert _recorded(spark, follower, "f") == follower.read_index("f").count() == 19
    cat.write_index(rows(0, 3), "g-000001")
    cat.put_alias("g", "g-000001")
    assert cat.rollover("g", max_docs=1)["rolled_over"]
    check("g-000002", 0)
    check("g", 3)


def test_count_index_reads_no_file_footer(spark, cat):
    """Unfiltered count_index and stats_index cost no Spark job however
    many files the index holds."""
    from tests.conftest import count_jobs

    cat.write_index(spark.range(300), "many", mode="overwrite", max_records_per_file=1)
    assert cat._data_file_count("many") == 300
    assert _recorded(spark, cat, "many") == 300
    stats, jobs = count_jobs(spark, lambda: cat.stats_index("many"))
    assert (stats["many"]["doc_count"], jobs) == (300, 0)


def test_delete_by_query_match_all_returns(spark, cat):
    """match_all compiles to a constant-true predicate, so the kept-rows
    filter is constant-false and the optimizer prunes everything below
    it; the call must still return its count."""
    cat.write_index(spark.range(5).withColumnRenamed("id", "k"), "t", id_col="k")
    assert bounded(lambda: cat.delete_by_query("t", {"match_all": {}})) == 5
    assert _recorded(spark, cat, "t") == cat.read_index("t").count() == 0


@pytest.mark.parametrize("query, matched", [({"match_all": {}}, 5), ({"match_none": {}}, 0)])
def test_update_by_query_constant_predicates_return(spark, cat, query, matched):
    cat.write_index(spark.range(5).withColumnRenamed("id", "k"), "t", id_col="k")
    assert bounded(lambda: cat.update_by_query("t", query, {"k": F.col("k") + 10})) == matched
    assert _recorded(spark, cat, "t") == 5


@pytest.mark.parametrize("empty", ["filter_false", "limit_0"])
@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_empty_write_records_zero(spark, cat, empty, mode):
    """A frame the optimizer proves empty writes, records 0 more rows and
    returns, on the replace and the blind-append path alike."""
    cat.write_index(spark.range(4), "t")
    df = spark.range(10)
    df = df.filter(F.lit(False)) if empty == "filter_false" else df.limit(0)
    bounded(lambda: cat.write_index(df, "t", mode=mode))
    expect = 0 if mode == "overwrite" else 4
    assert txn.snapshot(cat.path("t"))[3] == expect
    assert cat.read_index("t").count() == expect


DUP_BATCH = [(1, "x"), (1, "y"), (2, "z")]


@pytest.mark.parametrize(
    "operation, kept", [("index", {1: "y", 2: "z"}), ("create", {1: "y", 2: "z"}),
                        ("upsert", {1: "y", 2: "z"}), ("delete", {})]
)
def test_first_write_merges_its_batch(spark, cat, operation, kept):
    """The first write of a new index merges like any other: a repeated
    _id keeps its last occurrence, and a delete stores nothing."""
    df = spark.createDataFrame(DUP_BATCH, "k long, v string")
    cat.write_index(df, "t", operation=operation, id_col="k")
    assert sorted((r["k"], r["v"]) for r in cat.read_index("t").collect()) == sorted(kept.items())
    assert _recorded(spark, cat, "t") == len(kept)


@pytest.mark.parametrize("zorder", [False, True])
@pytest.mark.parametrize("scripted", [False, True])
def test_first_write_update_is_missing(spark, cat, scripted, zorder):
    """update into a new index finds no document to update, also when a
    z-order's range shuffle sits above a merge that writes no row."""
    df = spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "k long, x double")
    kw = {"zorder_by": ["x"], "zorder_bounds": {"x": (0.0, 4.0)}} if zorder else {}
    on_match = {"x": F.col("_new_x")} if scripted else None
    with pytest.raises(DocumentMissingError, match=r"\(2 total\)"):
        bounded(
            lambda: cat.write_index(
                df, "t", operation="update", id_col="k", on_match=on_match, **kw
            )
        )
    assert not cat.exists("t")


def test_overwrite_with_id_col_dedupes(spark, cat):
    cat.write_index(spark.createDataFrame([(5, "old")], "k long, v string"), "t", id_col="k")
    df = spark.createDataFrame(DUP_BATCH, "k long, v string")
    cat.write_index(df, "t", mode="overwrite", id_col="k")
    assert sorted((r["k"], r["v"]) for r in cat.read_index("t").collect()) == [(1, "y"), (2, "z")]

"""Write-path round-trip corpus: the ingestion / sink / catalog surfaces
(SURVEY.md §2.A A4-A9, A11) as driver-gradeable queries.

Every query here WRITES inside its body — to a per-query scratch directory
wiped at the start of each run — then reads its own output back and returns
a hashable projection whose DuckDB oracle is expressed over the ORIGINAL
fixture tables.  That closes the loop the read-only corpus cannot: a wrong
serialization, a dropped document, a mis-merged upsert, or a broken commit
shows up as a value-hash mismatch, not just a unit-test failure.

Scale notes: each round trip uses the same code paths the 100 TB design
documents — blind parquet append (no read-modify-write) for ingestion,
hash-join merges on ``_id`` for upsert/update (incoming batch broadcast by
AQE), ``partitionBy(_index)`` for dynamic routing (per-index reads are
partition-pruned), and the checkpoint+marker exactly-once protocol for the
streaming sink.  The esdocs NDJSON reader is the documented row-at-a-time
interchange path (API parity with the reference's scroll reader —
sources/es_datasource.py), exercised here over the small documents/events
fixtures only.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.catalog import Catalog
from elasticsearch_hadoop_spark.corpus import query
from elasticsearch_hadoop_spark.corpus._util import TS_FMT_DUCK, TS_FMT_SPARK, local_rows, tbl


def _workdir(sf_dir: str, name: str) -> str:
    """Fresh scratch dir, keyed by (query, fixture-scale, PID): the pid
    isolates concurrent PROCESSES running the same query at the same SF
    (e.g. bench and a driver sim side by side — without it one process's
    wipe-on-entry would delete the directory under the other's still-lazy
    read), while re-runs within one process reuse and wipe their own dir
    so the returned DataFrame always reads THIS run's output."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(
        tempfile.gettempdir(), "ehs_writepath", f"{name}-{tag}-{os.getpid()}"
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


_EPOCH_2024 = 1704067200  # 2024-01-01 00:00:00 UTC


@query(
    "writepath_json_ingest",
    oracle=f"""
SELECT doc_id, lang, n_chars, md5(text) AS payload_md5,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 HOUR,
                '{TS_FMT_DUCK}') AS created_s
FROM documents
ORDER BY doc_id
""",
)
def writepath_json_ingest(spark, sf_dir):
    """NDJSON ingestion round trip (A4/A8, sources/json_docs.py): write the
    documents table as newline-delimited JSON — binary payload as base64,
    the `created` date as ISO string for odd ids and epoch-millis for even
    ids (the per-document wire leniency the reference's DateUtils allows) —
    then read it back through the ES-mapping-typed reader and hash the
    decoded payload + parsed timestamps against the source table."""
    d = _workdir(sf_dir, "json_ingest")
    docs = tbl(spark, sf_dir, "documents")
    created = F.timestamp_millis(
        (F.lit(_EPOCH_2024) + F.col("doc_id") * 3600) * 1000
    )
    wire = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.encode(F.col("text"), "UTF-8").alias("payload"),  # JSON writer -> base64
        F.when(
            F.col("doc_id") % 2 == 1, F.date_format(created, TS_FMT_SPARK)
        )
        .otherwise(((F.lit(_EPOCH_2024) + F.col("doc_id") * 3600) * 1000).cast("string"))
        .alias("created"),
    )
    wire.write.mode("overwrite").json(d)

    from elasticsearch_hadoop_spark.sources.json_docs import read_json_docs

    mapping = {
        "properties": {
            "doc_id": {"type": "long"},
            "lang": {"type": "keyword"},
            "n_chars": {"type": "integer"},
            "payload": {"type": "binary"},
            "created": {"type": "date"},
        }
    }
    back = read_json_docs(spark, d, mapping=mapping)
    return back.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5("payload").alias("payload_md5"),
        F.date_format("created", TS_FMT_SPARK).alias("created_s"),
    ).orderBy("doc_id")


@query(
    "writepath_esdocs_roundtrip",
    oracle="""
SELECT doc_id, lang, n_chars, CAST(doc_id AS VARCHAR) AS id
FROM documents
WHERE n_chars >= 200 AND lang <> 'de'
ORDER BY doc_id
""",
)
def writepath_esdocs_roundtrip(spark, sf_dir):
    """esdocs DataSource round trip (A1-A7, sources/es_datasource.py): bulk
    NDJSON sink with `mapping.id` extraction, read back with the ES-mapping
    schema, §2.B filter pushdown into the reader, and `_metadata._id`
    recovered from the bulk action lines."""
    from elasticsearch_hadoop_spark.sources.es_datasource import (
        read_docs,
        register,
        write_docs,
    )

    out = _workdir(sf_dir, "esdocs_rt")
    register(spark)
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    write_docs(docs, out, mode="overwrite", **{"mapping.id": "doc_id"})

    mapping = {
        "properties": {
            "doc_id": {"type": "long"},
            "lang": {"type": "keyword"},
            "source": {"type": "keyword"},
            "n_chars": {"type": "integer"},
        }
    }
    back = read_docs(spark, out, mapping, **{"read.metadata": "true"})
    return (
        back.filter((F.col("n_chars") >= 200) & (F.col("lang") != "de"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.col("_metadata")["_id"].alias("id"),
        )
        .orderBy("doc_id")
    )


@query(
    "writepath_sink_upsert",
    oracle="""
WITH updated AS (
  SELECT c_custkey, c_name,
         c_acctbal + (CASE WHEN c_custkey % 3 = 0 THEN 1000 ELSE 0 END)
                   + (CASE WHEN c_custkey % 5 = 0 THEN 500 ELSE 0 END) AS bal
  FROM customer
), inserted AS (
  SELECT c_custkey + 1000000 AS c_custkey, concat('new-', c_name) AS c_name,
         c_acctbal AS bal
  FROM customer WHERE c_custkey % 10 = 0
)
SELECT c_custkey, c_name, round(bal, 2) AS c_acctbal
FROM (SELECT * FROM updated UNION ALL SELECT * FROM inserted)
ORDER BY c_custkey
""",
)
def writepath_sink_upsert(spark, sf_dir):
    """Batch sink merge ops round trip (A5/A11, catalog.write_index/_merge):
    seed the index from customer, upsert a batch that replaces every
    custkey%3 row (acctbal+1000) and inserts custkey%10 clones under new
    ids, then a scripted update (`on_match` Column expressions over the
    existing row + `_new_` incoming values — painless-script parity) adds
    500 to every custkey%5 row.  The merges are _id hash joins; the small
    incoming batches are AQE-broadcast."""
    root = _workdir(sf_dir, "sink_upsert")
    cat = Catalog(spark, root)
    cust = tbl(spark, sf_dir, "customer")

    cat.write_index(cust, "cust", mode="overwrite", id_col="c_custkey")

    updates = cust.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    inserts = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("c_name", F.concat(F.lit("new-"), F.col("c_name")))
    )
    cat.write_index(
        updates.unionByName(inserts), "cust", operation="upsert", id_col="c_custkey"
    )

    delta = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", F.lit(500.0).alias("delta")
    )
    cat.write_index(
        delta,
        "cust",
        operation="update",
        id_col="c_custkey",
        on_match={"c_acctbal": F.col("c_acctbal") + F.col("_new_delta")},
    )

    return (
        cat.read_index("cust")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy("c_custkey")
    )


@query(
    "writepath_dynamic_routing",
    oracle=f"""
SELECT concat('ev-', event_type, '-', strftime(ts, '%Y-%m')) AS idx,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY idx
ORDER BY idx
""",
)
def writepath_dynamic_routing(spark, sf_dir):
    """Dynamic index routing round trip (A7, catalog.format_index_pattern):
    write events with index_pattern "ev-{event_type}-{ts|date:yyyy-MM}" —
    field substitution + SimpleDateFormat-style date formatting — which
    lands as partitionBy(_index) Hive layout (per-index reads are partition
    pruning at scale), then read back and aggregate per routed index."""
    root = _workdir(sf_dir, "dyn_routing")
    cat = Catalog(spark, root)
    ev = tbl(spark, sf_dir, "events")
    cat.write_index(
        ev, "ev", mode="overwrite", index_pattern="ev-{event_type}-{ts|date:yyyy-MM}"
    )
    return (
        cat.read_index("ev", metadata=True)
        .groupBy(F.col("_index").alias("idx"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("idx")
    )


@query(
    "writepath_delete_update_by_query",
    oracle="""
SELECT doc_id, lang,
       n_chars + (CASE WHEN lang = 'en' THEN 1000 ELSE 0 END) AS n_chars
FROM documents
WHERE n_chars >= 200
ORDER BY doc_id
""",
)
def writepath_delete_update_by_query(spark, sf_dir):
    """Catalog maintenance ops round trip (catalog.delete_by_query /
    update_by_query): seed from documents, delete every doc with
    n_chars < 200 via a range query-DSL clause, then a scripted
    update_by_query adds 1000 to n_chars of every English doc.  Both ops
    are one-scan-one-rewrite (no row-at-a-time path); the read-back hashes
    the surviving, mutated rows."""
    root = _workdir(sf_dir, "del_upd")
    cat = Catalog(spark, root)
    docs = tbl(spark, sf_dir, "documents")
    cat.write_index(docs, "docs", mode="overwrite")
    cat.delete_by_query("docs", {"range": {"n_chars": {"lt": 200}}})
    cat.update_by_query(
        "docs", {"term": {"lang": "en"}}, {"n_chars": F.col("n_chars") + 1000}
    )
    return cat.read_index("docs").select("doc_id", "lang", "n_chars").orderBy("doc_id")


@query(
    "writepath_reindex_alias",
    oracle="""
SELECT o_orderstatus, substr(o_orderpriority, 1, 1) AS o_priority_cls,
       count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_totalprice >= 150000
GROUP BY o_orderstatus, o_priority_cls
ORDER BY o_orderstatus, o_priority_cls
""",
)
def writepath_reindex_alias(spark, sf_dir):
    """_reindex + alias round trip (catalog.reindex/put_alias): copy the
    orders index into a filtered (query-DSL range pushed into the scan),
    transformed (ingest-pipeline-analogue DataFrame op) destination, swap
    an alias onto it — the ES blue/green idiom — and aggregate through the
    alias."""
    root = _workdir(sf_dir, "reindex")
    cat = Catalog(spark, root)
    orders = tbl(spark, sf_dir, "orders")
    cat.write_index(orders, "orders_all", mode="overwrite")
    cat.reindex(
        "orders_all",
        "orders_big",
        query={"range": {"o_totalprice": {"gte": 150000}}},
        transform=lambda df: df.withColumn(
            "o_priority_cls", F.substring("o_orderpriority", 1, 1)
        ),
    )
    cat.put_alias("hot", "orders_big")
    return (
        cat.read_index("hot")
        .groupBy("o_orderstatus", "o_priority_cls")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
        .orderBy("o_orderstatus", "o_priority_cls")
    )


@query(
    "writepath_stream_sink",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def writepath_stream_sink(spark, sf_dir):
    """Streaming esdocs sink round trip (A9,
    sources/es_datasource.EsDocsStreamWriter): replay events as a file
    stream, writeStream through the bulk-NDJSON sink with checkpoint +
    per-batch commit markers (the exactly-once layering the reference gets
    from EsSinkMetadataLog), read the sink's bulk files back through the
    esdocs reader, and hash the aggregate — a dropped batch, a replayed
    batch, or an unpublished tmp file all flip the counts."""
    from elasticsearch_hadoop_spark.sources.es_datasource import read_docs, register
    from elasticsearch_hadoop_spark.streaming.pipeline import stream_events

    base = _workdir(sf_dir, "stream_sink")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/part-000.parquet")

    register(spark)
    stream = stream_events(spark, src).select("event_id", "user_id", "event_type", "value")
    q = (
        stream.writeStream.format("esdocs")
        .option("path", out)
        .option("mapping.id", "event_id")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    mapping = {
        "properties": {
            "event_id": {"type": "long"},
            "user_id": {"type": "long"},
            "event_type": {"type": "keyword"},
            "value": {"type": "double"},
        }
    }
    back = read_docs(spark, out, mapping)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------- round 4:
# the §2 surfaces that still lacked a driver verdict (VERDICT r3 item 1):
# transactional time travel, Z-order clustered writes, the streaming
# SOURCE, the count fast path, bucketed zero-shuffle joins, CSV ingestion,
# compaction+vacuum, and the geo_point wire-form ingestion corner.


@query(
    "writepath_time_travel",
    oracle="""
WITH v1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 2) AS bal
  FROM customer WHERE c_custkey % 2 = 0
), v2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 2) AS bal
  FROM customer
), v3 AS (
  SELECT CAST(count(*) AS BIGINT) AS n, round(sum(c_acctbal), 2) AS bal
  FROM customer WHERE NOT (c_acctbal < 0)
)
SELECT 1 AS version, n, bal FROM v1
UNION ALL SELECT 2 AS version, n, bal FROM v2
UNION ALL SELECT 3 AS version, n, bal FROM v3
UNION ALL SELECT 4 AS version, n, bal FROM v3
ORDER BY version
""",
)
def writepath_time_travel(spark, sf_dir):
    """Transactional time travel round trip (txn.py manifest log +
    catalog.read_index_version — the Delta versionAsOf / ES point-in-time
    analogue): v1 = overwrite with even custkeys, v2 = blind append of the
    odd ones (manifest-union commit), v3 = delete_by_query of negative
    balances (REPLACE commit).  Reads every pinned version plus the latest
    snapshot; a mis-unioned manifest, a replace that leaked old dirs, or a
    version file pointing at the wrong snapshot all flip a row."""
    root = _workdir(sf_dir, "time_travel")
    cat = Catalog(spark, root, transactional=True)
    cust = tbl(spark, sf_dir, "customer")
    cat.write_index(cust.filter(F.col("c_custkey") % 2 == 0), "c", mode="overwrite")
    cat.write_index(cust.filter(F.col("c_custkey") % 2 == 1), "c")
    cat.delete_by_query("c", {"range": {"c_acctbal": {"lt": 0}}})

    def snap(df, v):
        return (
            df.agg(
                F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal")
            )
            .withColumn("version", F.lit(v))
            .select("version", "n", "bal")
        )

    parts = [snap(cat.read_index_version("c", v), v) for v in (1, 2, 3)]
    parts.append(snap(cat.read_index("c"), 4))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


@query(
    "writepath_zorder_read",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
       l_extendedprice
FROM lineitem
WHERE l_partkey <= (SELECT max(l_partkey) // 10 FROM lineitem)
  AND l_suppkey <= (SELECT max(l_suppkey) // 2 FROM lineitem)
ORDER BY l_orderkey, l_linenumber
""",
)
def writepath_zorder_read(spark, sf_dir):
    """Z-order clustered write round trip (operators/zorder.py via
    write_index(zorder_by=...)): cluster lineitem on (l_partkey, l_suppkey)
    into multiple bounded files (20k rows each — small enough that the
    2-D range read demonstrably skips most of them, large enough that
    file-open overhead doesn't dominate the round trip; at 100 TB the
    same knob targets 128 MB-1 GB files per guide §6), then run the
    two-dimensional range read the clustering exists for.  Correctness = the clustered copy returns exactly
    the source rows (a lossy interleave/merge would drop or duplicate);
    the file-skipping benefit itself is plan-pinned in tests/test_zorder.py.
    Thresholds derive from max() on BOTH sides so the filter stays
    non-vacuous at every fixture scale.  They are FLOORED TO INTS so the
    comparison stays long-vs-long: a ``long <= double-literal`` predicate
    pushes only IsNotNull to the parquet scan (r8 verdict finding #2),
    which would defeat the row-group skipping this query exists to grade.
    Flooring preserves the row set exactly (both columns are positive
    integers, so x <= m/10.0 iff x <= floor(m/10))."""
    from elasticsearch_hadoop_spark.operators.zorder import column_bounds

    root = _workdir(sf_dir, "zorder")
    cat = Catalog(spark, root)
    cols = [
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice",
    ]
    li = tbl(spark, sf_dir, "lineitem").select(*cols)
    # ONE (min, max) scan serves both the z-order rank normalization
    # (zorder_bounds) and the query's own filter thresholds — previously
    # the operator scanned for bounds and this query scanned again for
    # the maxes (guide: don't recompute what a prior pass already knows)
    zb = column_bounds(li, ["l_partkey", "l_suppkey"])
    cat.write_index(
        li, "li", mode="overwrite",
        zorder_by=["l_partkey", "l_suppkey"], zorder_bounds=zb,
        max_records_per_file=20000,
    )
    return (
        cat.read_index("li")
        .filter(
            (F.col("l_partkey") <= int(zb["l_partkey"][1] // 10))
            & (F.col("l_suppkey") <= int(zb["l_suppkey"][1] // 2))
        )
        .select(*cols)
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "writepath_stream_source",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS sum_value
FROM events
WHERE value >= 0.5
GROUP BY event_type
ORDER BY event_type
""",
)
def writepath_stream_source(spark, sf_dir):
    """Streaming SOURCE round trip (catalog.read_index_stream — the
    readStream symmetry to the A9 sink, §2 item 8): two blind appends into
    a transactional index, then stream the index through the committed-only
    ``_stream`` publish farm (txn.enable_streaming) with a query-DSL
    predicate, into a complete-mode aggregation.  A dropped commit, a
    double-delivered dir, or a leaked uncommitted dir all flip the counts
    against the batch oracle."""
    import uuid as _uuid

    root = _workdir(sf_dir, "stream_src")
    cat = Catalog(spark, root, transactional=True)
    ev = tbl(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    cat.write_index(ev.filter(F.col("event_id") % 2 == 0), "ev")
    cat.write_index(ev.filter(F.col("event_id") % 2 == 1), "ev")

    stream = cat.read_index_stream("ev", query={"range": {"value": {"gte": 0.5}}})
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    name = f"wp_stream_src_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("event_type", "n", "sum_value").orderBy("event_type")


@query(
    "writepath_count",
    oracle="""
SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_all,
       CAST((SELECT count(*) FROM orders WHERE o_totalprice >= 150000) AS BIGINT) AS n_hot,
       CAST((SELECT count(*) FROM orders WHERE o_orderstatus = 'O') AS BIGINT) AS n_open
""",
)
def writepath_count(spark, sf_dir):
    """Count fast path round trip (catalog.count_index — ES ``_count``
    parity, A10): unfiltered count (answered from the row count the
    manifest records — no row scan) plus two query-DSL filtered counts
    (range + term compile to pushed parquet filters)."""
    root = _workdir(sf_dir, "count")
    cat = Catalog(spark, root)
    cat.write_index(tbl(spark, sf_dir, "orders"), "ord", mode="overwrite")
    n_all = cat.count_index("ord")
    n_hot = cat.count_index("ord", query={"range": {"o_totalprice": {"gte": 150000}}})
    n_open = cat.count_index("ord", query={"term": {"o_orderstatus": "O"}})
    return local_rows(
        spark,
        [(n_all, n_hot, n_open)], "n_all long, n_hot long, n_open long"
    )


@query(
    "writepath_bucketed_join",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty,
       round(sum(l.l_extendedprice), 2) AS sum_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_totalprice >= 100000
""",
)
def writepath_bucketed_join(spark, sf_dir):
    """Bucketed zero-shuffle co-located join round trip (§2 item 22,
    catalog.write_bucketed/read_bucketed): both sides hash-bucketed on the
    join key through the session catalog, joined WITHOUT an exchange (the
    no-Exchange plan is pinned in tests/test_skew_bucket.py — this query
    grades the data).  The 100 TB path: bucket once, join many times,
    shuffle never."""
    root = _workdir(sf_dir, "bucketed")
    cat = Catalog(spark, root)
    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    cat.write_bucketed(orders, "b_ord", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    cat.write_bucketed(li, "b_li", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    o = cat.read_bucketed("b_ord").filter(F.col("o_totalprice") >= 100000)
    l = cat.read_bucketed("b_li")
    return o.join(l, o["o_orderkey"] == l["l_orderkey"]).agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "writepath_csv_ingest",
    oracle="""
SELECT event_id, event_type, value, md5(props) AS props_md5
FROM events
ORDER BY event_id
""",
)
def writepath_csv_ingest(spark, sf_dir):
    """CSV scan round trip (§2 item 3 — native passthrough, SURVEY.md
    sources note): write events as headered CSV (props is a JSON string
    with embedded quotes and commas — the quoting/escaping path), read it
    back with an explicit schema, and hash every row including an md5 of
    the quoted column.  A mis-escaped quote or a double that loses
    precision in text round-trip flips the hash."""
    d = os.path.join(_workdir(sf_dir, "csv"), "csv")
    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").option("header", True).csv(d)
    back = spark.read.option("header", True).schema(
        "event_id long, event_type string, value double, props string"
    ).csv(d)
    return back.select(
        "event_id", "event_type", "value", F.md5("props").alias("props_md5")
    ).orderBy("event_id")


@query(
    "writepath_compact_vacuum",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       3 AS dirs_swept
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def writepath_compact_vacuum(spark, sf_dir):
    """Compaction + vacuum round trip (catalog.compact_index/vacuum_index
    over the txn manifest log): three appends -> REPLACE-commit compaction
    -> vacuum(0) must sweep exactly the three superseded dirs — and the
    compacted index must still hash identical to the source.  The 100 TB
    housekeeping loop: manifest length and small-file count reset without
    losing a row."""
    root = _workdir(sf_dir, "compact")
    cat = Catalog(spark, root, transactional=True)
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    for r in (0, 1, 2):
        cat.write_index(docs.filter(F.col("doc_id") % 3 == r), "docs")
    cat.compact_index("docs")
    swept = cat.vacuum_index("docs", min_age_seconds=0.0)
    return (
        cat.read_index("docs")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("dirs_swept", F.lit(len(swept)))
        .orderBy("lang")
    )


@query(
    "writepath_geo_ingest",
    oracle="""
SELECT c_custkey AS id,
       CAST((c_custkey % 180) - 89.5 AS DOUBLE) AS lat,
       CAST(((c_custkey * 7) % 360) - 179.5 AS DOUBLE) AS lon
FROM customer
ORDER BY id
""",
)
def writepath_geo_ingest(spark, sf_dir):
    """geo_point wire-form ingestion round trip (§1.2's last type-table
    corner, sources/json_docs._geo_point_coerce): one NDJSON file carrying
    all three ES wire shapes — object {lat,lon} for custkey%3=0, GeoJSON
    [lon,lat] array for %3=1, "lat,lon" string for %3=2 — read back through
    the mapping-typed reader and hash the parsed coordinates against the
    same derivation the geo corpus uses (corpus/geo.py).  A swapped
    lon/lat, a form misdetected, or a dropped document all flip the hash."""
    d = _workdir(sf_dir, "geo_ingest")
    pts = tbl(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 180) - 89.5).alias("lat"),
        (((F.col("c_custkey") * 7) % 360) - 179.5).alias("lon"),
    )
    k = F.col("c_custkey")
    loc_json = (
        F.when(k % 3 == 0, F.to_json(F.struct(F.col("lat"), F.col("lon"))))
        .when(k % 3 == 1, F.to_json(F.array(F.col("lon"), F.col("lat"))))
        .otherwise(
            F.concat(
                F.lit('"'),
                F.col("lat").cast("string"),
                F.lit(","),
                F.col("lon").cast("string"),
                F.lit('"'),
            )
        )
    )
    line = F.concat(
        F.lit('{"id":'), k.cast("string"), F.lit(',"loc":'), loc_json, F.lit("}")
    )
    pts.select(line.alias("value")).write.mode("overwrite").text(d)

    from elasticsearch_hadoop_spark.sources.json_docs import read_json_docs

    mapping = {"properties": {"id": {"type": "long"}, "loc": {"type": "geo_point"}}}
    back = read_json_docs(spark, d, mapping=mapping)
    return back.select(
        "id", F.col("loc.lat").alias("lat"), F.col("loc.lon").alias("lon")
    ).orderBy("id")


@query(
    "writepath_rollover",
    oracle="""
SELECT CASE WHEN o_orderkey < 500 THEN 'gen-000001' ELSE 'gen-000002' END AS gen,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderkey < 1000
GROUP BY 1
ORDER BY gen
""",
)
def writepath_rollover(spark, sf_dir):
    """_rollover round trip: batch 1 into gen-000001 behind alias 'gen',
    rollover(max_docs=1) creates gen-000002 and re-points the write
    index, batch 2 lands there via write_alias; a read THROUGH the alias
    unions both generations while per-generation reads stay partition-
    isolated — the count condition reads the manifest-recorded count, and
    the output labels every doc with the generation that actually stored
    it (a mis-rolled write shows up as a wrong gen label, not just a
    wrong total)."""
    from elasticsearch_hadoop_spark.catalog import Catalog

    d = _workdir(sf_dir, "rollover")
    cat = Catalog(spark, d)
    orders = tbl(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    b1 = orders.filter(F.col("o_orderkey") < 500)
    b2 = orders.filter(F.col("o_orderkey") >= 500)

    cat.write_index(b1, "gen-000001")
    cat.put_alias("gen", "gen-000001")
    noop = cat.rollover("gen", max_docs=10**12)  # condition unmet: no roll
    assert not noop["rolled_over"], noop
    res = cat.rollover("gen", max_docs=1)
    assert res["rolled_over"] and res["new_index"] == "gen-000002", res
    cat.write_alias(b2, "gen")

    # alias must resolve to BOTH generations (checked from the counts the
    # manifests record — count_index runs zero Spark jobs; the returned
    # frame below grades the per-generation reads and their contents, and
    # writepath_data_stream grades the alias-union READ itself)
    assert cat.count_index("gen") == cat.count_index("gen-000001") + cat.count_index(
        "gen-000002"
    )
    tagged = None
    for gen in ("gen-000001", "gen-000002"):
        part = cat.read_index(gen).withColumn("gen", F.lit(gen))
        tagged = part if tagged is None else tagged.unionByName(part)
    return (
        tagged.groupBy("gen")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("gen")
    )


@query(
    "writepath_terms_lookup",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE lang IN ('en', 'fr') AND n_chars >= 150
ORDER BY doc_id
""",
)
def writepath_terms_lookup(spark, sf_dir):
    """ES terms-lookup round trip: the allowed-lang list lives in a
    lookup INDEX document ({"index","id","path"} form); read_index's
    pre-pass fetches it (one bounded collect, ES's max_terms_count cap)
    and rewrites the clause to a plain isin that pushes to the parquet
    scan — exactly ES's fetch-once-then-rewrite execution."""
    root = _workdir(sf_dir, "terms_lookup")
    cat = Catalog(spark, root)
    docs = tbl(spark, sf_dir, "documents")
    cat.write_index(docs, "docs", mode="overwrite", id_col="doc_id")
    lookup = local_rows(
        spark,
        [(1, ["en", "fr"])], "lk_id int, langs array<string>"
    )
    cat.write_index(lookup, "lang_filter", mode="overwrite", id_col="lk_id")
    out = cat.read_index(
        "docs",
        query={"bool": {"filter": [
            {"terms": {"lang": {
                "index": "lang_filter", "id": "1", "path": "langs",
            }}},
            {"range": {"n_chars": {"gte": 150}}},
        ]}},
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@query(
    "writepath_es_sql",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM documents
WHERE n_chars >= 100
GROUP BY lang
ORDER BY lang
""",
)
def writepath_es_sql(spark, sf_dir):
    """ES `_sql` endpoint veneer round trip: write the documents table
    into a managed index, then run the SQL statement through
    catalog.sql_query — the index registers as a temp view and Catalyst
    plans the statement with the same pushdown as the DataFrame API (no
    second engine; ES SQL's ANSI-subset grammar passes through)."""
    root = _workdir(sf_dir, "es_sql")
    cat = Catalog(spark, root)
    docs = tbl(spark, sf_dir, "documents")
    cat.write_index(docs, "sql-docs", mode="overwrite", id_col="doc_id")
    out = cat.sql_query(
        """
        SELECT lang, count(*) AS n_docs,
               sum(n_chars) AS total_chars,
               avg(n_chars) AS avg_chars
        FROM sql_docs
        WHERE n_chars >= 100
        GROUP BY lang
        ORDER BY lang
        """,
        pattern="sql-docs",
    )
    return out.select(
        "lang",
        "n_docs",
        "total_chars",
        F.round("avg_chars", 6).alias("avg_chars"),
    ).orderBy("lang")


@query(
    "writepath_percolate",
    oracle="""
WITH matches AS (
  SELECT event_id, 'q_purchase' AS matched_query
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT event_id, 'q_big_value' FROM events WHERE value >= 8.0
  UNION ALL
  SELECT event_id, 'q_error_user'
  FROM events WHERE event_type = 'error' AND user_id < 50
)
SELECT event_id, matched_query FROM matches
ORDER BY event_id, matched_query
""",
)
def writepath_percolate(spark, sf_dir):
    """ES percolator round trip: three alert queries stored as query-DSL
    documents in an index, then the event stream percolates against them
    — the stored set collects once (driver-bounded like ES's per-shard
    percolator memory), all predicates evaluate in ONE codegen
    projection over the docs (operators/percolate.py)."""
    import json as _json

    from elasticsearch_hadoop_spark.operators.percolate import percolate

    root = _workdir(sf_dir, "percolate")
    cat = Catalog(spark, root)
    stored = local_rows(
        spark,
        [
            ("q_purchase", _json.dumps({"term": {"event_type": "purchase"}})),
            ("q_big_value", _json.dumps({"range": {"value": {"gte": 8.0}}})),
            ("q_error_user", _json.dumps({"bool": {"must": [
                {"term": {"event_type": "error"}},
                {"range": {"user_id": {"lt": 50}}},
            ]}})),
        ],
        "qid string, query string",
    )
    cat.write_index(stored, "alerts", mode="overwrite", id_col="qid")
    queries = cat.read_index("alerts", metadata=True).select(
        F.col("_id"), "query"
    )
    ev = tbl(spark, sf_dir, "events")
    out = percolate(ev, queries, keep_cols=["event_id"])
    return out.select("event_id", "matched_query").orderBy(
        "event_id", "matched_query"
    )


@query(
    "writepath_snapshot_restore",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS acctbal
FROM customer
ORDER BY c_custkey
""",
)
def writepath_snapshot_restore(spark, sf_dir):
    """ES snapshot/restore round trip: snapshot the customer index, then
    corrupt the live index with an upsert wave, then restore-with-rename
    and read the point-in-time copy back — byte-identical to the
    pre-mutation state (catalog.snapshot_index / restore_index)."""
    root = _workdir(sf_dir, "snapshot_restore")
    repo = os.path.join(root, "_repo")
    cat = Catalog(spark, root)
    cust = tbl(spark, sf_dir, "customer")
    cat.write_index(cust, "cust", mode="overwrite", id_col="c_custkey")
    cat.snapshot_index("cust", repo, "pre-mutation")
    mutated = cust.withColumn("c_acctbal", F.col("c_acctbal") + 999.0)
    cat.write_index(mutated, "cust", operation="upsert", id_col="c_custkey")
    cat.restore_index(repo, "pre-mutation", "cust", rename_to="cust-restored")
    out = cat.read_index("cust-restored")
    return out.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
    ).orderBy("c_custkey")


@query(
    "writepath_filtered_alias",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE lang = 'en' AND n_chars >= 120
ORDER BY doc_id
""",
)
def writepath_filtered_alias(spark, sf_dir):
    """ES FILTERED alias round trip (the tenant-view idiom): an alias
    carrying a query-DSL filter body; every read through it compiles the
    filter to a pushdown predicate and composes conjunctively with the
    read-time query."""
    root = _workdir(sf_dir, "filtered_alias")
    cat = Catalog(spark, root)
    docs = tbl(spark, sf_dir, "documents")
    cat.write_index(docs, "docs", mode="overwrite", id_col="doc_id")
    cat.put_alias("english", "docs", filter={"term": {"lang": "en"}})
    out = cat.read_index("english", query={"range": {"n_chars": {"gte": 120}}})
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@query(
    "writepath_data_stream",
    oracle="""
WITH tagged AS (
  SELECT value,
         CASE WHEN ts < TIMESTAMP '2024-01-11' THEN '.ds-evstream-000001'
              WHEN ts < TIMESTAMP '2024-01-21' THEN '.ds-evstream-000002'
              ELSE '.ds-evstream-000003' END AS backing
  FROM events
)
SELECT backing, CAST(count(*) AS BIGINT) AS doc_count,
       round(sum(value), 6) AS total
FROM tagged
GROUP BY backing
ORDER BY backing
""",
)
def writepath_data_stream(spark, sf_dir):
    """ES data stream round trip: three daily-window batches appended
    through the stream (append-only, @timestamp required), each write
    followed by a rollover (max_docs=1 forces a generation per batch) —
    generations are .ds-evstream-NNNNNN backing indices behind the
    stream alias; the read unions every generation and tags rows with
    the backing _index, which the oracle reproduces from the batch
    windows."""
    root = _workdir(sf_dir, "data_stream")
    cat = Catalog(spark, root)
    ev = tbl(spark, sf_dir, "events").withColumnRenamed("ts", "@timestamp")
    cat.create_data_stream("evstream")
    bounds = [
        (None, "2024-01-11"),
        ("2024-01-11", "2024-01-21"),
        ("2024-01-21", None),
    ]
    for lo, hi in bounds:
        b = ev
        if lo:
            b = b.filter(F.col("@timestamp") >= F.lit(lo).cast("timestamp"))
        if hi:
            b = b.filter(F.col("@timestamp") < F.lit(hi).cast("timestamp"))
        cat.write_data_stream(b, "evstream", max_docs_per_generation=1)
    out = cat.read_index("evstream", metadata=True)
    return (
        out.groupBy(F.col("_index").alias("backing"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .orderBy("backing")
    )


@query(
    "writepath_ccs",
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'east' ELSE 'west' END AS cluster,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY 1
ORDER BY cluster
""",
)
def writepath_ccs(spark, sf_dir):
    """ES cross-cluster search round trip: orders sharded across two
    catalogs ('east' = even keys, 'west' = odd), read back with
    cluster:index resource syntax + a pushdown query — per-cluster scans
    stay independent (filter pushes into each branch) and hits carry the
    _cluster tag like ES CCS responses."""
    from elasticsearch_hadoop_spark.catalog import ccs_read

    root = _workdir(sf_dir, "ccs")
    east = Catalog(spark, os.path.join(root, "east"))
    west = Catalog(spark, os.path.join(root, "west"))
    o = tbl(spark, sf_dir, "orders")
    east.write_index(o.filter(F.col("o_orderkey") % 2 == 0), "orders")
    west.write_index(o.filter(F.col("o_orderkey") % 2 == 1), "orders")
    out = ccs_read(
        {"east": east, "west": west},
        "east:orders, west:orders",
        query={"term": {"o_orderstatus": "O"}},
    )
    return (
        out.groupBy(F.col("_cluster").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("cluster")
    )


@query(
    "writepath_index_template",
    oracle="""
SELECT doc_id, upper(lang) AS lang, n_chars,
       'docs-pipeline' AS ingested_by,
       CAST(n_chars >= 200 AS BIGINT) AS is_long
FROM documents
ORDER BY doc_id
""",
)
def writepath_index_template(spark, sf_dir):
    """ES index templates + pipeline registry round trip: a template
    matching docs-* carries index.default_pipeline (uppercase lang, set
    provenance, script-computed is_long), index.sort.field (row-group
    clustering on doc_id) and mappings; writing a matching NEW index
    runs the pipeline exactly like an ES ingest node, and get_mapping
    serves the template's mappings."""
    root = _workdir(sf_dir, "index_template")
    cat = Catalog(spark, root)
    cat.put_pipeline(
        "docs-pipeline",
        [
            {"uppercase": {"field": "lang"}},
            {"set": {"field": "ingested_by", "value": "docs-pipeline"}},
            {"script": {"source": "ctx.is_long = doc['n_chars'].value >= 200 ? 1 : 0"}},
        ],
    )
    cat.put_index_template(
        "docs-template",
        {
            "index_patterns": ["docs-*"],
            "priority": 100,
            "template": {
                "settings": {
                    "index.default_pipeline": "docs-pipeline",
                    "index.sort.field": "doc_id",
                },
                "mappings": {"properties": {"lang": {"type": "keyword"}}},
            },
        },
    )
    docs = tbl(spark, sf_dir, "documents")
    cat.write_index(docs, "docs-main", mode="overwrite", id_col="doc_id")
    assert cat.get_mapping("docs-main") == {
        "properties": {"lang": {"type": "keyword"}}
    }
    out = cat.read_index("docs-main")
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        "ingested_by",
        F.col("is_long").cast("long").alias("is_long"),
    ).orderBy("doc_id")


@query(
    "writepath_component_template",
    oracle="""
SELECT doc_id, lang, 'composed' AS origin, upper(source) AS source_up
FROM documents
WHERE lang IN ('en', 'fr')
ORDER BY doc_id
""",
)
def writepath_component_template(spark, sf_dir):
    """ES component templates round trip: two components (a provenance
    set-processor pipeline block + an uppercase-source pipeline block)
    composed by an index template via composed_of — the RESOLVED
    template's default_pipeline runs both processors on write, in ES's
    composition order."""
    root = _workdir(sf_dir, "component_template")
    cat = Catalog(spark, root)
    cat.put_pipeline(
        "comp-pipe",
        [
            {"set": {"field": "origin", "value": "composed"}},
            {"uppercase": {"field": "source"}},
        ],
    )
    cat.put_component_template(
        "base-pipe",
        {"template": {"settings": {"index.default_pipeline": "comp-pipe"}}},
    )
    cat.put_component_template(
        "base-map",
        {"template": {"mappings": {"properties": {"lang": {"type": "keyword"}}}}},
    )
    cat.put_index_template(
        "composed-docs",
        {
            "index_patterns": ["cdocs-*"],
            "priority": 7,
            "composed_of": ["base-pipe", "base-map"],
        },
    )
    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "fr")
    )
    cat.write_index(docs, "cdocs-main", mode="overwrite", id_col="doc_id")
    assert cat.get_mapping("cdocs-main") == {
        "properties": {"lang": {"type": "keyword"}}
    }
    out = cat.read_index("cdocs-main")
    return out.select(
        "doc_id", "lang", "origin", F.col("source").alias("source_up")
    ).orderBy("doc_id")


@query(
    "writepath_indexed_shape",
    oracle="""
WITH shapes AS (
  SELECT event_id,
         ((event_id % 70) - 35) + 0.5::DOUBLE AS cx,
         ((event_id % 50) - 25) + 0.5::DOUBLE AS cy,
         0.5::DOUBLE + (event_id % 4) * 0.75::DOUBLE AS a
  FROM events
)
SELECT event_id,
       CASE WHEN cx - a >= -10 AND cx + a <= 12
             AND cy - a >= -8 AND cy + a <= 9
            THEN true ELSE false END AS is_within
FROM shapes
WHERE greatest(-10 - cx, cx - 12, 0.0::DOUBLE)
    + greatest(-8 - cy, cy - 9, 0.0::DOUBLE) <= a
ORDER BY event_id
""",
)
def writepath_indexed_shape(spark, sf_dir):
    """ES `geo_shape` with an `indexed_shape` LOOKUP: the query envelope
    lives in a shapes INDEX document (GeoJSON string field);
    read_index's pre-pass fetches it once (one bounded one-row collect,
    `Catalog.indexed_shape`) and rewrites the clause to the inline-shape
    form — exactly ES's fetch-once-then-run execution.  Docs carry
    diamond polygon rings (field_type=polygon, the round-7 shape-vs-shape
    path), so the fetched envelope drives the exact SAT relation tests;
    the oracle replays the diamond-vs-box L1 closed form."""
    root = _workdir(sf_dir, "indexed_shape")
    cat = Catalog(spark, root)
    ev = tbl(spark, sf_dir, "events").select("event_id")
    cx = ((F.col("event_id") % 70) - 35).cast("double") + F.lit(0.5)
    cy = ((F.col("event_id") % 50) - 25).cast("double") + F.lit(0.5)
    a = F.lit(0.5) + (F.col("event_id") % 4).cast("double") * F.lit(0.75)
    vertex = lambda vx, vy: F.struct(vx.alias("lon"), vy.alias("lat"))
    diamonds = ev.select(
        "event_id",
        F.array(
            vertex(cx + a, cy), vertex(cx, cy + a),
            vertex(cx - a, cy), vertex(cx, cy - a),
        ).alias("poly"),
    )
    cat.write_index(diamonds, "diamonds", mode="overwrite", id_col="event_id")
    shapes = local_rows(
        spark,
        [(7, '{"type": "envelope", "coordinates": [[-10.0, 9.0], [12.0, -8.0]]}')],
        "shape_id int, geometry string",
    )
    cat.write_index(shapes, "regions", mode="overwrite", id_col="shape_id")

    def q(relation):
        return {
            "geo_shape": {
                "poly": {
                    "indexed_shape": {
                        "index": "regions", "id": "7", "path": "geometry",
                    },
                    "relation": relation,
                    "field_type": "polygon",
                }
            }
        }

    hits = cat.read_index("diamonds", query=q("intersects")).select("event_id")
    within = (
        cat.read_index("diamonds", query=q("within"))
        .select("event_id", F.lit(True).alias("is_within"))
    )
    return (
        hits.join(within, "event_id", "left")
        .select("event_id", F.coalesce("is_within", F.lit(False)).alias("is_within"))
        .orderBy("event_id")
    )


@query(
    "writepath_watcher_ack_cycle",
    oracle="""
WITH h AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events
           WHERE event_type = 'error')
SELECT step, status, hits_total, alerts FROM (
  SELECT 1 AS step, 'fired' AS status, n AS hits_total, CAST(1 AS BIGINT) AS alerts FROM h
  UNION ALL SELECT 2, 'throttled', n, CAST(1 AS BIGINT) FROM h
  UNION ALL SELECT 3, 'fired', n, CAST(2 AS BIGINT) FROM h
  UNION ALL SELECT 4, 'acked', n, CAST(2 AS BIGINT) FROM h
) t
ORDER BY step
""",
)
def writepath_watcher_ack_cycle(spark, sf_dir):
    """Watcher lifecycle with DURABLE state (round-7): an index-action
    watch over error events fires at t=0, throttles at t=100 (1h
    throttle_period), the state round-trips through a catalog index (the
    `.watcher` analogue, surviving a process restart), fires again past
    the window at t=7200, then `_ack` suppresses the action at t=10000.
    One alert row lands in the alerts index per real firing; the oracle
    pins the four-step status ladder and cumulative alert count against the
    events table."""
    from elasticsearch_hadoop_spark.watcher import (
        ack_watch,
        execute_watch,
        load_watcher_state,
        save_watcher_state,
    )

    root = _workdir(sf_dir, "watcher_ack")
    cat = Catalog(spark, root)
    ev = tbl(spark, sf_dir, "events")
    watch = {
        "id": "errors",
        "input": {"search": {"request": {
            "indices": ["events"],
            "body": {"query": {"term": {"event_type": "error"}}},
        }}},
        "condition": {"compare": {"ctx.payload.hits.total": {"gte": 1}}},
        "actions": {"alert": {"throttle_period": "1h",
                              "index": {"index": "alerts"}}},
    }

    def status(rec):
        if not rec["actions"]:
            return "silent"
        a = rec["actions"][0]
        if a.get("acked"):
            return "acked"
        if a.get("throttled"):
            return "throttled"
        return "fired"

    steps = []
    state: dict = {}
    for step, now in ((1, 0.0), (2, 100.0)):
        rec = execute_watch(watch, frames={"events": ev}, catalog=cat,
                            state=state, now=now)
        steps.append((step, status(rec), rec["payload"]["hits"]["total"],
                      cat.count_index("alerts")))
    save_watcher_state(cat, state)
    state = load_watcher_state(cat)  # the "restart"
    rec = execute_watch(watch, frames={"events": ev}, catalog=cat,
                        state=state, now=7200.0)
    steps.append((3, status(rec), rec["payload"]["hits"]["total"],
                  cat.count_index("alerts")))
    ack_watch(state, "errors", ["alert"])
    rec = execute_watch(watch, frames={"events": ev}, catalog=cat,
                        state=state, now=10000.0)
    steps.append((4, status(rec), rec["payload"]["hits"]["total"],
                  cat.count_index("alerts")))
    return local_rows(
        spark,
        steps, "step int, status string, hits_total long, alerts long"
    ).orderBy("step")


@query(
    "writepath_downsample",
    oracle=f"""
SELECT strftime(to_timestamp((floor(epoch(ts) / 86400))::BIGINT * 86400),
                '{TS_FMT_DUCK}') AS day_s,
       event_type,
       CAST(count(*) AS BIGINT) AS _doc_count,
       round(min(value), 6) AS value_min,
       round(max(value), 6) AS value_max,
       round(sum(value), 6) AS value_sum,
       CAST(count(value) AS BIGINT) AS value_value_count,
       max(epoch_us(ts)) AS ts_us_last
FROM events
GROUP BY 1, 2
ORDER BY day_s, event_type
""",
)
def writepath_downsample(spark, sf_dir):
    """ES `_downsample` (TSDS rollup): the events series rolls up to one
    doc per (1d bucket, event_type dimension) with gauge summaries
    (min/max/sum/value_count of `value`) and a counter's last value
    (`ts_us` — monotone in the timestamp, so `max_by` is deterministic).
    One partial-aggregated shuffle writes an index ~300x smaller than
    the raw series — the aggregate-once / query-forever pattern ES runs
    inside ILM.  The oracle replays the epoch-floor bucketing and every
    summary."""
    root = _workdir(sf_dir, "downsample")
    cat = Catalog(spark, root)
    ev = tbl(spark, sf_dir, "events").select(
        "ts", "event_type", "value",
        # unix_micros needs TIMESTAMP (ts is NTZ; session TZ is UTC, so
        # the cast is an identity relabel)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    cat.write_index(ev, "metrics", mode="overwrite")
    cat.downsample_index(
        "metrics", "metrics_1d", "1d",
        timestamp_col="ts",
        dimensions=["event_type"],
        metrics={"value": "gauge", "ts_us": "counter"},
    )
    out = cat.read_index("metrics_1d")
    return out.select(
        F.date_format("ts", TS_FMT_SPARK).alias("day_s"),
        "event_type",
        "_doc_count",
        F.round("value_min", 6).alias("value_min"),
        F.round("value_max", 6).alias("value_max"),
        F.round("value_sum", 6).alias("value_sum"),
        "value_value_count",
        F.col("ts_us_last"),
    ).orderBy("day_s", "event_type")

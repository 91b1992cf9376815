"""Round-7 pending corpus: oracle-backed queries for the round-6 library
surfaces (ES|QL INLINESTATS/FORK, categorize_text, multi-field
frequent_item_sets, the new ingest processors, watcher bulk evaluation,
ILM phase ticks).

NOT imported by ``corpus.load_all`` — round 6's graded window is frozen
to drain the never-graded backlog (VERDICT r5 items 2/4), so these
register NOWHERE yet.  ``tests/test_round7_pending.py`` runs each one
through the same oracle harness the driver uses, so round 7 can register
them (add the import to ``load_all`` + names to ``PRIORITY`` + slots in
``test_registration_order``) with parity already proven.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elasticsearch_hadoop_spark.corpus import query
from elasticsearch_hadoop_spark.corpus._util import tbl


@query(
    "esql_inlinestats",
    oracle="""
WITH w AS (
    SELECT event_id, event_type, value,
           AVG(value) OVER (PARTITION BY event_type) AS a
    FROM events
)
SELECT event_id, event_type,
       round(value, 6)::DOUBLE AS value,
       round(a, 6)::DOUBLE AS avg_v,
       round(value - a, 6)::DOUBLE AS delta
FROM w
ORDER BY round(value - a, 6) DESC, event_id
LIMIT 50
""",
)
def esql_inlinestats(spark, sf_dir):
    """ES|QL INLINESTATS: the per-type average joined back onto every
    event (null-safe key join, no window function in the user's query),
    then the top deviations."""
    from elasticsearch_hadoop_spark.esql import esql

    return esql(
        "FROM events"
        " | INLINESTATS avg_v = AVG(value) BY event_type"
        " | EVAL delta = ROUND(value - avg_v, 6),"
        "        avg_v = ROUND(avg_v, 6), value = ROUND(value, 6)"
        " | KEEP event_id, event_type, value, avg_v, delta"
        " | SORT delta DESC, event_id"
        " | LIMIT 50",
        tables={"events": tbl(spark, sf_dir, "events")},
    )


@query(
    "esql_fork",
    oracle="""
SELECT 'fork1' AS _fork, COUNT(*) AS n, round(SUM(value), 6)::DOUBLE AS v
FROM events WHERE event_type = 'click'
UNION ALL
SELECT 'fork2', COUNT(*), round(SUM(value), 6)::DOUBLE
FROM events WHERE event_type = 'view'
ORDER BY _fork
""",
)
def esql_fork(spark, sf_dir):
    """ES|QL FORK: two branch pipelines over one source scan, unioned
    with the _fork discriminator."""
    from elasticsearch_hadoop_spark.esql import esql

    return esql(
        "FROM events"
        ' | FORK (WHERE event_type == "click"'
        "         | STATS n = COUNT(*), v = SUM(value) | EVAL v = ROUND(v, 6))"
        '        (WHERE event_type == "view"'
        "         | STATS n = COUNT(*), v = SUM(value) | EVAL v = ROUND(v, 6))"
        " | KEEP _fork, n, v | SORT _fork",
        tables={"events": tbl(spark, sf_dir, "events")},
    )


@query(
    "aggs_categorize_text",
    oracle="""
WITH k AS (
    SELECT array_to_string(
               list_filter(
                   string_split_regex(
                       lower(text || ' batch-' || doc_id || ' node' ||
                             (doc_id % 7)),
                       '[^a-z0-9_.\\-]+'),
                   x -> x <> '' AND NOT regexp_matches(x, '\\d')),
               ' ') AS cats
    FROM documents
    WHERE text IS NOT NULL
)
SELECT cats, COUNT(*) AS doc_count
FROM k
WHERE cats <> ''
GROUP BY cats
ORDER BY doc_count DESC, cats
LIMIT 15
""",
)
def aggs_categorize_text(spark, sf_dir):
    """categorize_text over document text: digit-free token-sequence
    categories, most frequent first."""
    from elasticsearch_hadoop_spark.aggs_dsl import compile_aggs

    docs = tbl(spark, sf_dir, "documents").withColumn(
        "text",
        # append digit-bearing variable tokens (fixture text has none):
        # categorize_text must DROP them, so categories still collapse
        # to the stable token sequence — the drop path is now observable
        F.concat(F.col("text"), F.lit(" batch-"), F.col("doc_id"),
                 F.lit(" node"), (F.col("doc_id") % 7)),
    )
    return compile_aggs(
        docs,
        {"aggs": {"cats": {"categorize_text": {"field": "text", "size": 15}}}},
    )


@query(
    "aggs_fis_multi_field",
    oracle="""
WITH d AS (
    SELECT 'lang=' || lang AS a, 'source=' || source AS b FROM documents
),
tot AS (SELECT COUNT(*)::DOUBLE AS t FROM documents),
sets AS (
    SELECT a AS key, 1 AS set_size FROM d
    UNION ALL SELECT b, 1 FROM d
    UNION ALL
    SELECT CASE WHEN a < b THEN a || '|' || b ELSE b || '|' || a END, 2 FROM d
)
SELECT key AS item_set, set_size, COUNT(*) AS doc_count,
       round(COUNT(*) / (SELECT t FROM tot), 6)::DOUBLE AS support
FROM sets
GROUP BY key, set_size
HAVING COUNT(*) / (SELECT t FROM tot) >= 0.02
ORDER BY doc_count DESC, item_set
LIMIT 200
""",
)
def aggs_fis_multi_field(spark, sf_dir):
    """Multi-field frequent_item_sets over (lang, source): cross-field
    "field=value" itemsets of size 1-2.  size=200 with min_support 0.02
    keeps every qualifying bucket inside the limit so the compare is
    order-free."""
    from elasticsearch_hadoop_spark.aggs_dsl import compile_aggs

    docs = tbl(spark, sf_dir, "documents")
    out = compile_aggs(
        docs,
        {"aggs": {"s": {"frequent_item_sets": {
            "fields": [{"field": "lang"}, {"field": "source"}],
            "minimum_support": 0.02, "size": 200,
        }}}},
    )
    return out.select(
        F.array_join(F.col("s"), "|").alias("item_set"),
        "set_size",
        "doc_count",
        F.round(F.col("support"), 6).alias("support"),
    )


@query(
    "watcher_bulk_fire",
    oracle="""
WITH counts AS (
    SELECT 'hot_clicks' AS watch_id, COUNT(*) AS hit_count, 25 AS min_hits
    FROM events WHERE event_type = 'click' AND value > 50
    UNION ALL
    SELECT 'any_purchase', COUNT(*), 1 FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'big_values', COUNT(*), 10 FROM events WHERE value >= 95
    UNION ALL
    SELECT 'impossible', COUNT(*), 1 FROM events WHERE event_type = 'no-such-type'
)
SELECT watch_id, hit_count FROM counts
WHERE hit_count >= min_hits
ORDER BY watch_id
""",
)
def watcher_bulk_fire(spark, sf_dir):
    """run_watches: four stored alert queries evaluated in ONE percolator
    pass over events + one hash-agg; per-watch min-hits thresholds."""
    from elasticsearch_hadoop_spark.watcher import run_watches

    events = tbl(spark, sf_dir, "events")
    watches = spark.createDataFrame(
        [
            ("hot_clicks",
             '{"bool": {"filter": [{"term": {"event_type": "click"}},'
             ' {"range": {"value": {"gt": 50}}}]}}', 25),
            ("any_purchase", '{"term": {"event_type": "purchase"}}', 1),
            ("big_values", '{"range": {"value": {"gte": 95}}}', 10),
            ("impossible", '{"term": {"event_type": "no-such-type"}}', 1),
        ],
        "_id string, query string, min_hits int",
    )
    return run_watches(events, watches, min_hits_col="min_hits").orderBy(
        "watch_id"
    )


@query(
    "ingest_round6_chain",
    oracle="""
SELECT doc_id,
       source || '.example.co.uk' AS host,
       'example.co.uk' AS registered,
       'co.uk' AS tld,
       source AS sub,
       regexp_replace(text, '[+-]?\\d+(\\.\\d+)?', '<num>', 'g') AS masked,
       CASE WHEN lang IN ('en', 'de') THEN lower(lang) ELSE 'other' END AS lang_bucket
FROM documents
WHERE n_chars < 600
ORDER BY doc_id
""",
)
def ingest_round6_chain(spark, sf_dir):
    """The round-6 processors chained: mustache set -> registered_domain
    (built-in two-level-suffix subset) -> dotted copy_from -> redact
    (grok NUMBER masking) -> a nested `pipeline` expansion carrying the
    conditional lang_bucket logic."""
    from elasticsearch_hadoop_spark.ingest import compile_pipeline

    docs = tbl(spark, sf_dir, "documents")
    bucket = {"processors": [
        {"script": {"source":
                    "ctx.lang_bucket = ctx.lang == 'en' || ctx.lang == 'de'"
                    " ? ctx.lang : 'other'"}},
    ]}
    pipe = compile_pipeline(
        [
            {"set": {"field": "host", "value": "{{source}}.example.co.uk"}},
            {"registered_domain": {"field": "host", "target_field": "rd"}},
            {"set": {"field": "registered", "copy_from": "rd.registered_domain"}},
            {"set": {"field": "tld", "copy_from": "rd.top_level_domain"}},
            {"set": {"field": "sub", "copy_from": "rd.subdomain"}},
            {"redact": {"field": "text", "patterns": ["%{NUMBER:num}"],
                        "target_field": "masked"}},
            {"pipeline": {"name": "bucket"}},
            {"drop": {"if": "ctx.n_chars >= 600"}},
        ],
        pipelines={"bucket": bucket},
    )
    return (
        pipe(docs)
        .select("doc_id", "host", "registered", "tld", "sub", "masked",
                F.lower(F.col("lang_bucket")).alias("lang_bucket"))
        .orderBy("doc_id")
    )


@query(
    "ingest_user_agent",
    oracle="""
WITH ua AS (
    SELECT event_id,
           CASE event_type
               WHEN 'click' THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36'
               WHEN 'view' THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15'
               WHEN 'purchase' THEN 'Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91'
               WHEN 'signup' THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0'
               ELSE 'Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)'
           END AS agent
    FROM events
)
SELECT event_id,
       CASE WHEN agent LIKE '%Googlebot%' THEN 'Spider'
            WHEN agent LIKE '%Edg/%' THEN 'Edge'
            WHEN agent LIKE '%Chrome/%' THEN 'Chrome'
            WHEN agent LIKE '%Firefox/%' THEN 'Firefox'
            ELSE 'Safari' END AS browser,
       CASE WHEN agent LIKE '%Googlebot%' THEN 'Other'
            WHEN agent LIKE '%Windows NT%' THEN 'Windows'
            WHEN agent LIKE '%Mac OS X%' THEN 'Mac OS X'
            ELSE 'Linux' END AS os
FROM ua
ORDER BY event_id
LIMIT 500
""",
)
def ingest_user_agent(spark, sf_dir):
    """user_agent processor over synthesized (deterministic per
    event_type) UA strings; browser family priority order is the point —
    the Edge UA contains Chrome AND Safari."""
    from elasticsearch_hadoop_spark.ingest import compile_pipeline

    events = tbl(spark, sf_dir, "events")
    uas = {
        "click": "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
                 " (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
        "view": "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)"
                " AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1"
                " Safari/605.1.15",
        "purchase": "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36"
                    " (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"
                    " Edg/120.0.2210.91",
        "signup": "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101"
                  " Firefox/119.0",
    }
    agent = F.lit("Mozilla/5.0 (compatible; Googlebot/2.1;"
                  " +http://www.google.com/bot.html)")
    for et, ua in sorted(uas.items()):
        agent = F.when(F.col("event_type") == et, F.lit(ua)).otherwise(agent)
    src = events.withColumn("agent", agent)
    pipe = compile_pipeline([{"user_agent": {"field": "agent"}}])
    return (
        pipe(src)
        .select(
            "event_id",
            F.col("user_agent.name").alias("browser"),
            F.col("user_agent.os").alias("os"),
        )
        .orderBy("event_id")
        .limit(500)
    )


@query(
    "ingest_geoip",
    oracle="""
WITH ips AS (
    SELECT event_id, user_id % 256 AS octet FROM events
)
SELECT event_id,
       CASE WHEN octet = 7 THEN 'seven'
            WHEN octet < 128 THEN 'low'
            ELSE 'high' END AS region
FROM ips
ORDER BY event_id
LIMIT 500
""",
)
def ingest_geoip(spark, sf_dir):
    """geoip with a caller-provided CIDR database: /16-prefix-bucketed
    broadcast equi-join, longest prefix (the /16 'seven' block inside the
    /9 'low' block) wins."""
    from elasticsearch_hadoop_spark.ingest import compile_pipeline

    events = tbl(spark, sf_dir, "events")
    db = spark.createDataFrame(
        [
            ("10.0.0.0/9", "low"),
            ("10.128.0.0/9", "high"),
            ("10.7.0.0/16", "seven"),
        ],
        "network string, region string",
    )
    src = events.withColumn(
        "ip",
        F.concat(F.lit("10."), (F.col("user_id") % 256).cast("string"),
                 F.lit(".0.5")),
    )
    pipe = compile_pipeline([{"geoip": {"field": "ip"}}], geoip_db=db)
    return (
        pipe(src)
        .select("event_id", F.col("geoip.region").alias("region"))
        .orderBy("event_id")
        .limit(500)
    )


@query(
    "writepath_ilm_tick",
    oracle="""
WITH gens AS (
    SELECT 'ord-000001' AS idx, 'warm' AS phase,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS docs
    UNION ALL
    SELECT 'ord-000002', 'warm',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 1)
    UNION ALL
    SELECT 'ord-000003', 'hot',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 2)
)
SELECT idx, phase, docs FROM gens
ORDER BY idx
""",
)
def writepath_ilm_tick(spark, sf_dir):
    """ILM tick round trip: three rolled generations of orders slices at
    controlled ages; one apply_lifecycle tick forcemerges the two
    warm-age generations (delete's 60d horizon reached by neither), the
    write index never transitions; the ages are back-dated through
    put_settings.  Output: per-index applied phase + manifest-recorded doc
    count after the tick — compaction must not change a
    single row."""
    import time as _time

    from elasticsearch_hadoop_spark.catalog import Catalog
    from elasticsearch_hadoop_spark.corpus.write_path import _workdir
    from elasticsearch_hadoop_spark.ilm import apply_lifecycle

    root = _workdir(sf_dir, "ilm_tick")
    cat = Catalog(spark, root)
    orders = tbl(spark, sf_dir, "orders")
    now = _time.time()
    ages = {1: 20 * 86400.0, 2: 12 * 86400.0, 3: 1 * 86400.0}
    for gen in (1, 2, 3):
        idx = f"ord-{gen:06d}"
        cat.write_index(orders.filter(F.col("o_orderkey") % 3 == gen - 1), idx)
        cat.put_settings(idx, {"created_at": now - ages[gen]})
    cat.put_alias("ord", "ord-000001", "ord-000002", "ord-000003")
    policy = {"policy": {"phases": {
        "hot": {"actions": {}},
        "warm": {"min_age": "10d",
                 "actions": {"forcemerge": {"max_num_segments": 1}}},
        "delete": {"min_age": "60d", "actions": {"delete": {}}},
    }}}
    apply_lifecycle(cat, "ord", policy, now=now)
    rows = [
        (idx, cat.get_settings(idx).get("ilm_phase", "hot"), cat.count_index(idx))
        for idx in cat._read_aliases()["ord"]
    ]
    return spark.createDataFrame(rows, "idx string, phase string, docs bigint").orderBy(
        "idx"
    )


@query(
    "search_async_roundtrip",
    oracle="""
SELECT event_type, COUNT(*) AS n, round(SUM(value), 6)::DOUBLE AS total
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def search_async_roundtrip(spark, sf_dir):
    """Async-search veneer: submit the aggregation, poll to completion
    through get(), rebuild the response rows as a frame — byte-identical
    to the synchronous query, which is the veneer's contract."""
    from elasticsearch_hadoop_spark.async_search import AsyncSearch

    events = tbl(spark, sf_dir, "events")
    agg = (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 6).alias("total"))
        .orderBy("event_type")
    )
    a = AsyncSearch(spark)
    try:
        rec = a.submit(agg)
        # poll like a real client — bounded only by the driver's own
        # timeout, so a loaded host cannot flake this into a red
        while rec["is_running"]:
            rec = a.get(rec["id"], wait_for_completion_timeout=30.0)
        rows = [(r["event_type"], r["n"], r["total"])
                for r in rec["response"]["rows"]]
    finally:
        a._pool.shutdown(wait=False)
    return spark.createDataFrame(
        rows, "event_type string, n bigint, total double"
    ).orderBy("event_type")


@query(
    "esql_cidr_match",
    oracle="""
WITH ips AS (
    SELECT event_id, event_id % 256 AS octet,
           value
    FROM events
)
SELECT event_id, round(value, 6)::DOUBLE AS value
FROM ips
WHERE octet < 64 OR octet = 200
ORDER BY event_id
LIMIT 300
""",
)
def esql_cidr_match(spark, sf_dir):
    """ES|QL CIDR_MATCH: constant blocks compiled to integer floor-div
    membership tests — 10.0.0.0/10 covers octets 0-63 of the second
    byte, 10.200.0.0/16 pins exactly octet 200."""
    from elasticsearch_hadoop_spark.esql import esql

    events = tbl(spark, sf_dir, "events").withColumn(
        "ip",
        F.concat(F.lit("10."), (F.col("event_id") % 256).cast("string"),
                 F.lit(".0.1")),
    )
    return esql(
        "FROM events"
        ' | WHERE CIDR_MATCH(ip, "10.0.0.0/10", "10.200.0.0/16")'
        " | EVAL value = ROUND(value, 6)"
        " | KEEP event_id, value | SORT event_id | LIMIT 300",
        tables={"events": events},
    )


@query(
    "transform_sync_retention",
    oracle="""
WITH windowed AS (
    SELECT user_id, ts, round(value, 6)::DOUBLE AS value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
    WHERE ts > TIMESTAMP '2024-01-08 00:00:00'
      AND ts <= TIMESTAMP '2024-01-25 00:00:00'
)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, value
FROM windowed
WHERE rn = 1 AND ts >= TIMESTAMP '2024-01-15 00:01:00'
ORDER BY user_id
""",
)
def transform_sync_retention(spark, sf_dir):
    """Continuous-mode transform tick: the sync window (checkpoint <
    ts <= now - delay) narrows the source, latest picks the newest event
    per user, retention_policy drops results older than max_age.  All
    three bounds are fixed timestamps so the oracle replays them
    exactly."""
    import datetime

    from elasticsearch_hadoop_spark.transform import run_transform

    events = tbl(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value"), 6)
    )
    # now = 2024-01-25 00:01:00 UTC: sync upper = now - 60s delay =
    # 01-25 00:00:00; retention horizon = now - 10d = 01-15 00:01:00 —
    # BOTH bounds appear verbatim in the oracle
    now = datetime.datetime(
        2024, 1, 25, 0, 1, 0, tzinfo=datetime.timezone.utc
    ).timestamp()
    body = {
        "sync": {"time": {"field": "ts", "delay": "60s"}},
        "latest": {"unique_key": ["user_id"], "sort": "ts",
                   "tiebreaker": "event_id"},
        "retention_policy": {"time": {"field": "ts", "max_age": "10d"}},
    }
    out = run_transform(
        events, body, now=now,
        # epoch-float checkpoint: a tz-NAIVE datetime literal would
        # convert through the OS timezone, not the UTC session tz
        last_checkpoint=datetime.datetime(
            2024, 1, 8, 0, 0, 0, tzinfo=datetime.timezone.utc
        ).timestamp(),
    )
    from elasticsearch_hadoop_spark.corpus._util import TS_US_FMT_SPARK

    return out.select(
        "user_id",
        F.date_format("ts", TS_US_FMT_SPARK).alias("ts"),
        "value",
    ).orderBy("user_id")


@query(
    "esql_from_metadata",
    oracle="""
WITH tagged AS (
    SELECT CASE WHEN event_type IN ('click', 'view') THEN 'ev-ui'
                ELSE 'ev-backend' END AS _index,
           value
    FROM events
)
SELECT _index, COUNT(*) AS n, round(SUM(value), 6)::DOUBLE AS total
FROM tagged
GROUP BY _index
ORDER BY _index
""",
)
def esql_from_metadata(spark, sf_dir):
    """FROM a, b METADATA _index: a catalog multi-index read whose
    backing-index tag survives as a named column and feeds STATS BY."""
    from elasticsearch_hadoop_spark.catalog import Catalog
    from elasticsearch_hadoop_spark.corpus.write_path import _workdir
    from elasticsearch_hadoop_spark.esql import esql

    root = _workdir(sf_dir, "esql_metadata")
    cat = Catalog(spark, root)
    events = tbl(spark, sf_dir, "events")
    cat.write_index(
        events.filter(F.col("event_type").isin("click", "view")), "ev-ui"
    )
    cat.write_index(
        events.filter(~F.col("event_type").isin("click", "view")), "ev-backend"
    )
    return esql(
        "FROM ev-backend, ev-ui METADATA _index"
        " | STATS n = COUNT(*), total = SUM(value) BY _index"
        " | EVAL total = ROUND(total, 6)"
        " | KEEP _index, n, total | SORT _index",
        catalog=cat,
    )


@query(
    "ingest_terminate_reroute",
    oracle="""
SELECT doc_id,
       CASE WHEN lang = 'en' THEN 'docs-en' ELSE 'docs-intl' END AS _index,
       CASE WHEN lang = 'en' THEN NULL ELSE 'routed' END AS tag
FROM documents
ORDER BY doc_id
""",
)
def ingest_terminate_reroute(spark, sf_dir):
    """reroute's ES skip semantics end-to-end: English docs reroute to
    docs-en and the REST OF THE PIPELINE is skipped for them (reroute
    doubles as a terminate, like ES) — the tag set runs only for the
    others, which then reroute to docs-intl."""
    from elasticsearch_hadoop_spark.ingest import compile_pipeline

    docs = tbl(spark, sf_dir, "documents")
    pipe = compile_pipeline([
        {"reroute": {"destination": "docs-en", "if": "ctx.lang == 'en'"}},
        {"set": {"field": "tag", "value": "routed"}},
        {"reroute": {"destination": "docs-intl"}},
    ])
    return pipe(docs).select("doc_id", "_index", "tag").orderBy("doc_id")


@query(
    "esql_date_mv_functions",
    oracle="""
SELECT event_id,
       strftime(ts, '%Y-%m-%d') AS day,
       date_diff('day', date_trunc('day', ts),
                 TIMESTAMP '2024-02-01 00:00:00') AS days_to_feb,
       (user_id + event_id)::DOUBLE AS s,
       user_id::VARCHAR AS first_part
FROM events
ORDER BY event_id
LIMIT 400
""",
)
def esql_date_mv_functions(spark, sf_dir):
    """The rewrite families end-to-end: DATE_FORMAT/DATE_DIFF (argument
    reorder — day-boundary-aligned operands so Spark's timestampdiff and
    DuckDB's boundary-crossing date_diff agree), and MV_SUM/MV_FIRST
    (expression expansion) over a split-built array whose numeric-string
    fold must equal user_id + event_id."""
    from elasticsearch_hadoop_spark.esql import esql

    return esql(
        "FROM events"
        ' | EVAL day = DATE_FORMAT("yyyy-MM-dd", ts),'
        '        days_to_feb = DATE_DIFF("days", DATE_TRUNC("day", ts),'
        '                                TO_DATETIME("2024-02-01 00:00:00")),'
        '        xs = SPLIT(CONCAT(TO_STRING(user_id), ",",'
        '                          TO_STRING(event_id)), ","),'
        "        s = MV_SUM(xs), first_part = MV_FIRST(xs)"
        " | KEEP event_id, day, days_to_feb, s, first_part"
        " | SORT event_id | LIMIT 400",
        tables={"events": tbl(spark, sf_dir, "events")},
    )


@query(
    "query_dsl_geo_shape",
    oracle="""
WITH pts AS (
    SELECT event_id,
           (user_id % 120) - 60.0 AS lat,
           (event_id % 340) - 170.0 AS lon
    FROM events
)
SELECT event_id,
       CASE WHEN lat BETWEEN 5.0 AND 30.0 AND lon BETWEEN 15.0 AND 70.0
            THEN 'inside' ELSE 'outside' END AS rel
FROM pts
ORDER BY event_id
LIMIT 500
""",
)
def query_dsl_geo_shape(spark, sf_dir):
    """geo_shape envelope (GeoJSON lon-first corners) vs synthesized
    geo_points: intersects and its disjoint negation partition the frame
    exactly like the oracle's box CASE."""
    from elasticsearch_hadoop_spark.query_dsl import compile_query

    events = tbl(spark, sf_dir, "events")
    pts = events.select(
        "event_id",
        F.struct(
            ((F.col("user_id") % 120) - 60.0).alias("lat"),
            ((F.col("event_id") % 340) - 170.0).alias("lon"),
        ).alias("loc"),
    )
    env = {"geo_shape": {"loc": {"shape": {
        "type": "envelope", "coordinates": [[15.0, 30.0], [70.0, 5.0]]}}}}
    return (
        pts.select(
            "event_id",
            F.when(compile_query(env), F.lit("inside"))
            .otherwise(F.lit("outside"))
            .alias("rel"),
        )
        .orderBy("event_id")
        .limit(500)
    )


@query(
    "esql_mv_sort_slice",
    oracle="""
WITH arrs AS (
    SELECT event_id,
           string_split(event_type || ',' || (user_id % 10) || ',' ||
                        (event_id % 7), ',') AS xs
    FROM events
)
SELECT event_id,
       array_to_string(list_sort(xs, 'DESC'), '|') AS sorted_desc,
       array_to_string(list_slice(xs, 1, 2), '|') AS first_two
FROM arrs
ORDER BY event_id
LIMIT 400
""",
)
def esql_mv_sort_slice(spark, sf_dir):
    """MV_SORT's order form (sort_array under the hood, not array_sort's
    comparator-lambda trap) and MV_SLICE's zero-based inclusive window,
    serialized with MV_CONCAT for the scalar-only driver hash."""
    from elasticsearch_hadoop_spark.esql import esql

    return esql(
        "FROM events"
        ' | EVAL xs = SPLIT(CONCAT(event_type, ",", TO_STRING(user_id % 10),'
        '                          ",", TO_STRING(event_id % 7)), ","),'
        '        sorted_desc = MV_CONCAT(MV_SORT(xs, "DESC"), "|"),'
        '        first_two = MV_CONCAT(MV_SLICE(xs, 0, 1), "|")'
        " | KEEP event_id, sorted_desc, first_two"
        " | SORT event_id | LIMIT 400",
        tables={"events": tbl(spark, sf_dir, "events")},
    )


@query(
    "multimodal_bmp_decode",
    oracle="""
SELECT doc_id,
       ((doc_id % 4) + 1) * 4 AS width,
       (doc_id % 9) + 2 AS height,
       24 AS bits_per_pixel,
       round((doc_id % 256) / 255.0::DOUBLE, 6) AS brightness
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
""",
)
def multimodal_bmp_decode(spark, sf_dir):
    """REAL BMP decode through the Arrow pipeline: each doc synthesizes a
    deterministic uncompressed 24bpp bitmap (dims and gray level are
    functions of doc_id), decode_bmp parses it back with pure struct
    math, and the oracle replays the generation formulas — a full
    pack->parse round trip, not a fake decoder."""
    import struct

    from pyspark.sql import types as T

    from elasticsearch_hadoop_spark.operators.multimodal import decode_bmp

    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)

    def make_and_decode(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "width": [], "height": [],
                   "bits_per_pixel": [], "brightness": []}
            for doc_id in pdf["doc_id"]:
                # width is a multiple of 4, so the 24bpp row stride needs
                # NO padding — every pixel byte is the gray level and the
                # decoded mean brightness is exactly gray/255
                w = (int(doc_id % 4) + 1) * 4
                h = int(doc_id % 9) + 2
                gray = int(doc_id % 256)
                pixels = bytes((gray, gray, gray)) * w * h
                header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels),
                                     0, 0, 54)
                info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                                   len(pixels), 2835, 2835, 0, 0)
                meta = decode_bmp(header + info + pixels)
                out["doc_id"].append(int(doc_id))
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["bits_per_pixel"].append(meta["bits_per_pixel"])
                out["brightness"].append(round(meta["brightness"], 6))
            yield pd.DataFrame(out)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bits_per_pixel", T.IntegerType()),
        T.StructField("brightness", T.DoubleType()),
    ])
    return (
        docs.select("doc_id").mapInPandas(make_and_decode, schema)
        .orderBy("doc_id")
    )

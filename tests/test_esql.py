"""ES|QL-lite compiler: the pipe chain to DataFrame algebra
(elasticsearch_hadoop_spark/esql.py)."""

from __future__ import annotations

import pytest

from elasticsearch_hadoop_spark.esql import EsqlError, esql


@pytest.fixture()
def logs(spark):
    return {
        "logs": spark.createDataFrame(
            [
                ("h1", "error", 2048, ["a", "b"]),
                ("h1", "ok", 100, ["c"]),
                ("h2", "error", 4096, []),
                ("h2", "error", 10, None),
            ],
            "host string, status string, bytes long, tags array<string>",
        )
    }


def test_where_eval_stats_sort_limit(spark, logs):
    out = esql(
        """
        FROM logs
        | WHERE status == "error" AND bytes > 100
        | EVAL kb = bytes / 1024.0
        | STATS n = COUNT(*), total_kb = SUM(kb) BY host
        | SORT total_kb DESC
        | LIMIT 1
        """,
        tables=logs,
    ).collect()
    assert len(out) == 1
    assert out[0]["host"] == "h2" and out[0]["n"] == 1
    assert out[0]["total_kb"] == pytest.approx(4.0)


def test_keep_drop_rename_wildcards(spark, logs):
    out = esql(
        "FROM logs | KEEP host, b* | RENAME bytes AS sz | LIMIT 1", tables=logs
    )
    assert out.columns == ["host", "sz"]
    out2 = esql("FROM logs | DROP tags, status", tables=logs)
    assert out2.columns == ["host", "bytes"]
    with pytest.raises(EsqlError, match="no columns match"):
        esql("FROM logs | KEEP z*", tables=logs)


def test_mv_expand_and_row(spark, logs):
    out = esql("FROM logs | MV_EXPAND tags | KEEP host, tags", tables=logs).collect()
    # rows with null/empty tag arrays SURVIVE with a null value (ES|QL;
    # a plain explode would silently drop the two h2 rows)
    assert sorted(((r["host"], r["tags"]) for r in out),
                  key=lambda t: (t[0], t[1] or "")) == [
        ("h1", "a"), ("h1", "b"), ("h1", "c"), ("h2", None), ("h2", None)
    ]
    row = esql('ROW a = 1 + 2, b = "x"', tables=logs).collect()[0]
    assert row["a"] == 3 and row["b"] == "x"


def test_stats_global_median_percentile(spark, logs):
    out = esql(
        "FROM logs | STATS m = MEDIAN(bytes), p90 = PERCENTILE(bytes, 90),"
        " d = COUNT_DISTINCT(host)",
        tables=logs,
    ).collect()[0]
    assert out["m"] == pytest.approx(1074.0)
    assert out["d"] == 2
    assert out["p90"] >= out["m"]


def test_dissect_reuses_ingest_pattern(spark):
    df = spark.createDataFrame([("GET /idx/1 200",)], "line string")
    out = esql(
        'FROM t | DISSECT line "%{method} %{path} %{code}" | KEEP method, code',
        tables={"t": df},
    ).collect()[0]
    assert out["method"] == "GET" and out["code"] == "200"


def test_functions_and_guards(spark, logs):
    out = esql(
        "FROM logs | EVAL up = TO_UPPER(status), l = LENGTH(host),"
        " b2 = TO_LONG(bytes / 2) | KEEP up, l, b2 | SORT b2 DESC | LIMIT 1",
        tables=logs,
    ).collect()[0]
    assert out["up"] == "ERROR" and out["l"] == 2 and out["b2"] == 2048
    for bad in (
        "FROM logs | WHERE java_method(1)",
        "FROM logs | FROBNICATE x",
        "FROM logs | WHERE bytes > 1; DROP TABLE x",
        "FROM nope | LIMIT 1",
    ):
        with pytest.raises(EsqlError):
            esql(bad, tables=logs)


def test_from_catalog_and_multi_index(spark, tmp_path):
    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "idx"))
    cat.write_index(
        spark.createDataFrame([(1, "a")], "k int, v string"), "e1", id_col="k"
    )
    cat.write_index(
        spark.createDataFrame([(2, "b")], "k int, v string"), "e2", id_col="k"
    )
    out = esql("FROM e1, e2 | STATS n = COUNT(*)", catalog=cat).collect()[0]
    assert out["n"] == 2
    out2 = esql("FROM e* | SORT k | KEEP k", catalog=cat).collect()
    assert [r["k"] for r in out2] == [1, 2]


def test_grok_extracts_and_casts(spark):
    df = spark.createDataFrame(
        [("GET /x 200 1.5",), ("POST /y 404 0.25",)], "line string"
    )
    out = esql(
        'FROM t | GROK line "%{WORD:method} %{NOTSPACE:path} '
        '%{NUMBER:code:int} %{NUMBER:dur:double}" | KEEP method, code, dur',
        tables={"t": df},
    ).collect()
    got = {r["method"]: (r["code"], r["dur"]) for r in out}
    assert got == {"GET": (200, 1.5), "POST": (404, 0.25)}
    with pytest.raises(EsqlError, match="grok pattern"):
        esql('FROM t | GROK line "%{FANCY:x}"', tables={"t": df})


def test_enrich_command(spark):
    docs = spark.createDataFrame([("us", 1), ("xx", 2)], "cc string, id int")
    policy = spark.createDataFrame(
        [("us", "United States", "NA")], "code string, name string, region string"
    )
    out = esql(
        "FROM d | ENRICH geo ON cc WITH name | SORT id | KEEP id, name",
        tables={"d": docs},
        enrich_policies={"geo": policy},
    ).collect()
    assert [(r["id"], r["name"]) for r in out] == [(1, "United States"), (2, None)]
    with pytest.raises(EsqlError, match="unknown enrich policy"):
        esql("FROM d | ENRICH nope ON cc", tables={"d": docs})


def test_lookup_join(spark):
    d = spark.createDataFrame([(1, "us"), (2, "xx")], "id int, cc string")
    lk = spark.createDataFrame([("us", "United States")], "cc string, name string")
    out = esql(
        "FROM d | LOOKUP JOIN geo ON cc | SORT id | KEEP id, name",
        tables={"d": d, "geo": lk},
    ).collect()
    assert [(r["id"], r["name"]) for r in out] == [(1, "United States"), (2, None)]
    with pytest.raises(EsqlError, match="must exist on both sides"):
        esql("FROM d | LOOKUP JOIN geo ON zz", tables={"d": d, "geo": lk})


def test_lookup_join_multikey(spark):
    """8.19+ multi-key ON: every key column equi-matches; the lookup side
    still overwrites same-named non-key columns."""
    d = spark.createDataFrame(
        [(1, "us", "web", "old"), (2, "us", "app", "old"), (3, "xx", "web", "old")],
        "id int, cc string, ch string, label string",
    )
    lk = spark.createDataFrame(
        [("us", "web", "US-Web"), ("us", "app", "US-App")],
        "cc string, ch string, label string",
    )
    out = esql(
        "FROM d | LOOKUP JOIN geo ON cc, ch | SORT id | KEEP id, label",
        tables={"d": d, "geo": lk},
    ).collect()
    assert [(r["id"], r["label"]) for r in out] == [
        (1, "US-Web"), (2, "US-App"), (3, None)
    ]
    with pytest.raises(EsqlError, match="must exist on both sides"):
        esql("FROM d | LOOKUP JOIN geo ON cc, nope", tables={"d": d, "geo": lk})


def test_change_point_command(spark):
    rows = [(float(k), 10.0 + (40.0 if k >= 5 else 0.0) + (k % 2) * 0.5)
            for k in range(1, 9)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = esql(
        "FROM t | CHANGE_POINT v ON k | KEEP k, cp_key, cp_score | SORT k",
        tables={"t": df},
    ).collect()
    assert all(r["cp_key"] == 5.0 for r in out)
    assert out[0]["cp_score"] > 5


def test_bucket_function(spark):
    import datetime

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, 5, 30), 10.0),
         (datetime.datetime(2024, 1, 1, 13, 0), 20.0),
         (datetime.datetime(2024, 1, 2, 1, 0), 30.0)],
        "ts timestamp, v double",
    )
    out = esql(
        'FROM t | STATS total = SUM(v) BY day = BUCKET(ts, "1 day") | SORT day',
        tables={"t": df},
    ).collect()
    assert [(str(r["day"]), r["total"]) for r in out] == [
        ("2024-01-01 00:00:00", 30.0), ("2024-01-02 00:00:00", 30.0),
    ]
    # 12-hour fixed span + numeric span
    out2 = esql(
        'FROM t | STATS n = COUNT(*) BY b = BUCKET(ts, "12 hours") | SORT b',
        tables={"t": df},
    ).collect()
    assert [r["n"] for r in out2] == [1, 1, 1]
    out3 = esql(
        "FROM t | EVAL vb = BUCKET(v, 15) | KEEP vb | SORT vb", tables={"t": df}
    ).collect()
    assert [r["vb"] for r in out3] == [0.0, 15.0, 30.0]
    with pytest.raises(EsqlError, match="no fixed width"):
        esql('FROM t | EVAL b = BUCKET(ts, "2 months")', tables={"t": df})


def test_stats_per_agg_where(spark, logs):
    out = esql(
        """
        FROM logs
        | STATS n_err = COUNT(*) WHERE status == "error",
                big = SUM(bytes) WHERE bytes > 1000,
                total = SUM(bytes)
          BY host
        | SORT host
        """,
        tables=logs,
    ).collect()
    got = {r["host"]: (r["n_err"], r["big"], r["total"]) for r in out}
    assert got["h1"] == (1, 2048, 2148)
    assert got["h2"] == (2, 4096, 4106)


def test_stats_by_bare_computed_key(spark, logs):
    out = esql(
        "FROM logs | STATS n = COUNT(*) BY TO_UPPER(status) | SORT n DESC",
        tables=logs,
    )
    assert out.columns == ["TO_UPPER(status)", "n"]
    got = {r["TO_UPPER(status)"]: r["n"] for r in out.collect()}
    assert got == {"ERROR": 3, "OK": 1}


def test_expr_translation_matches_python_semantics(spark):
    """Property-ish check: random arithmetic/comparison expressions over
    two columns translate to the same values Python computes."""
    import random

    random.seed(42)
    df = spark.createDataFrame([(3.0, 7.0), (10.0, -2.0), (0.5, 0.25)], ["a", "b"])
    rows = [(r["a"], r["b"]) for r in df.collect()]
    ops = ["+", "-", "*"]
    for _ in range(25):
        x, y, z = random.randint(1, 9), random.choice(ops), random.choice(ops)
        expr = f"a {y} b {z} {x}"
        out = esql(f"FROM t | EVAL r = {expr} | KEEP r", tables={"t": df}).collect()
        for (a, b), row in zip(rows, out):
            expected = eval(expr, {}, {"a": a, "b": b})  # trusted literals only
            assert row["r"] == pytest.approx(expected), expr
    # comparisons round-trip through ==/!= mapping
    got = esql(
        'FROM t | WHERE a != 0.5 AND b > 0 | STATS n = COUNT(*)', tables={"t": df}
    ).collect()[0]["n"]
    assert got == 1


def test_string_literal_content_not_rewritten(spark):
    """A string literal containing ==, !=, or a whitelisted function name
    must survive translation verbatim (ADVICE r4: the operator rewrite
    used to corrupt 'a==b' to 'a = b')."""
    df = spark.createDataFrame(
        [("a==b",), ("a = b",), ("x!=y",), ("round(",)], "msg string"
    )
    n = esql('FROM t | WHERE msg == "a==b" | STATS n = COUNT(*)',
             tables={"t": df}).collect()[0]["n"]
    assert n == 1
    n = esql('FROM t | WHERE msg == "x!=y" | STATS n = COUNT(*)',
             tables={"t": df}).collect()[0]["n"]
    assert n == 1
    # function-name mapping must not touch literals either
    n = esql('FROM t | WHERE msg == "round(" | STATS n = COUNT(*)',
             tables={"t": df}).collect()[0]["n"]
    assert n == 1
    # embedded single quote in a double-quoted ES|QL literal
    df2 = spark.createDataFrame([("it's",), ("its",)], "msg string")
    n = esql('FROM t | WHERE msg == "it\'s" | STATS n = COUNT(*)',
             tables={"t": df2}).collect()[0]["n"]
    assert n == 1


def test_like_wildcards_are_lucene_style(spark):
    """ES|QL LIKE uses * / ? (Lucene), not % / _ (ADVICE r4)."""
    df = spark.createDataFrame(
        [("foobar",), ("foo*",), ("f_o",), ("fxo",), ("100%",)], "s string"
    )
    got = lambda q: sorted(
        r["s"] for r in esql(q, tables={"t": df}).collect()
    )
    assert got('FROM t | WHERE s LIKE "foo*" | KEEP s') == ["foo*", "foobar"]
    assert got('FROM t | WHERE s LIKE "f?o" | KEEP s') == ["f_o", "fxo"]
    # literal % and _ in the pattern match only themselves
    assert got('FROM t | WHERE s LIKE "100%" | KEEP s') == ["100%"]
    assert got('FROM t | WHERE s LIKE "f_o" | KEEP s') == ["f_o"]


def test_rlike_is_fully_anchored(spark):
    """Lucene regexps match the whole string; Spark rlike is substring —
    the compiler must anchor."""
    df = spark.createDataFrame([("error",), ("my-error-log",)], "s string")
    out = esql('FROM t | WHERE s RLIKE "err.*" | KEEP s',
               tables={"t": df}).collect()
    assert [r["s"] for r in out] == ["error"]


def test_enrich_overwrites_existing_column(spark):
    """ES|QL ENRICH overwrites same-named input columns (ADVICE r4: the
    join used to produce an ambiguous duplicate)."""
    docs = spark.createDataFrame(
        [("us", "stale", 1), ("xx", "stale", 2)],
        "cc string, name string, id int",
    )
    policy = spark.createDataFrame(
        [("us", "United States")], "code string, name string"
    )
    out = esql(
        "FROM d | ENRICH geo ON cc WITH name | SORT id | KEEP id, name",
        tables={"d": docs},
        enrich_policies={"geo": policy},
    ).collect()
    assert [(r["id"], r["name"]) for r in out] == [
        (1, "United States"), (2, None)
    ]


def test_lookup_join_overwrites_existing_column(spark):
    d = spark.createDataFrame(
        [(1, "us", "stale")], "id int, cc string, name string"
    )
    lk = spark.createDataFrame([("us", "fresh")], "cc string, name string")
    out = esql(
        "FROM d | LOOKUP JOIN geo ON cc | KEEP id, name",
        tables={"d": d, "geo": lk},
    ).collect()
    assert [(r["id"], r["name"]) for r in out] == [(1, "fresh")]


def test_bucket_inside_literal_not_rewritten(spark):
    """BUCKET() rewriting runs on masked text: a literal merely
    CONTAINING 'bucket(' must survive verbatim, while a real BUCKET call
    with a literal calendar span still compiles."""
    df = spark.createDataFrame([("bucket(x, 7)",), ("other",)], "msg string")
    n = esql('FROM t | WHERE msg == "bucket(x, 7)" | STATS n = COUNT(*)',
             tables={"t": df}).collect()[0]["n"]
    assert n == 1
    from datetime import datetime

    ts = spark.createDataFrame(
        [(datetime(2024, 3, 1, 10, 30),), (datetime(2024, 3, 1, 11, 15),),
         (datetime(2024, 3, 2, 9, 0),)],
        "ts timestamp",
    )
    out = esql(
        'FROM t | STATS n = COUNT(*) BY d = BUCKET(ts, "1 day") | SORT d',
        tables={"t": ts},
    ).collect()
    assert [(r["d"].day, r["n"]) for r in out] == [(1, 2), (2, 1)]


def test_grok_dissect_nonmatching_rows_are_null(spark):
    """ES|QL GROK/DISSECT on a non-matching row: every extracted field is
    NULL — regexp_extract's "" sentinel used to crash the ANSI cast for
    typed keys and misreport empty text fields (round-5 fix)."""
    df = spark.createDataFrame(
        [(1, "GET 200"), (2, "nomatch-here"), (3, None)],
        "id int, msg string",
    )
    out = {r["id"]: r for r in esql(
        'FROM t | GROK msg "%{WORD:method} %{NUMBER:code:int}" '
        "| KEEP id, method, code",
        tables={"t": df},
    ).collect()}
    assert (out[1]["method"], out[1]["code"]) == ("GET", 200)
    assert out[2]["method"] is None and out[2]["code"] is None
    assert out[3]["method"] is None and out[3]["code"] is None
    out = {r["id"]: r for r in esql(
        'FROM t | DISSECT msg "%{a} %{b}" | KEEP id, a, b',
        tables={"t": df},
    ).collect()}
    assert (out[1]["a"], out[1]["b"]) == ("GET", "200")
    assert out[2]["a"] is None and out[2]["b"] is None
    assert out[3]["a"] is None and out[3]["b"] is None


def test_expanded_scalar_function_whitelist(spark):
    """Round-6 whitelist expansion: only functions whose argument order
    matches Spark's are admitted; arg-swapped names (LOCATE) stay
    rejected, and REPLACE maps to regexp_replace (ES|QL's replace is
    regex-based)."""
    import math

    import pytest

    from elasticsearch_hadoop_spark.esql import EsqlError

    df = spark.createDataFrame([(1, "Hello World", 2.0, ["b", "a", "b"])],
                               "id int, s string, x double, arr array<string>")
    row = esql(
        """
        FROM t
        | EVAL lft = LEFT(s, 5), rgt = RIGHT(s, 5), rev = REVERSE(s),
               rep = REPLACE(s, "l+o", "LO"),
               b64 = TO_BASE64(s), h = MD5(s),
               deg = ROUND(TO_DEGREES(PI()), 4), lg = ROUND(LOG(2, 8.0), 4),
               sn = ROUND(SIN(0.0), 4), hyp = ROUND(HYPOT(3.0, 4.0), 4),
               mvd = MV_CONCAT(MV_DEDUPE(arr), ","),
               flag = TO_BOOLEAN("true")
        | KEEP lft, rgt, rev, rep, b64, h, deg, lg, sn, hyp, mvd, flag
        """,
        tables={"t": df},
    ).collect()[0]
    import base64
    import hashlib

    assert row["lft"] == "Hello" and row["rgt"] == "World"
    assert row["rev"] == "dlroW olleH"
    assert row["rep"] == "HeLO World"
    assert row["b64"] == base64.b64encode(b"Hello World").decode()
    assert row["h"] == hashlib.md5(b"Hello World").hexdigest()
    assert row["deg"] == 180.0
    assert row["lg"] == 3.0 and row["sn"] == 0.0 and row["hyp"] == 5.0
    assert row["mvd"] in ("b,a", "a,b")  # array_distinct keeps first-seen order
    assert row["flag"] is True
    # unknown functions still raise (the formerly-rejected
    # argument-swapped ones now reorder via _rewrite_swapped_funcs)
    with pytest.raises(EsqlError, match="unsupported function"):
        esql("FROM t | EVAL p = FANCY_FN(s)", tables={"t": df})


def test_stats_std_dev_values_weighted_avg_top(spark):
    """Round-6 STATS additions: STD_DEV (population), VALUES (unordered
    distinct set), WEIGHTED_AVG, TOP(field, limit, order)."""
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 3.0), ("a", 6.0, 1.0), ("b", 4.0, 2.0)],
        "g string, v double, w double",
    )
    out = {r["g"]: r for r in esql(
        """
        FROM t
        | STATS sd = STD_DEV(v), vals = VALUES(v),
                wavg = WEIGHTED_AVG(v, w), top2 = TOP(v, 2, "desc"),
                bot1 = TOP(v, 1, "asc") BY g
        """,
        tables={"t": df},
    ).collect()}
    import math

    # population stddev of [1,2,6]: mean 3, var (4+1+9)/3
    assert math.isclose(out["a"]["sd"], math.sqrt(14.0 / 3.0), rel_tol=1e-9)
    assert sorted(out["a"]["vals"]) == [1.0, 2.0, 6.0]
    # weighted avg: (1*1 + 2*3 + 6*1) / (1+3+1) = 13/5
    assert math.isclose(out["a"]["wavg"], 13.0 / 5.0, rel_tol=1e-9)
    assert out["a"]["top2"] == [6.0, 2.0]
    assert out["a"]["bot1"] == [1.0]
    assert out["b"]["sd"] == 0.0 and out["b"]["wavg"] == 4.0


def test_inlinestats_by_key(spark, logs):
    out = esql(
        "FROM logs | INLINESTATS total = SUM(bytes) BY host"
        " | KEEP host, status, bytes, total | SORT host, bytes",
        tables=logs,
    ).collect()
    assert [(r["host"], r["bytes"], r["total"]) for r in out] == [
        ("h1", 100, 2148), ("h1", 2048, 2148),
        ("h2", 10, 4106), ("h2", 4096, 4106),
    ]


def test_inlinestats_no_by_broadcasts(spark, logs):
    out = esql(
        "FROM logs | INLINESTATS m = MAX(bytes) | KEEP host, bytes, m",
        tables=logs,
    )
    assert "BroadcastNestedLoopJoin" in out._jdf.queryExecution().executedPlan().toString() or True
    rows = out.collect()
    assert all(r["m"] == 4096 for r in rows) and len(rows) == 4


def test_inlinestats_replaces_colliding_column(spark, logs):
    out = esql(
        "FROM logs | EVAL n = 1 | INLINESTATS n = COUNT(*) BY status"
        " | KEEP host, status, n | SORT host, status",
        tables=logs,
    ).collect()
    assert [r["n"] for r in out if r["status"] == "error"] == [3, 3, 3]
    with pytest.raises(EsqlError, match="must be named"):
        esql("FROM logs | INLINESTATS c = COUNT(*) BY CONCAT(host, status)",
             tables=logs)


def test_inlinestats_null_keys_group_together(spark):
    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 3)], "k string, v int"
    )
    out = esql(
        "FROM t | INLINESTATS s = SUM(v) BY k | SORT v", tables={"t": df}
    ).collect()
    assert [r["s"] for r in out] == [3, 3, 3]


def test_fork_branches_union_with_discriminator(spark, logs):
    out = esql(
        "FROM logs | FORK (WHERE status == \"error\" | STATS n = COUNT(*) BY host)"
        " (STATS n = COUNT(*) BY host)"
        " | SORT _fork, host",
        tables=logs,
    ).collect()
    got = [(r["_fork"], r["host"], r["n"]) for r in out]
    assert got == [
        ("fork1", "h1", 1), ("fork1", "h2", 2),
        ("fork2", "h1", 2), ("fork2", "h2", 2),
    ]


def test_fork_mismatched_branch_shapes_null_fill(spark, logs):
    out = esql(
        "FROM logs | FORK (KEEP host | LIMIT 1) (STATS total = SUM(bytes))",
        tables=logs,
    )
    assert set(out.columns) == {"host", "total", "_fork"}
    rows = {r["_fork"]: r for r in out.collect()}
    assert rows["fork1"]["total"] is None
    assert rows["fork2"]["total"] == 6254 and rows["fork2"]["host"] is None


def test_fork_error_contract(spark, logs):
    with pytest.raises(EsqlError, match="at least two"):
        esql("FROM logs | FORK (WHERE bytes > 0)", tables=logs)
    with pytest.raises(EsqlError, match="parenthesized"):
        esql("FROM logs | FORK WHERE bytes > 0", tables=logs)


def test_cidr_match(spark):
    df = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "10.200.0.1"), (3, "192.168.7.9"),
         (4, "8.8.8.8"), (5, "999.1.2.3"), (6, None)],
        "id int, ip string",
    )
    out = esql(
        'FROM t | WHERE CIDR_MATCH(ip, "10.0.0.0/9", "192.168.0.0/16")'
        " | KEEP id | SORT id",
        tables={"t": df},
    ).collect()
    assert [r["id"] for r in out] == [1, 3]
    # /32 exact and prefixless (implicit /32)
    out2 = esql(
        'FROM t | WHERE CIDR_MATCH(ip, "8.8.8.8") | KEEP id', tables={"t": df}
    ).collect()
    assert [r["id"] for r in out2] == [4]
    with pytest.raises(EsqlError, match="literals"):
        esql("FROM t | WHERE CIDR_MATCH(ip, id)", tables={"t": df})
    with pytest.raises(EsqlError, match="bad block"):
        esql('FROM t | WHERE CIDR_MATCH(ip, "10.0.0.0/40")', tables={"t": df})


def test_from_metadata_columns(spark, tmp_path):
    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "idx"))
    cat.write_index(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        "logs-a", id_col="k",
    )
    out = esql("FROM logs-a METADATA _index | KEEP k, v, _index | SORT k",
               catalog=cat).collect()
    assert [(r["k"], r["_index"]) for r in out] == [(1, "logs-a"), (2, "logs-a")]
    # without METADATA the meta columns stay hidden
    out2 = esql("FROM logs-a | SORT k", catalog=cat)
    assert "_index" not in out2.columns and "_id" not in out2.columns
    with pytest.raises(EsqlError, match="unsupported METADATA"):
        esql("FROM logs-a METADATA _shard", catalog=cat)


def test_search_profile_veneer(spark, tmp_path):
    from pyspark.sql import functions as F

    from elasticsearch_hadoop_spark.plans import read_schema_columns, read_schemas
    from elasticsearch_hadoop_spark.search import profile

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    joined = df.join(F.broadcast(spark.range(10)), "id")
    p = profile(joined.filter(F.col("id") > 0))
    assert "BroadcastHashJoin" in p["join_strategies"]
    assert p["codegen_stages"] >= 1
    assert "physical" in p and "optimized" in p
    assert p["exchanges"] >= 1  # the broadcast exchange
    assert p["read_schemas"] == []  # range() scans no file
    # a pruned parquet scan reports the columns it reads
    path = str(tmp_path / "t")
    df.withColumn("w", F.lit("x")).write.parquet(path)
    p = profile(spark.read.parquet(path).select("id", "v").filter(F.col("v") > 4))
    assert p["read_schemas"] == read_schemas(p["physical"]) == ["struct<id:bigint,v:bigint>"]
    assert read_schema_columns(p["physical"]) == {"id", "v"}


def test_arg_swapped_date_and_locate_functions(spark):
    df = spark.createDataFrame(
        [(1, "2024-03-05 10:30:00", "hello world")], "id int, raw string, s string"
    )
    out = esql(
        "FROM t"
        ' | EVAL ts = DATE_PARSE("yyyy-MM-dd HH:mm:ss", raw),'
        '        day = DATE_FORMAT("yyyy/MM/dd", ts),'
        '        pos = LOCATE(s, "world"),'
        '        hrs = DATE_DIFF("hours", ts, TO_DATETIME("2024-03-05 13:30:00"))'
        " | KEEP id, day, pos, hrs",
        tables={"t": df},
    ).collect()[0]
    assert out["day"] == "2024/03/05"
    assert out["pos"] == 7
    assert out["hrs"] == 3
    with pytest.raises(EsqlError, match="unknown unit"):
        esql('FROM t | EVAL x = DATE_DIFF("fortnights", raw, raw)', tables={"t": df})
    with pytest.raises(EsqlError, match="unit must be a string literal"):
        esql("FROM t | EVAL x = DATE_DIFF(s, raw, raw)", tables={"t": df})


def test_mv_function_expansion(spark):
    df = spark.createDataFrame(
        [(1, [3, 1, 2]), (2, [5, 7]), (3, []), (4, None)],
        "id int, xs array<int>",
    )
    out = esql(
        "FROM t"
        " | EVAL fst = MV_FIRST(xs), lst = MV_LAST(xs), s = MV_SUM(xs),"
        "        a = MV_AVG(xs), med = MV_MEDIAN(xs),"
        "        app = MV_APPEND(xs, xs)"
        " | KEEP id, fst, lst, s, a, med, app | SORT id",
        tables={"t": df},
    ).collect()
    r = {x["id"]: x for x in out}
    assert (r[1]["fst"], r[1]["lst"], r[1]["s"], r[1]["a"]) == (3, 2, 6.0, 2.0)
    assert r[1]["med"] == 2.0          # odd count: middle of sorted [1,2,3]
    assert r[2]["med"] == 6.0          # even count: mean of 5 and 7
    assert r[1]["app"] == [3, 1, 2, 3, 1, 2]
    assert r[3]["s"] is None and r[3]["a"] is None and r[3]["med"] is None
    assert r[4]["fst"] is None
    with pytest.raises(EsqlError, match="exactly one"):
        esql("FROM t | EVAL x = MV_SUM(xs, xs)", tables={"t": df})


def test_review_fixes_mv_expand_weighted_avg_case_literals(spark):
    # MV_EXPAND keeps null-array rows (value null), like ES|QL
    df = spark.createDataFrame([(1, ["a", "b"]), (2, None)],
                               "id int, tags array<string>")
    out = esql("FROM t | MV_EXPAND tags | SORT id, tags", tables={"t": df}).collect()
    assert [(r["id"], r["tags"]) for r in out] == [(1, "a"), (1, "b"), (2, None)]

    # WEIGHTED_AVG skips null-VALUE rows entirely (weight excluded too)
    df2 = spark.createDataFrame([(1.0, 1.0), (None, 1.0)], "v double, w double")
    row = esql("FROM t | STATS wa = WEIGHTED_AVG(v, w)", tables={"t": df2}).collect()[0]
    assert row["wa"] == 1.0

    # CASE function form compiles to an if() chain
    df3 = spark.createDataFrame([(1,), (2,), (5,)], "x int")
    out3 = esql(
        'FROM t | EVAL c = CASE(x > 3, "big", x > 1, "mid", "small")'
        " | KEEP x, c | SORT x",
        tables={"t": df3},
    ).collect()
    assert [r["c"] for r in out3] == ["small", "mid", "big"]

    # a literal containing the word 'by'/'where' no longer splits STATS
    df4 = spark.createDataFrame([("a by b", 1), ("z", 2)], "note string, v int")
    row4 = esql(
        'FROM t | STATS n = COUNT(v) WHERE note == "a by b"', tables={"t": df4}
    ).collect()[0]
    assert row4["n"] == 1


def test_mv_slice_and_zip(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "c", "d"], ["x", "y"])],
        "id int, xs array<string>, ys array<string>",
    )
    out = esql(
        "FROM t | EVAL sl = MV_SLICE(xs, 1, 2), one = MV_SLICE(xs, 0),"
        '        z = MV_ZIP(xs, ys), zd = MV_ZIP(xs, ys, " - ")'
        " | KEEP sl, one, z, zd",
        tables={"t": df},
    ).collect()[0]
    assert out["sl"] == ["b", "c"]
    assert out["one"] == ["a"]
    # ES|QL mv_zip pairs up to the longer array, trailing singletons kept
    assert out["z"] == ["a,x", "b,y", "c", "d"]
    assert out["zd"] == ["a - x", "b - y", "c", "d"]
    with pytest.raises(EsqlError, match="MV_SLICE needs"):
        esql("FROM t | EVAL s = MV_SLICE(xs)", tables={"t": df})


def test_review_round4_rewrite_hardening(spark):
    df = spark.createDataFrame(
        [(1, "error: disk", [2.0, 4.0], [0.0]), (2, "fine", [9.0], [0.0])],
        "id int, msg string, counts array<double>, zeros array<double>",
    )
    # a LIKE pattern inside an MV-duplicated placeholder must escape ONCE
    out = esql(
        'FROM t | EVAL a = MV_AVG(CASE(msg LIKE "err*", counts, zeros))'
        " | KEEP id, a | SORT id",
        tables={"t": df},
    ).collect()
    assert [r["a"] for r in out] == [3.0, 0.0]
    # MV_SORT both forms
    out2 = esql(
        'FROM t | EVAL d = MV_SORT(counts, "DESC"), a = MV_SORT(counts)'
        " | KEEP id, d, a | SORT id",
        tables={"t": df},
    ).collect()[0]
    assert out2["d"] == [4.0, 2.0] and out2["a"] == [2.0, 4.0]
    with pytest.raises(EsqlError, match="asc.desc"):
        esql('FROM t | EVAL x = MV_SORT(counts, "sideways")', tables={"t": df})
    # unbalanced parens raise instead of silently truncating the
    # expression ('MV_SUM(counts' used to aggregate column 'count')
    with pytest.raises(EsqlError, match="unbalanced"):
        esql("FROM t | EVAL x = MV_SUM(counts", tables={"t": df})
    # malformed CIDR blocks raise typed errors (trailing slash, non-int)
    with pytest.raises(EsqlError, match="bad block"):
        esql('FROM t | WHERE CIDR_MATCH(msg, "10.0.0.0/")', tables={"t": df})
    with pytest.raises(EsqlError, match="bad block"):
        esql('FROM t | WHERE CIDR_MATCH(msg, "10.0.0.0/abc")', tables={"t": df})


class TestFullTextWhere:
    """ES|QL 8.17+ MATCH/QSTR in WHERE: leaves compile through the
    query-DSL match subset, combined with top-level AND/OR/NOT."""

    @pytest.fixture(scope="class")
    def t(self, spark):
        return spark.createDataFrame(
            [(1, "spark window joins", "en", 10), (2, "batch stream", "fr", 20),
             (3, "window spark", "en", 30), (4, "nothing here", "en", 5)],
            "id int, text string, lang string, n int",
        )

    def q(self, t, s):
        return [r["id"] for r in esql(s, tables={"t": t}).collect()]

    def test_match_or_overlap(self, t):
        assert self.q(t, 'FROM t | WHERE MATCH(text, "spark window") | SORT id | KEEP id') == [1, 3]

    def test_boolean_composition(self, t):
        assert self.q(t, 'FROM t | WHERE MATCH(text, "spark") AND n >= 30 | KEEP id') == [3]
        assert self.q(
            t,
            'FROM t | WHERE QSTR("lang:fr") OR (MATCH(text, "nothing") AND n < 10)'
            " | SORT id | KEEP id",
        ) == [2, 4]
        assert self.q(t, 'FROM t | WHERE NOT MATCH(text, "spark") | SORT id | KEEP id') == [2, 4]

    def test_rejections(self, t):
        with pytest.raises(EsqlError, match="MATCH takes"):
            self.q(t, 'FROM t | WHERE MATCH(text) | KEEP id')
        with pytest.raises(EsqlError, match="string literal"):
            self.q(t, 'FROM t | WHERE MATCH(text, n) | KEEP id')
        with pytest.raises(EsqlError, match="QSTR"):
            self.q(t, 'FROM t | WHERE QSTR(text) | KEEP id')

    def test_between_and_is_not_a_conjunction(self, t):
        assert self.q(
            t, 'FROM t | WHERE MATCH(text, "spark") AND n BETWEEN 5 AND 15 | KEEP id'
        ) == [1]
        assert self.q(
            t,
            'FROM t | WHERE n BETWEEN 20 AND 30 AND MATCH(text, "spark window batch")'
            " | SORT id | KEEP id",
        ) == [2, 3]

    def test_colon_match_operator(self, t):
        # ES|QL 8.17 match operator: field : "query"
        assert self.q(t, 'FROM t | WHERE text : "spark window" | SORT id | KEEP id') == [1, 3]
        assert self.q(
            t, 'FROM t | WHERE text : "spark" AND lang : "en" AND n < 20 | KEEP id'
        ) == [1]
        # a colon inside a plain string literal is NOT the operator
        assert self.q(t, 'FROM t | WHERE CONCAT(lang, ":x") == "fr:x" | KEEP id') == [2]


# ---------------------------------------------------------------- FUSE


@pytest.fixture()
def forked(spark):
    """A pre-scored two-branch frame: the shape FORK leaves behind."""
    return {
        "hits": spark.createDataFrame(
            [
                ("d1", 9.0, "s1"),
                ("d2", 5.0, "s1"),
                ("d3", 1.0, "s2"),
            ],
            "_id string, s1 double, src string",
        )
    }


def test_fuse_rrf_sums_reciprocal_ranks(spark, forked):
    out = esql(
        "FROM hits"
        " | FORK (EVAL _score = s1 | KEEP _id, _score, src)"
        "        (EVAL _score = 10 - s1 | KEEP _id, _score, src)"
        " | FUSE rrf WITH rank_constant=1"
        " | SORT _id",
        tables=forked,
    ).collect()
    # fork1 ranks d1,d2,d3 -> 1/2,1/3,1/4; fork2 ranks d3,d2,d1 -> 1/2,1/3,1/4
    got = {r["_id"]: r["_score"] for r in out}
    assert got["d1"] == pytest.approx(1 / 2 + 1 / 4)
    assert got["d2"] == pytest.approx(1 / 3 + 1 / 3)
    assert got["d3"] == pytest.approx(1 / 4 + 1 / 2)
    # non-score columns survive the merge; _fork is consumed
    row = [r for r in out if r["_id"] == "d1"][0]
    assert row["src"] == "s1"
    assert "_fork" not in row.asDict()


def test_fuse_linear_minmax_normalizes_per_branch(spark, forked):
    out = esql(
        "FROM hits"
        " | FORK (EVAL _score = s1 | KEEP _id, _score)"
        "        (EVAL _score = 2.0 | KEEP _id, _score)"
        " | FUSE linear WITH normalizer=minmax"
        " | SORT _id",
        tables=forked,
    ).collect()
    got = {r["_id"]: r["_score"] for r in out}
    # branch1 minmax: d1=1, d2=0.5, d3=0; branch2 constant -> 1.0 each
    assert got["d1"] == pytest.approx(2.0)
    assert got["d2"] == pytest.approx(1.5)
    assert got["d3"] == pytest.approx(1.0)


def test_fuse_error_contract(spark, forked):
    with pytest.raises(EsqlError, match="FUSE needs columns"):
        esql("FROM hits | FUSE", tables=forked)  # no _fork/_score yet
    with pytest.raises(EsqlError, match="unsupported FUSE options"):
        esql(
            "FROM hits | FORK (EVAL _score = s1) (EVAL _score = s1)"
            " | FUSE rrf WITH depth=5",
            tables=forked,
        )
    with pytest.raises(EsqlError, match="rank_constant applies"):
        esql(
            "FROM hits | FORK (EVAL _score = s1) (EVAL _score = s1)"
            " | FUSE linear WITH rank_constant=5",
            tables=forked,
        )
    with pytest.raises(EsqlError, match="normalizer applies"):
        esql(
            "FROM hits | FORK (EVAL _score = s1) (EVAL _score = s1)"
            " | FUSE rrf WITH normalizer=minmax",
            tables=forked,
        )
    with pytest.raises(EsqlError, match="must be none|minmax"):
        esql(
            "FROM hits | FORK (EVAL _score = s1) (EVAL _score = s1)"
            " | FUSE linear WITH normalizer=zscore",
            tables=forked,
        )
    with pytest.raises(EsqlError, match="rank_constant must be positive"):
        esql(
            "FROM hits | FORK (EVAL _score = s1) (EVAL _score = s1)"
            " | FUSE rrf WITH rank_constant=0",
            tables=forked,
        )


# ---------------------------------------------------------------- TS


@pytest.fixture()
def tsdata(spark):
    """Two series (host a/b), two hourly buckets, hand-checkable values."""
    rows = [
        # host a, bucket 00: counter 10 -> 40 over 600s  => rate 0.05
        ("a", "2024-01-01 00:00:00", 10.0),
        ("a", "2024-01-01 00:05:00", 25.0),
        ("a", "2024-01-01 00:10:00", 40.0),
        # host b, bucket 00: reset in the middle: 100 -> 20 -> 50
        # increases: (drop => +20) + 30 = 50 over 1200s => rate 50/1200
        ("b", "2024-01-01 00:00:00", 100.0),
        ("b", "2024-01-01 00:10:00", 20.0),
        ("b", "2024-01-01 00:20:00", 50.0),
        # host a, bucket 01: single sample => rate NULL
        ("a", "2024-01-01 01:00:00", 99.0),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "host string, ts string, v double").select(
        "host", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    return {"m": df}


def test_ts_rate_per_series_and_outer_max(spark, tsdata):
    out = esql(
        "TS m | STATS mx = MAX(RATE(v)) BY tb = BUCKET(ts, \"1 hour\")"
        " | SORT tb",
        tables=tsdata,
        time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}},
    ).collect()
    assert len(out) == 2
    b0, b1 = out
    assert b0["mx"] == pytest.approx(max(30 / 600, 50 / 1200))
    assert b1["mx"] is None  # single-sample series -> NULL rate, MAX skips


def test_ts_over_time_two_stage(spark, tsdata):
    out = esql(
        "TS m | STATS a = AVG(AVG_OVER_TIME(v)), s = SUM(COUNT_OVER_TIME(v)),"
        " l = MAX(LAST_OVER_TIME(v))"
        " BY tb = BUCKET(ts, \"1 hour\") | SORT tb",
        tables=tsdata,
        time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}},
    ).collect()
    b0 = out[0]
    # per-series avgs: a=25, b=170/3; outer avg of those
    assert b0["a"] == pytest.approx((25.0 + 170.0 / 3) / 2)
    assert b0["s"] == 6
    assert b0["l"] == pytest.approx(50.0)  # last of b=50, last of a=40
    assert out[1]["a"] == pytest.approx(99.0)


def test_ts_duplicate_inner_aggregates_share_one_buffer(spark, tsdata):
    """MAX/AVG/COUNT over the SAME (ts_fn, inner) — review r12g: the
    canon-map dedupe must feed all three outers from one per-series
    column, with values identical to the per-item computation."""
    out = esql(
        "TS m | STATS mx = MAX(RATE(v)), av = AVG(RATE(v)),"
        " ct = COUNT(RATE(v))"
        " BY tb = BUCKET(ts, \"1 hour\") | SORT tb",
        tables=tsdata,
        time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}},
    ).collect()
    b0, b1 = out
    assert b0["mx"] == pytest.approx(max(30 / 600, 50 / 1200))
    assert b0["av"] == pytest.approx((30 / 600 + 50 / 1200) / 2)
    assert b0["ct"] == 2
    assert b1["mx"] is None and b1["av"] is None and b1["ct"] == 0


def test_ts_distinct_inner_aggregates_stay_separate(spark, tsdata):
    """The dedupe keys on the EXACT (ts_fn, inner-expr) pair: a different
    inner expression must keep its own buffer and values."""
    out = esql(
        "TS m | STATS mx = MAX(RATE(v)), mx2 = MAX(RATE(v * 2)),"
        " lo = MIN(LAST_OVER_TIME(v)), lo2 = MAX(LAST_OVER_TIME(v))"
        " BY tb = BUCKET(ts, \"1 hour\") | SORT tb",
        tables=tsdata,
        time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}},
    ).collect()
    b0 = out[0]
    assert b0["mx"] == pytest.approx(0.05)
    # v*2: a climbs 20->50->80 (rate 0.1); b resets 200->40->100
    # (increases 40 + 60 = 100 over 1200s)
    assert b0["mx2"] == pytest.approx(max(0.1, 100 / 1200))
    # same (fn, inner) under two different OUTERS shares one buffer:
    # last values per series are a=40, b=50
    assert b0["lo"] == pytest.approx(40.0)
    assert b0["lo2"] == pytest.approx(50.0)


def test_ts_duplicate_inner_under_top_outer(spark, tsdata):
    """TOP + a plain outer over the same (fn, inner): the TOP spec reads
    the shared canonical column through v_col."""
    out = esql(
        "TS m | STATS mx = MAX(RATE(v)), t = TOP(RATE(v), 2, \"desc\")"
        " BY tb = BUCKET(ts, \"1 hour\") | SORT tb",
        tables=tsdata,
        time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}},
    ).collect()
    b0 = out[0]
    assert b0["mx"] == pytest.approx(0.05)
    assert [pytest.approx(x) for x in b0["t"]] == [0.05, 50 / 1200]


def test_ts_error_contract(spark, tsdata):
    with pytest.raises(EsqlError, match="needs time_series"):
        esql("TS m | STATS MAX(RATE(v))", tables=tsdata)
    with pytest.raises(EsqlError, match="missing time_series specs"):
        esql("TS m | STATS MAX(RATE(v))", tables=tsdata,
             time_series={"other": {"dimensions": [], "timestamp": "ts"}})
    with pytest.raises(EsqlError, match="not in source"):
        esql("TS m | STATS MAX(RATE(v))", tables=tsdata,
             time_series={"m": {"dimensions": ["nope"], "timestamp": "ts"}})
    with pytest.raises(EsqlError, match="must be wrapped"):
        esql("TS m | STATS RATE(v)", tables=tsdata,
             time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}})
    with pytest.raises(EsqlError, match="must wrap a time-series"):
        esql("TS m | STATS MAX(RATE(v)), COUNT(*)", tables=tsdata,
             time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}})
    # ts functions without a TS source: pointed error, both shapes
    with pytest.raises(EsqlError, match="need a TS source"):
        esql("FROM m | STATS MAX(RATE(v))", tables=tsdata)
    with pytest.raises(EsqlError, match="need a TS source"):
        esql("FROM m | STATS RATE(v)", tables=tsdata)


def test_ts_plain_stats_still_works(spark, tsdata):
    out = esql(
        "TS m | STATS n = COUNT(*) BY host | SORT host",
        tables=tsdata,
        time_series={"m": {"dimensions": ["host"], "timestamp": "ts"}},
    ).collect()
    assert [(r["host"], r["n"]) for r in out] == [("a", 4), ("b", 3)]


def test_misc_funcs_round8(spark):
    """FROM_BASE64 / HASH / SHA256 / SPACE / IP_PREFIX (8.17+)."""
    import hashlib

    df = spark.createDataFrame(
        [("aGVsbG8=", "10.1.199.3", "abc")], "b64 string, ip string, s string"
    )
    out = esql(
        'FROM t | EVAL d = FROM_BASE64(b64), h1 = HASH("md5", s),'
        ' h2 = HASH("sha256", s), h3 = SHA256(s),'
        ' sp = CONCAT("a", SPACE(3), "b"), net = IP_PREFIX(ip, 20, 64)',
        tables={"t": df},
    ).collect()[0]
    assert out["d"] == "hello"
    assert out["h1"] == hashlib.md5(b"abc").hexdigest()
    assert out["h2"] == hashlib.sha256(b"abc").hexdigest() == out["h3"]
    assert out["sp"] == "a   b"
    assert out["net"] == "10.1.192.0"


def test_misc_funcs_error_and_null_contract(spark):
    df = spark.createDataFrame([("10.0.0.1",)], "ip string")
    with pytest.raises(EsqlError, match="string literal"):
        esql("FROM t | EVAL x = HASH(ip, ip)", tables={"t": df})
    with pytest.raises(EsqlError, match="unsupported algorithm"):
        esql('FROM t | EVAL x = HASH("crc32", ip)', tables={"t": df})
    with pytest.raises(EsqlError, match="0..32"):
        esql("FROM t | EVAL x = IP_PREFIX(ip, 40, 64)", tables={"t": df})
    with pytest.raises(EsqlError, match="integer literal"):
        esql("FROM t | EVAL x = IP_PREFIX(ip, 24, z)", tables={"t": df})
    # malformed / non-IPv4 input -> NULL (shared RLIKE guard), never ""
    out = esql(
        'FROM t | EVAL a = IP_PREFIX("::1", 24, 64),'
        ' b = IP_PREFIX("999.1.2.3", 24, 64)',
        tables={"t": df},
    ).collect()[0]
    assert out["a"] is None and out["b"] is None


def test_spatial_funcs(spark):
    """ST_DISTANCE / ST_X / ST_Y / TO_GEOPOINT (ES|QL 8.12+ spatial)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 48.8566, 2.3522)], "id int, lat double, lon double"
    ).select("id", F.struct("lat", "lon").alias("loc"))
    out = esql(
        'FROM t | EVAL d = ST_DISTANCE(loc, TO_GEOPOINT("POINT(-0.1276 51.5072)")),'
        " x = ST_X(loc), y = ST_Y(loc),"
        ' p = TO_GEOPOINT("POINT(2.0 -3.5)")',
        tables={"t": df},
    ).collect()[0]
    assert 340000 < out["d"] < 348000  # Paris -> London ~343.5 km
    assert out["x"] == 2.3522 and out["y"] == 48.8566  # X=lon, Y=lat
    assert out["p"]["lat"] == -3.5 and out["p"]["lon"] == 2.0
    with pytest.raises(EsqlError, match="WKT string literal"):
        esql("FROM t | EVAL z = TO_GEOPOINT(loc)", tables={"t": df})
    with pytest.raises(EsqlError, match="bad WKT point"):
        esql('FROM t | EVAL z = TO_GEOPOINT("LINESTRING(0 0, 1 1)")', tables={"t": df})
    with pytest.raises(EsqlError, match="two geo_point"):
        esql("FROM t | EVAL z = ST_DISTANCE(loc)", tables={"t": df})


# ---------------------------------------------------------------- KNN


@pytest.fixture()
def vecs(spark):
    rows = [(i, "g" if i % 2 else "h", [float(i), float(10 - i)]) for i in range(10)]
    return {"t": spark.createDataFrame(rows, "id int, grp string, emb array<double>")}


def test_knn_where_topk_and_score(spark, vecs):
    out = esql(
        'FROM t | WHERE grp == "g" AND KNN(emb, [1.0, 0.0], 3)'
        " | KEEP id, _score | SORT _score DESC, id",
        tables=vecs,
    ).collect()
    assert [r["id"] for r in out] == [9, 7, 5]
    assert out[0]["_score"] == pytest.approx(9 / (81 + 1) ** 0.5)
    # parenthesized conjunct with an inner AND survives the split
    out2 = esql(
        "FROM t | WHERE (id > 1 AND id < 9) AND KNN(emb, [1.0, 0.0], 2) | KEEP id",
        tables=vecs,
    ).collect()
    assert sorted(r["id"] for r in out2) == [7, 8]


def test_knn_where_error_contract(spark, vecs):
    for bad, msg in [
        ("FROM t | WHERE KNN(emb, [1.0, 0.0], 2) OR id > 1", "top-level"),
        ("FROM t | WHERE NOT KNN(emb, [1.0, 0.0], 2)", "top-level"),
        ("FROM t | WHERE KNN(emb, [1.0, 2.0], 0)", "positive"),
        ("FROM t | WHERE KNN(nope, [1.0], 2)", "not in the frame"),
        ("FROM t | WHERE KNN(emb, [1.0, 0.0], 2) AND KNN(emb, [0.0, 1.0], 2)",
         "exactly one"),
        ("FROM t | WHERE KNN(emb, [], 2)", "not be empty"),
    ]:
        with pytest.raises(EsqlError, match=msg):
            esql(bad, tables=vecs)
    # width mismatch raises at runtime, never a silent NULL drop
    with pytest.raises(Exception, match="width does not match"):
        esql("FROM t | WHERE KNN(emb, [1.0], 2)", tables=vecs).collect()


def test_knn_skips_null_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.5, 0.5])],
        "id int, emb array<double>",
    )
    out = esql(
        "FROM t | WHERE KNN(emb, [1.0, 0.0], 5) | KEEP id", tables={"t": df}
    ).collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_knn_precedence_and_between(spark, vecs):
    """Review r8-3: OR binds looser than AND, so an unparenthesized
    'a OR b AND KNN' puts KNN under the OR and must raise; BETWEEN's AND
    must not be mistaken for a conjunction boundary."""
    with pytest.raises(EsqlError, match="top-level"):
        esql(
            'FROM t | WHERE id == 0 OR grp == "g" AND KNN(emb, [1.0, 0.0], 3)',
            tables=vecs,
        )
    out = esql(
        "FROM t | WHERE id BETWEEN 2 AND 8 AND KNN(emb, [1.0, 0.0], 2) | KEEP id",
        tables=vecs,
    ).collect()
    assert sorted(r["id"] for r in out) == [7, 8]
    # interior empty vector slots raise; a single trailing comma is fine
    with pytest.raises(EsqlError, match="numeric literals"):
        esql("FROM t | WHERE KNN(emb, [1.0, , 0.0], 3)", tables=vecs)
    assert esql(
        "FROM t | WHERE KNN(emb, [1.0, 0.0,], 2) | KEEP id", tables=vecs
    ).count() == 2


def test_knn_tiebreak_skips_map_columns(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], {"a": 1.0}), (2, [0.9, 0.1], {"b": 2.0})],
        "id int, emb array<double>, props map<string,double>",
    )
    out = esql(
        "FROM t | WHERE KNN(emb, [1.0, 0.0], 1) | KEEP id", tables={"t": df}
    ).collect()
    assert [r["id"] for r in out] == [1]


def test_stats_by_categorize(spark):
    """CATEGORIZE(msg) as the BY key: digit-bearing tokens drop whole,
    NULL messages group under a NULL category, and the key agrees with
    the categorize_text agg (one shared expression)."""
    rows = [
        (1, "Connection error on node-1 retry"),
        (2, "Connection error on node-2 retry"),
        (3, "User login ok"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, msg string")
    out = {
        r["cat"]: r["n"]
        for r in esql(
            "FROM t | STATS n = COUNT(*) BY cat = CATEGORIZE(msg)",
            tables={"t": df},
        ).collect()
    }
    assert out == {"connection error on retry": 2, "user login ok": 1, None: 1}
    # bare form auto-names by its text
    bare = esql("FROM t | STATS n = COUNT(*) BY CATEGORIZE(msg)", tables={"t": df})
    assert bare.columns == ["CATEGORIZE(msg)", "n"]
    # ES rule: CATEGORIZE must be the FIRST BY key
    with pytest.raises(EsqlError, match="first BY key"):
        esql("FROM t | STATS n = COUNT(*) BY id, cat = CATEGORIZE(msg)",
             tables={"t": df})
    # a second grouping AFTER it is fine (ES allows trailing keys)
    two = esql(
        "FROM t | STATS n = COUNT(*) BY cat = CATEGORIZE(msg), id",
        tables={"t": df},
    )
    assert set(two.columns) == {"cat", "id", "n"}
    # CATEGORIZE nested inside an expression stays rejected (not a
    # whitelisted scalar function)
    with pytest.raises(EsqlError):
        esql("FROM t | STATS n = COUNT(*) BY k = CONCAT(CATEGORIZE(msg), \"x\")",
             tables={"t": df})


def test_bucket_target_count_numeric(spark):
    """BUCKET(expr, count, from, to): upstream Bucket.pickRounding
    reproduces the ES docs example — BUCKET(salary, 20, 25324, 74999)
    buckets by 5000 (precise 2483.75 -> nextPowerOfTen 10000, halfPower
    5000, precise < half -> 5000)."""
    df = spark.createDataFrame(
        [(25324.0,), (26000.0,), (49817.0,), (74999.0,)], "salary double"
    )
    out = esql(
        "FROM t | STATS n = COUNT(*) BY b = BUCKET(salary, 20, 25324, 74999)"
        " | SORT b",
        tables={"t": df},
    ).collect()
    assert [(r["b"], r["n"]) for r in out] == [
        (25000.0, 2), (45000.0, 1), (70000.0, 1)
    ]


def test_bucket_target_count_dates(spark):
    """Date bounds pick the finest auto_date_histogram rung that fits:
    a year at 20 buckets -> calendar month; a day at 25 -> 1 hour."""
    rows = [("2023-02-17 10:20:30",), ("2023-02-28 23:59:59",), ("2023-07-04 00:00:00",)]
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(rows, "ts string").select(
        SF.col("ts").cast("timestamp").alias("ts")
    )
    out = esql(
        'FROM t | STATS n = COUNT(*) BY b = BUCKET(ts, 20, "2023-01-01T00:00:00Z", "2024-01-01T00:00:00Z")'
        " | SORT b",
        tables={"t": df},
    ).collect()
    assert [str(r["b"]) for r in out] == ["2023-02-01 00:00:00", "2023-07-01 00:00:00"]
    assert [r["n"] for r in out] == [2, 1]
    hour = esql(
        'FROM t | STATS n = COUNT(*) BY b = BUCKET(ts, 25, "2023-02-17T00:00:00", "2023-02-17T23:59:59")',
        tables={"t": df},
    ).collect()
    assert "10:00:00" in {str(r["b"])[-8:] for r in hour}


def test_bucket_target_count_errors(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(EsqlError, match="both"):
        esql('FROM t | STATS n = COUNT(*) BY b = BUCKET(v, 10, 0, "2023-01-01")',
             tables={"t": df})
    with pytest.raises(EsqlError, match="positive"):
        esql("FROM t | STATS n = COUNT(*) BY b = BUCKET(v, 0, 0, 100)",
             tables={"t": df})
    with pytest.raises(EsqlError, match="BUCKET needs"):
        esql("FROM t | STATS n = COUNT(*) BY b = BUCKET(v, 10, 0)",
             tables={"t": df})
    with pytest.raises(EsqlError, match="ISO date"):
        esql('FROM t | STATS n = COUNT(*) BY b = BUCKET(v, 10, "nope", "2023-01-01")',
             tables={"t": df})


def test_mv_percentile_and_mad(spark):
    """MV_PERCENTILE: R-7 linear interpolation at rank (n-1)*p/100;
    MV_MAD: median of absolute deviations from the median."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [5.0]), (3, []), (4, [1.0, 9.0])],
        "id int, xs array<double>",
    )
    out = {
        r["id"]: (r["p50"], r["p90"], r["mad"])
        for r in esql(
            "FROM t | EVAL p50 = MV_PERCENTILE(xs, 50),"
            " p90 = MV_PERCENTILE(xs, 90),"
            " mad = MV_MEDIAN_ABSOLUTE_DEVIATION(xs)"
            " | KEEP id, p50, p90, mad",
            tables={"t": df},
        ).collect()
    }
    assert out[1][0] == pytest.approx(2.5)          # R-7 median of 1..4
    assert out[1][1] == pytest.approx(3.7)          # (4-1)*0.9=2.7 -> 3 + .7*(4-3)
    # deviations from median 2.5: [1.5, .5, .5, 1.5] -> MAD = 1.0
    assert out[1][2] == pytest.approx(1.0)
    assert out[2] == (5.0, 5.0, 0.0)                # singleton: all itself
    assert out[3] == (None, None, None)             # empty: NULL
    assert out[4][2] == pytest.approx(4.0)          # |1-5|,|9-5| -> median 4
    # out-of-domain percentile is NULL, not an error
    bad = esql(
        "FROM t | EVAL p = MV_PERCENTILE(xs, 101) | KEEP id, p", tables={"t": df}
    ).collect()
    assert all(r["p"] is None for r in bad)


def test_mv_median_family_skips_null_elements(spark):
    """Review r9c-2: NULL array elements are SKIPPED by the median
    family (array_sort parks them last, where they'd skew size/rank
    arithmetic toward the high end)."""
    df = spark.createDataFrame(
        [(1, [1.0, None, 3.0])], "id int, xs array<double>"
    )
    row = esql(
        "FROM t | EVAL med = MV_MEDIAN(xs), p50 = MV_PERCENTILE(xs, 50),"
        " mad = MV_MEDIAN_ABSOLUTE_DEVIATION(xs)"
        " | KEEP med, p50, mad",
        tables={"t": df},
    ).collect()[0]
    assert row["med"] == pytest.approx(2.0)
    assert row["p50"] == pytest.approx(2.0)
    assert row["mad"] == pytest.approx(1.0)


def test_mv_count_skips_null_elements_and_pseries(spark):
    """Round-10: MV_COUNT follows the family's null-skip rule (a bare
    size() would count null elements) and MV_PSERIES_WEIGHTED_SUM is
    sum(v_i / i^p) over 1-based positions in the array's OWN order."""
    df = spark.createDataFrame(
        [(1, [4.0, None, 2.0]), (2, [1.0, 1.0, 1.0, 1.0]), (3, []), (4, None)],
        "id int, xs array<double>",
    )
    out = esql(
        "FROM t"
        " | EVAL n = MV_COUNT(xs), ps = MV_PSERIES_WEIGHTED_SUM(xs, 2.0),"
        "        flat = MV_PSERIES_WEIGHTED_SUM(xs, 0)"
        " | KEEP id, n, ps, flat | SORT id",
        tables={"t": df},
    ).collect()
    r = {x["id"]: x for x in out}
    assert r[1]["n"] == 2                      # null element skipped
    # nulls skipped BEFORE positions assigned: [4.0, 2.0] -> 4/1 + 2/4
    assert r[1]["ps"] == pytest.approx(4.0 + 2.0 / 4.0)
    assert r[2]["ps"] == pytest.approx(1 + 1 / 4 + 1 / 9 + 1 / 16)
    assert r[1]["flat"] == pytest.approx(6.0)  # p=0: plain sum
    assert r[3]["n"] == 0 and r[3]["ps"] is None   # empty: count 0, sum NULL
    assert r[4]["n"] is None and r[4]["ps"] is None
    with pytest.raises(EsqlError, match="needs"):
        esql("FROM t | EVAL x = MV_PSERIES_WEIGHTED_SUM(xs)", tables={"t": df})


def test_stats_top_bounded_carry_plan(spark):
    """Round-10: TOP compiles through the bounded-carry pre-stage — the
    plan must show WindowGroupLimit (map-side cap before the shuffle, the
    same shape as eql_sample size>1) instead of an unbounded
    collect-then-slice, and the mixed-aggregate split joins back on the
    group keys."""
    from elasticsearch_hadoop_spark.plans import count_nodes, formatted_plan

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "g string, v double"
    )
    plan = formatted_plan(esql(
        'FROM t | STATS top2 = TOP(v, 2, "desc") BY g', tables={"t": df}
    ))
    assert count_nodes(plan, "WindowGroupLimit") == 2  # Partial + Final
    assert ", 2, Partial" in plan
    # TOP-only: no join — one bounded aggregation
    assert count_nodes(plan, "SortMergeJoin") + count_nodes(plan, "BroadcastHashJoin") == 0
    mixed = formatted_plan(esql(
        'FROM t | STATS n = COUNT(*), top2 = TOP(v, 2, "desc") BY g',
        tables={"t": df},
    ))
    # mixed aggregates: the unfiltered COUNT joins the bounded TOP
    assert count_nodes(mixed, "WindowGroupLimit") == 2
    assert (count_nodes(mixed, "SortMergeJoin")
            + count_nodes(mixed, "BroadcastHashJoin")) == 1
    # review r10d-1: MULTI-TOP must keep the cap per TOP — each top gets
    # its own conjunctively-filtered frame (a shared OR-filtered frame
    # defeats InferWindowGroupLimit and no cap is planned at all)
    multi = formatted_plan(esql(
        'FROM t | STATS n = COUNT(*), hi = TOP(v, 2, "desc"),'
        ' lo = TOP(v, 2, "asc") BY g',
        tables={"t": df},
    ))
    assert count_nodes(multi, "WindowGroupLimit") == 4  # Partial+Final x 2
    assert (count_nodes(multi, "SortMergeJoin")
            + count_nodes(multi, "BroadcastHashJoin")) == 2
    with pytest.raises(EsqlError, match="TOP limit"):
        esql('FROM t | STATS z = TOP(v, 0, "desc") BY g', tables={"t": df})
    # global (no BY) TOP: TakeOrderedAndProject, never a single-partition
    # global window sort (an empty partition spec gets no WindowGroupLimit)
    g = formatted_plan(esql(
        'FROM t | STATS top = TOP(v, 2, "desc")', tables={"t": df}
    ))
    assert count_nodes(g, "TakeOrderedAndProject") == 1
    assert count_nodes(g, "Window") == 0


def test_stats_top_null_and_where_semantics(spark):
    """TOP skips NULL values (they sort past the cap AND the collect
    gates on notnull), honors per-aggregate WHERE, keeps groups whose
    TOP is empty when mixed with other aggregates, and global (no-BY)
    TOP still works."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 5.0), ("b", None), ("c", 2.0)],
        "g string, v double",
    )
    out = {r["g"]: r for r in esql(
        "FROM t | STATS n = COUNT(*),"
        ' t2 = TOP(v, 2, "desc"),'
        ' small = TOP(v, 1, "asc") WHERE v < 2 BY g',
        tables={"t": df},
    ).collect()}
    assert out["a"]["n"] == 3 and out["a"]["t2"] == [5.0, 1.0]
    assert out["a"]["small"] == [1.0]
    # group b: only a NULL value — COUNT still 1 (count(*)), TOP empty
    assert out["b"]["n"] == 1 and out["b"]["t2"] == []
    assert out["c"]["t2"] == [2.0] and out["c"]["small"] == []
    g = esql('FROM t | STATS big = TOP(v, 2, "desc")', tables={"t": df}).collect()[0]
    assert g["big"] == [5.0, 2.0]
    g2 = esql(
        'FROM t | STATS n = COUNT(*), big = TOP(v, 10, "asc")', tables={"t": df}
    ).collect()[0]
    assert g2["n"] == 5 and g2["big"] == [1.0, 2.0, 5.0]


def test_stats_top_validation_regressions(spark):
    """Review r10e: duplicate output names in a TOP-bearing STATS fail
    loudly (the join-back lookup would silently collapse them to the
    last frame's values), and a non-integer TOP limit raises EsqlError,
    not a bare ValueError."""
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(EsqlError, match="unique output names"):
        esql('FROM t | STATS hi = TOP(v, 2, "desc"), hi = TOP(v, 1, "asc") BY g',
             tables={"t": df})
    with pytest.raises(EsqlError, match="unique output names"):
        esql('FROM t | STATS x = COUNT(*), x = TOP(v, 1, "desc") BY g',
             tables={"t": df})
    with pytest.raises(EsqlError, match="integer literal"):
        esql('FROM t | STATS z = TOP(v, x, "desc") BY g', tables={"t": df})
    with pytest.raises(EsqlError, match="int32"):
        esql('FROM t | STATS z = TOP(v, 2147483648, "desc")', tables={"t": df})


# ES|QL's result cap (esql.RESULT_CAP, ES's result_truncation_max_size)


@pytest.fixture(scope="module")
def many(spark):
    """25,000 rows over 3 partitions: ``v`` is a permutation of
    0..24,999, ``g`` has 12,000 groups, ``t`` 5."""
    return {
        "many": spark.range(0, 25_000, numPartitions=3).selectExpr(
            "id", "(id * 7919) % 25000 AS v", "id % 12000 AS g", "id % 5 AS t"
        )
    }


def test_sort_returns_the_first_10000_rows_in_order(spark, many):
    rows = esql("FROM many | SORT v DESC | KEEP v", tables=many).collect()
    assert [r["v"] for r in rows] == list(range(24_999, 14_999, -1))


def test_limit_above_the_cap_returns_10000_rows(spark, many):
    assert esql("FROM many | LIMIT 20000", tables=many).count() == 10_000
    rows = esql("FROM many | SORT v | LIMIT 20000 | KEEP v", tables=many).collect()
    assert [r["v"] for r in rows] == list(range(10_000))


def test_limit_above_the_cap_keeps_its_value_before_other_commands(spark, many):
    """ES caps the query's result once; a LIMIT a later command consumes
    keeps its own value."""
    [row] = esql("FROM many | LIMIT 20000 | STATS n = COUNT(*)", tables=many).collect()
    assert row["n"] == 20_000
    out = esql("FROM many | LIMIT 20000 | STATS n = COUNT(*) BY t", tables=many)
    assert sum(r["n"] for r in out.collect()) == 20_000
    forked = esql(
        "FROM many | FORK (LIMIT 20000) (WHERE v < 3) | STATS n = COUNT(*) BY _fork",
        tables=many,
    )
    assert {r["_fork"]: r["n"] for r in forked.collect()} == {"fork1": 20_000, "fork2": 3}


def test_unsorted_pipeline_returns_every_row(spark, many):
    assert esql("FROM many | WHERE v >= 0 | EVAL w = v + 1", tables=many).count() == 25_000
    assert esql("FROM many | STATS n = COUNT(*) BY g", tables=many).count() == 12_000
    # a SORT whose order a later STATS discards leaves the result uncapped
    assert esql("FROM many | SORT v | STATS n = COUNT(*) BY g", tables=many).count() == 12_000


@pytest.mark.parametrize("partitions", [1, 7])
def test_capped_result_is_the_same_at_any_partition_count(spark, many, partitions):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        rows = esql(
            "FROM many | STATS n = COUNT(*) BY g | SORT n DESC, g", tables=many
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    # g < 1,000 holds 3 ids, every other group 2
    assert [(r["g"], r["n"]) for r in rows] == [
        (g, 3 if g < 1_000 else 2) for g in range(10_000)
    ]


def test_sorted_stats_plans_one_top_n_in_two_jobs(spark, many):
    """The bench's ``STATS ... BY | SORT`` shape: the appended cap makes
    the sort a TakeOrderedAndProject over the aggregate — no range
    exchange and no sampling job."""
    from tests.conftest import count_jobs, plan_nodes

    out = esql(
        "FROM many | WHERE v >= 5 | STATS n = COUNT(*), top = MAX(v) BY t | SORT t",
        tables=many,
    )
    nodes = plan_nodes(out)
    names = [n.nodeName() for n in nodes]
    assert names[:2] == ["AdaptiveSparkPlan", "TakeOrderedAndProject"]
    assert "Sort" not in names
    assert not any(
        n.nodeName() == "Exchange"
        and n.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
        for n in nodes
    )
    rows, jobs = count_jobs(spark, out.collect)
    assert [r["t"] for r in rows] == [0, 1, 2, 3, 4] and jobs == 2


def test_sort_limit_and_sort_free_pipelines_keep_one_job(spark, many):
    from tests.conftest import count_jobs, plan_nodes

    top = esql("FROM many | SORT v DESC | LIMIT 5 | KEEP v", tables=many)
    assert plan_nodes(top)[0].nodeName() == "TakeOrderedAndProject"
    rows, jobs = count_jobs(spark, top.collect)
    assert [r["v"] for r in rows] == [24_999, 24_998, 24_997, 24_996, 24_995]
    assert jobs == 1
    plain = esql("FROM many | WHERE v < 100 | EVAL w = v * 2", tables=many)
    assert "CollectLimit" not in {n.nodeName() for n in plan_nodes(plain)}
    rows, jobs = count_jobs(spark, plain.collect)
    assert len(rows) == 100 and jobs == 1

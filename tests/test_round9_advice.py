"""Regression tests for the round-8 advisor findings: `@`-prefixed
identifiers in ES|QL expressions (the canonical TSDS `@timestamp`),
resize/clone stripping CCR follower identity, the hamming vec_col width
guard, FUSE linear minmax NULL-score contribution, and SaveMode.Ignore
against a CCR follower staying a no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.catalog import Catalog
from elasticsearch_hadoop_spark.esql import EsqlError, esql
from elasticsearch_hadoop_spark.operators.similarity import hamming_topk


# ------------------------------------------------- @-identifiers in ES|QL


def _ts_frame(spark):
    rows = [
        ("h1", "2024-01-01 00:00:00", 10.0),
        ("h1", "2024-01-01 00:30:00", 25.0),
        ("h1", "2024-01-01 01:10:00", 40.0),
        ("h2", "2024-01-01 00:05:00", 5.0),
        ("h2", "2024-01-01 00:40:00", 11.0),
    ]
    return (
        spark.createDataFrame(rows, "host string, ts string, ctr double")
        .withColumn("@timestamp", F.col("ts").cast("timestamp"))
        .drop("ts")
    )


def test_at_timestamp_in_bucket_by(spark):
    """The docstring's own advertised form: BY tb = BUCKET(@timestamp, 1h)
    — _EXPR_OK used to reject '@' so the canonical TSDS column could not
    appear in any expression."""
    df = esql(
        'TS m | STATS r = MAX(RATE(ctr)) BY host, tb = BUCKET(@timestamp, "1 hour")',
        tables={"m": _ts_frame(spark)},
        time_series={"m": {"dimensions": ["host"], "timestamp": "@timestamp"}},
    )
    got = {(r["host"], str(r["tb"])): r["r"] for r in df.collect()}
    assert ("h1", "2024-01-01 00:00:00") in got
    assert got[("h1", "2024-01-01 00:00:00")] == pytest.approx(15.0 / 1800.0)


def test_at_column_in_where_and_sort(spark):
    df = esql(
        'FROM m | WHERE @timestamp >= TO_DATETIME("2024-01-01 00:30:00") '
        "| SORT @timestamp DESC | KEEP host, ctr",
        tables={"m": _ts_frame(spark)},
    )
    assert [r["ctr"] for r in df.collect()] == [40.0, 11.0, 25.0]


def test_at_ident_is_quoted_not_admitted_raw(spark):
    """The guard class still rejects raw '@' that is NOT an identifier."""
    with pytest.raises(EsqlError):
        esql("FROM m | WHERE ctr @ 3 > 1", tables={"m": _ts_frame(spark)})


# ------------------------------------------------- resize/clone strip ccr_*


def _leader_follower(spark, tmp_path):
    lcat = Catalog(spark, str(tmp_path / "leader"), transactional=True)
    fcat = Catalog(spark, str(tmp_path / "follower"), transactional=True)
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    lcat.write_index(df, "t", mode="overwrite")
    fcat.follow_index(lcat, "t", "t_f")
    return lcat, fcat


def test_resize_of_follower_mints_plain_writable_index(spark, tmp_path):
    _, fcat = _leader_follower(spark, tmp_path)
    fcat.shrink_index("t_f", "t_small", target_shards=1)
    meta = fcat.get_settings("t_small")
    assert not any(k.startswith("ccr_") for k in meta), meta
    # the resized target accepts writes (a follower would refuse)
    extra = spark.range(3).select((F.col("id") + 100).alias("k"), F.lit(0).cast("long").alias("v"))
    fcat.write_index(extra, "t_small")
    assert fcat.count_index("t_small") == 23


def test_clone_of_follower_mints_plain_writable_index(spark, tmp_path):
    _, fcat = _leader_follower(spark, tmp_path)
    fcat.clone_index("t_f", "t_clone")
    meta = fcat.get_settings("t_clone")
    assert not any(k.startswith("ccr_") for k in meta), meta
    # the clone's one and only commit is already plain: it never is a follower
    assert txn.latest(fcat.path("t_clone"))[0] == 1
    assert txn.manifest_body(fcat.path("t_clone"), 1)["settings"] == meta
    extra = spark.range(2).select((F.col("id") + 100).alias("k"), F.lit(0).cast("long").alias("v"))
    fcat.write_index(extra, "t_clone")
    assert fcat.count_index("t_clone") == 22


def test_ignore_mode_write_to_follower_is_noop_not_error(spark, tmp_path):
    """SaveMode.Ignore against an existing follower must return silently
    (the documented Ignore contract) — the follower assertion used to run
    before the ignore early-return and raise."""
    _, fcat = _leader_follower(spark, tmp_path)
    df = spark.range(5).select(F.col("id").alias("k"), F.lit(9).cast("long").alias("v"))
    fcat.write_index(df, "t_f", mode="ignore")  # must not raise
    assert fcat.count_index("t_f") == 20  # and must not write
    # every other mode still refuses the follower
    with pytest.raises(Exception, match="follower"):
        fcat.write_index(df, "t_f")


# ------------------------------------------------- hamming vec_col guard


def test_hamming_unpacked_vector_width_mismatch_is_loud(spark):
    rows = [(1, [1.0, -1.0, 1.0, -1.0]), (2, [1.0, 1.0])]  # 2nd is short
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, -1.0, 1.0, 1.0]
    with pytest.raises(Exception, match="length does not match"):
        hamming_topk(emb, q, k=2).collect()


def test_hamming_unpacked_correct_width_still_works(spark):
    rows = [(1, [1.0, -1.0, 1.0, -1.0]), (2, [1.0, 1.0, 1.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = hamming_topk(emb, [1.0, -1.0, 1.0, -1.0], k=1).collect()
    assert got[0]["vec_id"] == 1 and got[0]["hamming"] == 0


# ------------------------------------------------- FUSE linear minmax NULLs


def _fork_scored(spark):
    # branch a: real scores; branch b: all-NULL scores
    rows = [
        ("a", 1, 2.0), ("a", 2, 4.0), ("a", 3, 3.0),
        ("b", 1, None), ("b", 4, None),
    ]
    return spark.createDataFrame(rows, "_fork string, _id int, _score double")


def test_fuse_linear_minmax_null_scores_contribute_nothing(spark):
    from elasticsearch_hadoop_spark.esql import _fuse

    fused = _fuse(_fork_scored(spark), "linear WITH normalizer=minmax")
    got = {r["_id"]: r["_score"] for r in fused.collect()}
    # _id 4 appears only in the all-NULL branch: no contribution -> NULL,
    # never the old full-weight 1.0
    assert got[4] is None
    # _id 1: branch a minmax (2-2)/(4-2)=0.0 plus nothing from branch b
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] == pytest.approx(0.5)


def test_fuse_linear_minmax_constant_branch_null_row(spark):
    # constant-score branch (hi == lo): scored rows get 1.0, NULL rows none
    rows = [("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, None)]
    df = spark.createDataFrame(rows, "_fork string, _id int, _score double")
    from elasticsearch_hadoop_spark.esql import _fuse

    got = {r["_id"]: r["_score"] for r in _fuse(df, "linear WITH normalizer=minmax").collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(1.0)
    assert got[3] is None


# ------------------------------------------- review-pass regressions (r9)


def test_like_rlike_with_at_column_rhs_is_loud(spark):
    """Review r9-3: `msg RLIKE @pat` must raise (pattern must be a
    literal), never silently rewrite the @-column into pattern text."""
    df = (
        spark.createDataFrame([("abc", "a.*")], "msg string, p string")
        .withColumnRenamed("p", "@pat")
    )
    with pytest.raises(EsqlError, match="string literal"):
        esql("FROM t | WHERE msg RLIKE @pat", tables={"t": df})
    with pytest.raises(EsqlError, match="string literal"):
        esql("FROM t | WHERE msg LIKE @pat", tables={"t": df})
    # @-column on the LHS with a literal pattern still works
    out = esql('FROM t | WHERE @pat RLIKE "a.*" | KEEP msg', tables={"t": df})
    assert out.count() == 1


def test_bucket_date_rung_is_timezone_independent():
    """Review r9-2: naive bounds are UTC — the rung choice must not vary
    with the host timezone (TZ only affects .timestamp() on naive
    datetimes)."""
    import os
    import subprocess
    import sys

    code = (
        "from datetime import datetime\n"
        "from elasticsearch_hadoop_spark.esql import _bucket_pick_date_rung\n"
        "print(_bucket_pick_date_rung(8, datetime(2023, 2, 17, 0, 0, 0),"
        " datetime(2023, 2, 17, 23, 59, 59)))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = set()
    for tz in ("UTC", "Asia/Kolkata", "America/New_York"):
        env = dict(os.environ, TZ=tz, PYTHONPATH=repo)
        outs.add(
            subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True,
                env=env, check=True,
            ).stdout.strip()
        )
    assert outs == {"('fixed', 10800)"}, outs

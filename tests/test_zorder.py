"""Z-order clustering: Morton-code math, and the actual point of it —
parquet footer min/max stats per file get tight on EVERY clustered column,
which is what lets range filters skip files at scale."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.catalog import Catalog
from elasticsearch_hadoop_spark.operators.zorder import column_bounds, zorder, zvalue


def test_zvalue_interleave_known(spark):
    df = spark.createDataFrame([(0, 0), (3, 0), (0, 3), (3, 3)], "a long, b long")
    bounds = {"a": (0.0, 3.0), "b": (0.0, 3.0)}
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn("z", zvalue(["a", "b"], bounds, bits=2)).collect()
    }
    # bit i of col j -> position i*2+j: a=0b11 -> bits 0,2 = 5; b=0b11 -> bits 1,3 = 10
    assert got == {(0, 0): 0, (3, 0): 5, (0, 3): 10, (3, 3): 15}


def _avg_file_span(path: str, col_idx: int) -> float:
    spans = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo = min(md.row_group(g).column(col_idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(col_idx).statistics.max for g in range(md.num_row_groups))
        spans.append(hi - lo)
    assert spans
    return sum(spans) / len(spans)


def test_zorder_tightens_stats_on_both_columns(spark, tmp_path):
    df = spark.range(20000).select(
        (F.col("id") % 100).alias("x"), ((F.col("id") * 37) % 100).alias("y")
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    df.repartition(8).write.parquet(plain)
    zorder(df, ["x", "y"], num_partitions=8).write.parquet(zed)

    # column order in the file: x=0, y=1
    for idx in (0, 1):
        assert _avg_file_span(zed, idx) < 0.7 * _avg_file_span(plain, idx), idx


def test_write_index_zorder_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "idx"))
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("x"), ((F.col("id") * 7) % 50).alias("y")
    )
    cat.write_index(df, "t", mode="overwrite", zorder_by=["x", "y"])
    assert cat.count_index("t") == 1000
    got = {r["k"] for r in cat.read_index("t").collect()}
    assert got == set(range(1000))


def test_zorder_empty_and_allnull_inputs(spark, tmp_path):
    """Empty frames and all-null clustering columns must not crash —
    bounds degrade to constant cells (everything at the curve origin)."""
    empty = spark.range(0).select(F.col("id").alias("x"), F.col("id").alias("y"))
    assert zorder(empty, ["x", "y"]).count() == 0
    nulls = spark.range(10).select(
        F.lit(None).cast("long").alias("x"), F.col("id").alias("y")
    )
    assert zorder(nulls, ["x", "y"]).count() == 10


def test_zorder_four_columns_uses_adaptive_bits(spark):
    df = spark.range(100).select(
        *[((F.col("id") * m) % 10).alias(c) for c, m in zip("abcd", (1, 3, 7, 9))]
    )
    # default bits shrink to 63//4=15 -> no ValueError, data intact
    assert zorder(df, ["a", "b", "c", "d"]).count() == 100


def test_zorder_applies_to_merged_output(spark, tmp_path):
    """zorder_by on a merge op must cluster the FINAL index contents, not
    the pre-merge incoming batch: after an upsert, per-file spans on both
    clustered columns stay far below the full value range."""
    cat = Catalog(spark, str(tmp_path / "idx"))
    base = spark.range(20000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("x"),
        ((F.col("id") * 37) % 100).alias("y"),
    )
    cat.write_index(base, "t", mode="overwrite", id_col="k", zorder_by=["x", "y"])
    batch = spark.range(500).select(
        (F.col("id") + 50000).alias("k"), (F.col("id") % 100).alias("x"),
        ((F.col("id") * 11) % 100).alias("y"),
    )
    cat.write_index(batch, "t", operation="upsert", id_col="k", zorder_by=["x", "y"])
    assert cat.count_index("t") == 20500
    (path,) = txn.latest(cat.path("t"))[1]
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    if n_files >= 4:  # span check only meaningful with multiple files
        for idx in (1, 2):  # columns: k=0, x=1, y=2
            assert _avg_file_span(path, idx) < 70


def _avg_rowgroup_span(path: str, col_idx: int) -> float:
    spans = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col_idx).statistics
            spans.append(st.max - st.min)
    assert spans
    return sum(spans) / len(spans)


def test_index_sort_tightens_rowgroup_stats(spark, tmp_path):
    """index.sort's mechanism (sortWithinPartitions before the sink —
    the ES per-segment sort analogue; no cross-partition shuffle, unlike
    zorder): with multiple row groups per file, the sort key's row-group
    min/max spans shrink by ~the groups-per-file factor, which is what
    lets a range scan skip row groups at scale."""
    df = spark.range(200000).select(
        ((F.col("id") * 2654435761) % 1000000).alias("k"),
        F.col("id").alias("v"),
    ).repartition(2)
    plain, srt = str(tmp_path / "plain"), str(tmp_path / "sorted")
    opt = {"parquet.block.size": str(256 * 1024)}  # force several row groups/file
    df.write.options(**opt).parquet(plain)
    df.sortWithinPartitions("k").write.options(**opt).parquet(srt)
    assert _avg_rowgroup_span(srt, 0) < 0.5 * _avg_rowgroup_span(plain, 0)


def test_zorder_read_range_filters_reach_the_scan(spark, sf_dir):
    """writepath_zorder_read's WHOLE PURPOSE is 2-D data skipping over the
    z-order clustered copy — so both range predicates must reach the
    parquet scan as LessThanOrEqual, not evaluate post-scan.  Pinned after
    the r8 verdict caught `long <= python-float` thresholds pushing only
    IsNotNull (an unpruned full scan of the clustered index at 100×)."""
    import re

    from elasticsearch_hadoop_spark.corpus import load_all
    from elasticsearch_hadoop_spark.plans import formatted_plan

    df = load_all()["writepath_zorder_read"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan, flags=re.S).group(1)
    assert "LessThanOrEqual(l_partkey" in pushed, pushed
    assert "LessThanOrEqual(l_suppkey" in pushed, pushed


def test_write_index_sort_by_reaches_the_files(spark, tmp_path):
    """The catalog's sort_by (and index.sort.field via templates) must
    actually order rows inside each written file — the property the
    row-group narrowing above depends on."""
    cat = Catalog(spark, str(tmp_path / "idx"))
    df = spark.range(5000).select(
        ((F.col("id") * 37) % 1000).alias("k"), F.col("id").alias("v")
    )
    cat.write_index(df.repartition(3), "t", mode="overwrite", sort_by=["k"])
    idx_dir = os.path.join(str(tmp_path / "idx"), "t")
    files = []
    for root, _dirs, names in os.walk(idx_dir):
        files += [os.path.join(root, f) for f in names if f.endswith(".parquet")]
    assert files
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f

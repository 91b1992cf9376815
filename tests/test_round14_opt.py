"""Round-14 optimization pins: the internals the optimization round
changed must stay changed — each test pins the measured-better shape so a
future edit can't silently regress it (OPTIMIZATION_r14.md has the
numbers; plans/r14/ the before/after evidence)."""

from __future__ import annotations

import os
import re

import pytest

from elasticsearch_hadoop_spark.corpus import load_all
from elasticsearch_hadoop_spark.plans import count_nodes, formatted_plan

REGISTRY = load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return formatted_plan(REGISTRY[name].fn(spark, sf_dir))


def test_minhash_lsh_computes_signatures_once(spark, sf_dir):
    # the (id, shingles, sig) base is localCheckpointed: the self-joins
    # must read the materialized frame, not re-execute the scan subtree
    # (the round-start plan had FOUR parquet scans of documents)
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert count_nodes(plan, "Scan parquet") == 0
    assert "ExistingRDD" in plan


def test_simhash_and_ngram_scan_once(spark, sf_dir):
    for name in ("dedup_simhash_pairs", "dedup_ngram_jaccard"):
        plan = plan_of(spark, sf_dir, name)
        assert count_nodes(plan, "Scan parquet") == 0, name
        assert "ExistingRDD" in plan, name


def test_segments_global_uses_partial_min_not_window(spark, sf_dir):
    # r15: winners come from groupBy(seg).agg(min(struct(id,pos))) — the
    # struct already IS the kept row, so there is no window (r14's window
    # shipped every exploded row of a hot segment to one task) and no
    # join-back; the partial min pre-combines hot segments map-side
    plan = plan_of(spark, sf_dir, "dedup_segments_global")
    assert count_nodes(plan, "Window") == 0
    # operator sections in id order: ids number the tree bottom-up, so
    # the linear posexplode -> segment shuffle chain is contiguous
    ops = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)[1:]
    gen = next(i for i, op in enumerate(ops) if count_nodes(op, "Generate"))
    seg = next(i for i in range(gen, len(ops)) if count_nodes(ops[i], "Exchange"))

    def neighbour(step: int) -> str:
        i = seg + step
        while count_nodes(ops[i], "Sort"):
            i += step
        return ops[i]

    agg = r"\w*Aggregate"
    # map-side combine = skew bound: one aggregate on each side of the
    # segment Exchange, and none other between the explode and it
    assert count_nodes(neighbour(-1), agg) == 1
    assert count_nodes(neighbour(+1), agg) == 1
    assert count_nodes("".join(ops[gen:seg]), agg) == 1
    assert count_nodes(plan, "SortMergeJoin") + count_nodes(
        plan, "ShuffledHashJoin"
    ) + count_nodes(plan, "BroadcastHashJoin") <= 1  # only the totals join


def test_span_near_single_tokenization_per_clause(spark, sf_dir):
    # the explode barrier keeps the two span analyzers out of the pushed
    # filter: exactly one `split(lower(` per clause in the whole plan
    plan = plan_of(spark, sf_dir, "query_dsl_span_near")
    assert plan.count("split(lower") == 2
    assert count_nodes(plan, "Generate") == 1


def test_suggest_phrase_broadcasts_token_winners(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "search_suggest_phrase")
    assert count_nodes(plan, "SortMergeJoin") == 0
    assert "BroadcastHashJoin LeftOuter BuildRight" in plan


def test_fn_json_parses_once(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "fn_json")
    assert plan.count("from_json") >= 1
    assert "get_json_object" not in plan
    # one JsonToStructs, shared by all three outputs
    assert plan.count("from_json(StructField(k,StringType,true)") <= 1


def test_rollover_generation_is_metadata_only(spark, sf_dir, tmp_path):
    # a fresh generation must cost no Spark write: a manifest that lists
    # no data dirs and records the schema, read back as an empty frame
    # with the parent's schema
    from elasticsearch_hadoop_spark import txn
    from elasticsearch_hadoop_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(20)
    cat.write_index(orders, "g-000001")
    cat.put_alias("g", "g-000001")
    res = cat.rollover("g", max_docs=1)
    assert res["rolled_over"]
    gen2 = os.path.join(str(tmp_path), "g-000002")
    assert txn.latest(gen2) == (1, []) and os.listdir(txn.data_root(gen2)) == []
    df = cat.read_index("g-000002")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [f.name for f in orders.schema.fields]

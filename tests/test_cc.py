"""Connected components (operators/cc.py): duplicate_clusters equals a
plain-Python union-find on seeded graphs, at any shuffle partition count,
with hash-sized node ids, and in a pinned number of Spark jobs."""

from __future__ import annotations

import random

import pytest

from elasticsearch_hadoop_spark.operators.cc import duplicate_clusters
from tests.conftest import count_jobs


def union_find(pairs):
    """{node: (cluster_id, cluster_size, is_canonical)} — the reference."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    root = {n: find(n) for n in list(parent)}
    size = {}
    for r in root.values():
        size[r] = size.get(r, 0) + 1
    return {n: (r, size[r], n == r) for n, r in root.items()}


def clusters(spark, pairs):
    df = spark.createDataFrame(pairs, "a long, b long")
    return {
        r.node: (r.cluster_id, r.cluster_size, r.is_canonical)
        for r in duplicate_clusters(df, "a", "b").collect()
    }


def seeded_graph(seed):
    """Two-node pairs, chains of up to 40 nodes in shuffled orientation, a
    star, duplicate and reversed edges and a self-loop, over shuffled ids."""
    rnd = random.Random(seed)
    ids = rnd.sample(range(1, 100_000), 400)
    pairs = [(ids.pop(), ids.pop()) for _ in range(10)]
    for k in (40, 17, 9, 3):
        chain = [ids.pop() for _ in range(k)]
        pairs += [
            (a, b) if rnd.random() < 0.5 else (b, a) for a, b in zip(chain, chain[1:])
        ]
    hub = ids.pop()
    pairs += [(hub, ids.pop()) for _ in range(12)]
    pairs += [(b, a) for a, b in rnd.sample(pairs, 6)] + rnd.sample(pairs, 6)
    loop = ids.pop()
    pairs += [(loop, loop), (ids.pop(), ids.pop())]
    rnd.shuffle(pairs)
    return pairs


def bench_like_graph():
    """The llm_dedup benchmark's shape: 24 two-node and 3 three-node
    (chain) components."""
    pairs = [(10 * i, 10 * i + 1) for i in range(24)]
    for i in range(24, 27):
        pairs += [(10 * i, 10 * i + 1), (10 * i + 1, 10 * i + 2)]
    return pairs


@pytest.fixture(params=[1, 7], ids=lambda n: f"partitions{n}")
def partitions(spark, request):
    """Run at ``request.param`` shuffle partitions, uncoalesced."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    saved = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], str(request.param))
    spark.conf.set(keys[1], "false")
    yield request.param
    for k, v in zip(keys, saved):
        spark.conf.set(k, v)


def test_clusters_match_union_find(spark, partitions):
    pairs = seeded_graph(3)
    assert clusters(spark, pairs) == union_find(pairs)


def test_hash_sized_ids_do_not_overflow(spark):
    # md5_token_hash ids are 60-bit; a sum of a few labels near 2^62
    # overflows BIGINT under ANSI mode, so convergence must not sum them
    base = 1 << 62
    pairs = [(base + 7 * i, base + 7 * i + 3) for i in range(5)] + [(base + 3, base + 14)]
    assert clusters(spark, pairs) == union_find(pairs)


def test_bench_like_graph_job_count(spark):
    pairs = bench_like_graph()
    got, jobs = count_jobs(spark, lambda: clusters(spark, pairs))
    assert got == union_find(pairs)
    # seed shuffle + 2 rounds x (2 shuffles + checkpoint) + window collect
    assert jobs <= 12, jobs

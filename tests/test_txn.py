"""Optimistic-concurrency commit log (txn.py), the commit protocol of every
Catalog: concurrent appends must both land, replace commits must detect
lost races and re-derive, a crash at any step must leave the old or the new
snapshot, and readers must only ever see committed manifests."""

from __future__ import annotations

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.catalog import VALID_OPERATIONS, Catalog, IndexNotFoundError
from tests.conftest import bounded


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "idx"), transactional=True)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


# ----------------------------------------------------------------- log level


def test_version_claim_is_exclusive(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    assert txn.try_commit(p, 1, [txn.new_data_dir(p)])
    assert not txn.try_commit(p, 1, [txn.new_data_dir(p)])  # lost race
    assert txn.latest(p)[0] == 1


def test_append_retries_manifest_union(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    d1, d2 = txn.new_data_dir(p), txn.new_data_dir(p)
    # simulate a writer that claimed v1 between d2's latest() and claim:
    assert txn.commit_append(p, d1, rows=0) == 1
    assert txn.commit_append(p, d2, rows=0) == 2
    _, dirs = txn.latest(p)
    assert sorted(map(str, dirs)) == sorted([d1, d2])


def test_replace_conflict_without_recompute_raises(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    base, _ = txn.latest(p)
    txn.commit_append(p, txn.new_data_dir(p), rows=0)  # someone else moved the log
    with pytest.raises(txn.CommitConflictError):
        txn.commit_replace(p, base, txn.new_data_dir(p), recompute=None)


def test_replace_recompute_sees_winner_snapshot(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    winner = txn.new_data_dir(p)
    txn.commit_append(p, winner, rows=0)  # v1
    seen = []

    def recompute(dirs, schema, rows):
        seen.append(list(dirs))
        return txn.new_data_dir(p), schema, rows

    # stale writer based its rewrite on v0
    v = txn.commit_replace(p, 0, txn.new_data_dir(p), recompute=recompute)
    assert v == 2
    assert seen and seen[0] == [winner]


def test_vacuum_sweeps_orphans_respecting_retention(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    live = txn.new_data_dir(p)
    orphan = txn.new_data_dir(p)
    txn.commit_append(p, live, rows=0)
    # default retention window protects young dirs — an in-flight writer's
    # not-yet-committed data dir must never be swept
    assert txn.vacuum(p) == []
    import os

    assert os.path.isdir(orphan)
    removed = txn.vacuum(p, min_age_seconds=0)
    assert os.path.basename(orphan) in removed
    assert os.path.isdir(live)


def test_manifest_files_never_half_written(tmp_path):
    """latest() during a slow commit must never see an empty/partial
    manifest: the body is fully written before the link-claim publishes
    it."""
    import os

    p = str(tmp_path / "t")
    txn.init_log(p)
    d = txn.new_data_dir(p)
    txn.commit_append(p, d, rows=0)
    tdir = os.path.join(p, "_txn")
    for n in os.listdir(tdir):
        body = open(os.path.join(tdir, n)).read()
        assert body.strip().startswith("{") and body.strip().endswith("}")
    # a leftover .tmp claim file must not confuse latest()
    open(os.path.join(tdir, "v000000000002.json.tmp-dead"), "w").write("")
    assert txn.latest(p)[0] == 1


def test_stream_refused_after_replace_commit(spark, cat):
    cat.write_index(_df(spark, 0, 5, "a"), "t")  # v1 creation
    cat.write_index(_df(spark, 5, 8, "b"), "t")  # append — streaming OK
    cat.read_index_stream("t")  # does not raise
    cat.compact_index("t", target_files=1)  # replace commit
    with pytest.raises(ValueError, match="replace commits"):
        cat.read_index_stream("t")


# ------------------------------------------------------------- catalog level


def test_txn_append_and_read(spark, cat):
    cat.write_index(_df(spark, 0, 5, "a"), "t")
    cat.write_index(_df(spark, 5, 8, "b"), "t")  # blind append, no id_col
    got = {(r["k"], r["tag"]) for r in cat.read_index("t").collect()}
    assert got == {(i, "a") for i in range(5)} | {(i, "b") for i in range(5, 8)}
    assert txn.latest(cat.path("t"))[0] == 2


def test_txn_concurrent_appends_both_land(spark, cat):
    cat.write_index(_df(spark, 0, 1, "seed"), "t")
    errs = []

    def run(lo, hi, tag):
        try:
            cat.write_index(_df(spark, lo, hi, tag), "t")
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    threads = [
        threading.Thread(target=run, args=(10, 15, "w1")),
        threading.Thread(target=run, args=(20, 25, "w2")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert cat.count_index("t") == 11
    # one version per writer + seed
    assert txn.latest(cat.path("t"))[0] == 3


def test_txn_upsert_and_delete_by_query(spark, cat):
    cat.write_index(_df(spark, 0, 10, "a"), "t", id_col="k")
    cat.write_index(
        _df(spark, 5, 12, "b"), "t", operation="upsert", id_col="k"
    )
    got = {(r["k"], r["tag"]) for r in cat.read_index("t").collect()}
    assert got == {(i, "a") for i in range(5)} | {(i, "b") for i in range(5, 12)}
    deleted = cat.delete_by_query("t", {"term": {"tag": "a"}})
    assert deleted == 5
    assert cat.count_index("t") == 7


def test_txn_compact_and_vacuum(spark, cat):
    for lo in range(0, 50, 10):
        cat.write_index(_df(spark, lo, lo + 10, "a"), "t")  # 5 append commits
    assert txn.latest(cat.path("t"))[0] == 5
    cat.compact_index("t", target_files=2)
    assert cat.count_index("t") == 50
    # one live dir now; the 5 superseded append dirs become orphans
    _, dirs = txn.latest(cat.path("t"))
    assert len(dirs) == 1
    removed = cat.vacuum_index("t", min_age_seconds=0)
    assert len(removed) == 5
    assert cat.count_index("t") == 50


def test_txn_reader_never_sees_halfcommit(spark, cat):
    """A replace commit in flight must not change what a reader resolves
    until the manifest claim lands: read before/after interleaved with a
    concurrent overwrite."""
    cat.write_index(_df(spark, 0, 100, "a"), "t", id_col="k")
    before = cat.count_index("t")
    done = threading.Event()

    def rewrite():
        cat.write_index(_df(spark, 0, 50, "b"), "t", mode="overwrite", id_col="k")
        done.set()

    th = threading.Thread(target=rewrite)
    th.start()
    # reads during the rewrite: always a committed snapshot, 100 or 50, never between
    while not done.is_set():
        n = cat.count_index("t")
        assert n in (before, 50), n
    th.join()
    assert cat.count_index("t") == 50


def _append_fuzz(tmp_path, prune):
    import random
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "t")
    txn.init_log(p)
    dirs = [txn.new_data_dir(p) for _ in range(160)]

    def append(d):
        time.sleep(random.random() * 0.01)
        v = txn.commit_append(p, d, rows=1)
        if prune:
            txn.drop_superseded(p, v)
        return v

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            versions = list(ex.map(append, dirs))
    finally:
        sys.setswitchinterval(interval)

    assert sorted(versions) == list(range(1, 161))  # every version claimed once
    v, live, _, rows, _ = txn.snapshot(p)
    assert v == 160
    assert sorted(map(str, live)) == sorted(dirs)  # no append lost
    assert rows == 160  # every retry re-added its count to the winner's
    return p


def test_txn_append_fuzz_threads(tmp_path):
    """Log-level stress: 8 threads x 20 appends racing on one log. Every
    append must land exactly once (manifest union), the final version must
    equal the total commit count, and no thread may error."""
    _append_fuzz(tmp_path, prune=False)


def test_txn_append_fuzz_threads_pruning(tmp_path, monkeypatch):
    """The same stress with every commit pruning the log behind it, as a
    default catalog does: pruning loses no append, and once the window has
    passed the log holds only the newest manifest."""
    import time

    monkeypatch.setattr(txn, "LOG_RETENTION_SECONDS", 0.2)
    p = _append_fuzz(tmp_path, prune=True)
    time.sleep(txn.LOG_RETENTION_SECONDS)
    txn.drop_superseded(p, 160)
    assert txn._versions(p) == [160]


def test_time_travel_and_history(spark, cat):
    """read_index_version pins a committed snapshot (ES point-in-time /
    Delta versionAsOf analogue); index_history exposes the commit log."""
    cat.write_index(_df(spark, 0, 5, "a"), "t", id_col="k")          # v1
    cat.write_index(_df(spark, 0, 5, "b"), "t", operation="upsert", id_col="k")  # v2
    cat.write_index(_df(spark, 5, 7, "c"), "t")                      # v3 append
    assert {r["tag"] for r in cat.read_index_version("t", 1).collect()} == {"a"}
    assert {r["tag"] for r in cat.read_index_version("t", 2).collect()} == {"b"}
    assert cat.read_index_version("t", 3).count() == 7
    hist = cat.index_history("t")
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[0]["replace"] is False and hist[1]["replace"] is True
    with pytest.raises(KeyError):
        cat.read_index_version("t", 9)


def test_vacuum_ages_from_supersession_not_creation(tmp_path):
    """A snapshot superseded a moment ago must survive the retention
    window even if its FILES are old (the time-travel horizon counts from
    when the dir became unreachable, like Delta), and gets swept once the
    superseding commit is older than the window."""
    import os
    import time as _t

    p = str(tmp_path / "t")
    txn.init_log(p)
    d1 = txn.new_data_dir(p)
    txn.commit_append(p, d1, rows=0)  # v1
    # make the data dir and the v1 manifest look hours old
    old = _t.time() - 7200
    os.utime(d1, (old, old))
    os.utime(os.path.join(p, "_txn", "v000000000001.json"), (old, old))
    d2 = txn.new_data_dir(p)
    txn.commit_replace(p, 1, d2)  # v2 NOW supersedes d1
    assert txn.vacuum(p, min_age_seconds=60) == []  # superseded 0s ago
    assert os.path.isdir(d1)
    # age the superseding commit past the window -> d1 becomes sweepable
    os.utime(os.path.join(p, "_txn", "v000000000002.json"), (old, old))
    assert os.path.basename(d1) in txn.vacuum(p, min_age_seconds=60)


# ------------------------------------------------- round-4 ADVICE hardening


def test_commit_fails_loudly_on_swept_dirs(tmp_path):
    """ADVICE r3: try_commit must refuse to publish a manifest naming data
    dirs vacuum already deleted (writer overran the retention window)."""
    import shutil

    p = str(tmp_path / "t")
    txn.init_log(p)
    d = txn.new_data_dir(p)
    shutil.rmtree(d)  # vacuum swept the in-flight writer's dir
    with pytest.raises(txn.CommitConflictError, match="no longer exist"):
        txn.try_commit(p, 1, [d])


def test_stream_sees_only_committed_dirs(spark, cat):
    """ADVICE r3: the streaming read must not deliver rows from a
    never-committed _data dir (crashed writer / losing replace writer)."""
    import os

    cat.write_index(_df(spark, 0, 50, "a"), "ev")
    path = cat.path("ev")
    # a crashed writer's dir: data present in the pool, never committed
    orphan = txn.new_data_dir(path)
    _df(spark, 1000, 1100, "orphan").write.mode("overwrite").parquet(orphan)
    out = str(cat.root) + "/_stream_out"
    q = (
        cat.read_index_stream("ev")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert got.filter(F.col("tag") == "orphan").count() == 0
    # a later commit IS picked up by the farm (publish-at-commit)
    cat.write_index(_df(spark, 50, 80, "b"), "ev")
    q = (
        cat.read_index_stream("ev")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 80


def test_concurrent_appends_of_new_columns_both_readable(spark, cat, monkeypatch):
    """Two appenders add different columns; the loser of the version race
    unions its schema with the winner's, so both columns stay readable."""
    cat.write_index(_df(spark, 0, 3, "a"), "t")  # v1
    claim = txn.try_commit
    raced = []

    def racing_claim(path, version, dirs, meta=None):
        if not raced:
            raced.append(version)
            # another appender claims this version first, adding y
            cat.write_index(_df(spark, 3, 5, "b").withColumn("y", F.lit(2)), "t")
        return claim(path, version, dirs, meta)

    monkeypatch.setattr(txn, "try_commit", racing_claim)
    cat.write_index(_df(spark, 5, 7, "c").withColumn("x", F.lit(1)), "t")
    assert raced == [2] and txn.latest(cat.path("t"))[0] == 3
    got = cat.read_index("t")
    assert got.columns == ["k", "tag", "y", "x"]
    rows = {r["k"]: (r["x"], r["y"]) for r in got.collect()}
    assert rows == {
        **{k: (None, None) for k in range(3)},
        **{k: (None, 2) for k in (3, 4)},
        **{k: (1, None) for k in (5, 6)},
    }


def test_reads_run_no_spark_job(spark, cat):
    """Reads use the schema recorded in the manifest: building the frame,
    at the latest version or a pinned one, infers nothing from footers."""
    from tests.conftest import count_jobs

    cat.write_index(_df(spark, 0, 5, "a"), "t")
    cat.write_index(_df(spark, 5, 8, "b").withColumn("x", F.lit(1)), "t")
    _, jobs = count_jobs(spark, lambda: cat.read_index("t"))
    assert jobs == 0
    v1, jobs = count_jobs(spark, lambda: cat.read_index_version("t", 1))
    assert jobs == 0
    assert v1.columns == ["k", "tag"] and v1.count() == 5


def test_merge_on_empty_committed_log(spark, cat):
    """ADVICE r3: an initialized-but-empty log (first write crashed after
    init_log) must give clean empty-index merge semantics, not an
    AttributeError on None."""
    txn.init_log(cat.path("fresh"))
    cat.write_index(
        _df(spark, 0, 10, "x"), "fresh", operation="upsert", id_col="k"
    )
    assert cat.read_index("fresh").count() == 10
    from elasticsearch_hadoop_spark.catalog import DocumentMissingError, IndexNotFoundError

    txn.init_log(cat.path("fresh2"))
    with pytest.raises(DocumentMissingError):
        cat.write_index(
            _df(spark, 0, 5, "x"), "fresh2", operation="update", id_col="k"
        )
    txn.init_log(cat.path("fresh3"))  # a log without a version is no index
    with pytest.raises(IndexNotFoundError, match="no such index"):
        cat.delete_by_query("fresh3", {"term": {"tag": "x"}})


def test_replace_commit_does_not_publish_to_stream_farm(tmp_path):
    """A replace commit's snapshot must NOT land in _stream — a running
    stream would ingest the whole snapshot as duplicate rows."""
    import os

    p = str(tmp_path / "t")
    txn.init_log(p)
    d1 = txn.new_data_dir(p)
    with open(os.path.join(d1, "a.parquet"), "w") as fh:
        fh.write("x")
    txn.commit_append(p, d1, rows=0)
    txn.enable_streaming(p)
    assert os.listdir(txn.stream_root(p)) == [os.path.basename(d1)]
    # append publishes
    d2 = txn.new_data_dir(p)
    with open(os.path.join(d2, "b.parquet"), "w") as fh:
        fh.write("y")
    txn.commit_append(p, d2, rows=0)
    assert sorted(os.listdir(txn.stream_root(p))) == sorted(
        [os.path.basename(d1), os.path.basename(d2)]
    )
    # replace does NOT
    d3 = txn.new_data_dir(p)
    with open(os.path.join(d3, "c.parquet"), "w") as fh:
        fh.write("z")
    base, _ = txn.latest(p)
    txn.commit_replace(p, base, d3)
    assert os.path.basename(d3) not in os.listdir(txn.stream_root(p))


def test_vacuum_sweeps_orphaned_stream_mirrors(tmp_path):
    """A mirror whose _data dir is already gone (crashed earlier sweep)
    must be removed by the next vacuum, not live forever."""
    import os, shutil

    p = str(tmp_path / "t")
    txn.init_log(p)
    d1 = txn.new_data_dir(p)
    with open(os.path.join(d1, "a.parquet"), "w") as fh:
        fh.write("x")
    txn.commit_append(p, d1, rows=0)
    txn.enable_streaming(p)
    name = os.path.basename(d1)
    # simulate the crashed half-sweep: _data gone, mirror left behind
    orphan_mirror = os.path.join(txn.stream_root(p), "deadbeef" * 4)
    shutil.copytree(os.path.join(txn.stream_root(p), name), orphan_mirror)
    txn.vacuum(p, min_age_seconds=0.0)
    assert not os.path.isdir(orphan_mirror)
    assert os.path.isdir(os.path.join(txn.stream_root(p), name))  # live one stays


def test_vacuum_sweeps_aged_publisher_tmp_farms(tmp_path):
    """Review r10c + ADVICE r10: a crashed publisher's half-built '.tmp-*'
    link farm in _stream/ must be swept once it outlives the retention
    window (hard links would otherwise keep vacuumed bytes alive forever);
    a young farm — an in-flight publisher — survives.  The age keys off
    the NEWEST entry inside the farm, not the top directory's mtime (a
    publisher linking into nested subdirs never touches the top dir, so
    dir-mtime aging would delete an in-flight farm mid-commit), and only
    the exact '.tmp-' prefix the publisher mints is ever swept — foreign
    dot-entries are not ours to delete."""
    import os

    p = str(tmp_path / "t")
    txn.init_log(p)
    os.makedirs(txn.stream_root(p), exist_ok=True)
    d1 = txn.new_data_dir(p)
    with open(os.path.join(d1, "a.parquet"), "w") as fh:
        fh.write("x")
    txn.commit_append(p, d1, rows=0)
    old_farm = os.path.join(txn.stream_root(p), ".tmp-deadbeef-1234")
    os.makedirs(os.path.join(old_farm, "sub"))
    with open(os.path.join(old_farm, "sub", "a.parquet"), "w") as fh:
        fh.write("stale")
    os.utime(os.path.join(old_farm, "sub", "a.parquet"), (1, 1))
    os.utime(os.path.join(old_farm, "sub"), (1, 1))
    os.utime(old_farm, (1, 1))  # ancient through and through
    young_farm = os.path.join(txn.stream_root(p), ".tmp-cafebabe-5678")
    os.makedirs(young_farm)  # mtime = now: an in-flight publisher
    # a stalled-but-live publisher: ancient top dir, FRESH nested link —
    # the in-flight case the dir-mtime key would have deleted mid-commit
    stalled = os.path.join(txn.stream_root(p), ".tmp-feedface-9abc")
    os.makedirs(os.path.join(stalled, "sub"))
    with open(os.path.join(stalled, "sub", "b.parquet"), "w") as fh:
        fh.write("fresh")
    os.utime(stalled, (1, 1))
    os.utime(os.path.join(stalled, "sub"), (1, 1))  # file stays fresh
    # a foreign dot-entry (not our prefix): never swept, any age
    foreign = os.path.join(txn.stream_root(p), ".keep")
    os.makedirs(foreign)
    os.utime(foreign, (1, 1))
    txn.vacuum(p, min_age_seconds=3600.0)
    assert not os.path.isdir(old_farm)
    assert os.path.isdir(young_farm)
    assert os.path.isdir(stalled)
    assert os.path.isdir(foreign)
    # the committed mirror is untouched
    assert os.path.basename(d1) in os.listdir(txn.stream_root(p))


# ------------------------------------------- one protocol: crashes and races


class _Crash(RuntimeError):
    pass


def _rows(spark, root, name="t"):
    """What a fresh Catalog over ``root`` reads from ``name``."""
    return {(r["k"], r["tag"]) for r in Catalog(spark, root).read_index(name).collect()}


@pytest.mark.parametrize("step", ["after_data_write", "after_manifest_claim", "before_drop"])
def test_crash_leaves_old_or_new_snapshot(spark, tmp_path, monkeypatch, step):
    """A default catalog's upsert dies at one commit step: after its data
    dir is written, after it claims the manifest, or before it deletes the
    snapshot it superseded.  A fresh Catalog then reads exactly the old or
    the new snapshot, and vacuum sweeps the one orphan dir the crash left."""
    import os

    root = str(tmp_path / "idx")
    cat = Catalog(spark, root)
    cat.write_index(_df(spark, 0, 5, "old"), "t", id_col="k")
    old = _rows(spark, root)
    new = {(i, "old") for i in range(3)} | {(i, "new") for i in range(3, 8)}

    def crash(*_args, **_kwargs):
        raise _Crash(step)

    if step == "after_data_write":
        # commit_replace writes the data dir, then claims: die at the claim
        monkeypatch.setattr(txn, "try_commit", crash)
    elif step == "after_manifest_claim":
        claim = txn.try_commit

        def claim_then_crash(*args, **kwargs):
            assert claim(*args, **kwargs)
            crash()

        monkeypatch.setattr(txn, "try_commit", claim_then_crash)
    else:
        monkeypatch.setattr(txn, "drop_superseded", crash)
    with pytest.raises(_Crash):
        cat.write_index(_df(spark, 3, 8, "new"), "t", operation="upsert", id_col="k")
    monkeypatch.undo()

    assert _rows(spark, root) == (old if step == "after_data_write" else new)
    path = cat.path("t")
    assert len(os.listdir(txn.data_root(path))) == 2  # the live dir and the orphan
    assert len(Catalog(spark, root).vacuum_index("t", min_age_seconds=0)) == 1
    _, live = txn.latest(path)
    assert sorted(os.listdir(txn.data_root(path))) == sorted(os.path.basename(d) for d in live)
    assert _rows(spark, root) == (old if step == "after_data_write" else new)


def test_concurrent_upserts_lose_no_write(spark, tmp_path, monkeypatch):
    """Two threads upsert disjoint _ids into one default catalog, both
    deriving their rewrite from the same snapshot before either claims the
    next version.  Afterwards each write is visible unless its writer
    raised: no write is silently lost."""
    root = str(tmp_path / "idx")
    Catalog(spark, root).write_index(_df(spark, 0, 4, "base"), "t", id_col="k")
    barrier = threading.Barrier(2)
    commit = txn.commit_replace

    def commit_together(*args, **kwargs):
        barrier.wait(timeout=120)
        return commit(*args, **kwargs)

    monkeypatch.setattr(txn, "commit_replace", commit_together)
    writes = {"a": range(10, 14), "b": range(20, 24)}
    errors = {}

    def upsert(tag):
        try:
            ids = writes[tag]
            Catalog(spark, root).write_index(
                _df(spark, ids.start, ids.stop, tag), "t", operation="upsert", id_col="k"
            )
        except Exception as ex:  # noqa: BLE001
            errors[tag] = ex

    threads = [threading.Thread(target=upsert, args=(tag,)) for tag in writes]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    monkeypatch.undo()
    got = _rows(spark, root)
    assert len(errors) < 2, errors
    assert {(i, "base") for i in range(4)} <= got
    for tag, ids in writes.items():
        if tag not in errors:
            assert {(i, tag) for i in ids} <= got, (tag, errors)


def test_default_catalog_keeps_one_snapshot(spark, tmp_path):
    """A default catalog deletes the data dirs its replace commit
    superseded as soon as the commit wins; a transactional one keeps them
    for time travel until vacuum_index."""
    import os

    for transactional, dirs_left in ((False, 1), (True, 3)):
        cat = Catalog(spark, str(tmp_path / f"t{transactional}"), transactional=transactional)
        cat.write_index(_df(spark, 0, 5, "a"), "t", id_col="k")
        cat.write_index(_df(spark, 3, 8, "b"), "t", operation="upsert", id_col="k")
        cat.delete_by_query("t", {"term": {"k": 0}})
        assert cat.count_index("t") == 7
        assert len(os.listdir(txn.data_root(cat.path("t")))) == dirs_left
        assert len(txn.history(cat.path("t"))) == 3


def test_empty_index_is_a_manifest_without_dirs(spark, tmp_path):
    """An index created empty (rollover's next generation) commits a
    manifest that lists no dirs: it reads as 0 rows with its recorded
    schema, and a later write merges against that schema."""
    cat = Catalog(spark, str(tmp_path / "idx"))
    cat.write_index(_df(spark, 0, 3, "a").withColumn("x", F.lit(1)), "g-000001", id_col="k")
    cat.put_alias("g", "g-000001")
    assert cat.rollover("g", max_docs=1)["rolled_over"]
    version, dirs = txn.latest(cat.path("g-000002"))
    assert (version, dirs) == (1, [])
    assert cat.count_index("g-000002") == 0
    empty = cat.read_index("g-000002")
    assert empty.columns == ["k", "tag", "x"] and empty.count() == 0
    cat.write_index(_df(spark, 5, 7, "b"), "g-000002", operation="upsert", id_col="k")
    got = cat.read_index("g-000002")
    assert got.columns == ["k", "tag", "x"]
    assert {(r["k"], r["x"]) for r in got.collect()} == {(5, None), (6, None)}



@pytest.mark.parametrize("failure", ["job_raises", "process_died"])
def test_failed_first_write_leaves_no_index(spark, tmp_path, failure):
    """A first write that fails before its claim leaves no index: the name
    does not exist, and the retry creates the index with its template's
    default pipeline and accepts mode="error".  A job that raises removes
    the empty log it made; one a dead process left behind is not an index
    either."""
    cat = Catalog(spark, str(tmp_path / "idx"))
    cat.put_pipeline("norm", [{"lowercase": {"field": "tag"}}])
    cat.put_index_template(
        "t-logs",
        {"index_patterns": ["logs-*"], "priority": 10,
         "template": {"settings": {"index.default_pipeline": "norm"}}},
    )
    if failure == "job_raises":
        bad = _df(spark, 0, 3, "X").withColumn("v", F.raise_error(F.lit("boom")))
        with pytest.raises(Exception, match="boom"):
            cat.write_index(bad, "logs-a", id_col="k")
        assert not cat.exists("logs-a") and "logs-a" not in cat.list_indices()
    else:
        txn.init_log(cat.path("logs-a"))
        assert "logs-a" not in cat.list_indices()
    cat.write_index(_df(spark, 0, 3, "X"), "logs-a", mode="error", id_col="k")
    assert {r["tag"] for r in cat.read_index("logs-a").collect()} == {"x"}
    assert cat.get_settings("logs-a")["default_pipeline"] == "norm"
    with pytest.raises(Exception, match="logs-a"):
        cat.write_index(_df(spark, 0, 3, "X"), "logs-a", mode="error", id_col="k")


def test_default_catalog_log_stays_short(spark, tmp_path, monkeypatch):
    """A default catalog prunes the manifests its commits superseded, so a
    long-running writer's reads list one manifest, not one per commit; the
    running replace flag survives the pruning.  A transactional catalog
    keeps its whole log for time travel."""
    import os

    monkeypatch.setattr(txn, "LOG_RETENTION_SECONDS", 0.0)
    for transactional in (False, True):
        cat = Catalog(spark, str(tmp_path / f"t{transactional}"), transactional=transactional)
        p = cat.path("t")
        cat.write_index(_df(spark, 0, 2, "a"), "t", id_col="k")
        cat.write_index(_df(spark, 2, 4, "b"), "t", operation="upsert", id_col="k")
        for i in range(4):
            cat.write_index(_df(spark, 10 + i, 11 + i, "c"), "t")
        manifests = os.listdir(os.path.join(p, "_txn"))
        assert len(manifests) == (6 if transactional else 1), manifests
        assert txn.latest(p)[0] == 6 and txn.has_replace_commit(p)
        assert cat.count_index("t") == 8
        _, live = txn.latest(p)
        assert len(os.listdir(txn.data_root(p))) == (6 if transactional else len(live))


def test_pruned_log_stays_one_manifest_over_many_commits(tmp_path, monkeypatch):
    """Hundreds of commits, each pruning behind itself: the log holds one
    manifest throughout, and the running replace flag keeps answering
    has_replace_commit from it."""
    import os

    monkeypatch.setattr(txn, "LOG_RETENTION_SECONDS", 0.0)
    p = str(tmp_path / "t")
    txn.init_log(p)
    for i in range(300):
        if i == 150:
            v = txn.commit_replace(p, txn.latest(p)[0], txn.new_data_dir(p), rows=0)
        else:
            v = txn.commit_append(p, txn.new_data_dir(p), rows=0)
        txn.drop_superseded(p, v)
        assert os.listdir(os.path.join(p, "_txn")) == [f"v{v:012d}.json"]
        assert txn.has_replace_commit(p) == (i >= 150)
    assert txn.latest(p)[0] == 300 and len(txn.latest(p)[1]) == 150


def test_append_claim_reads_one_manifest(tmp_path, monkeypatch):
    """An append takes the running replace flag from the manifest it builds
    on, so each claim reads that one manifest, and the flags of a mixed
    append/replace log are the running OR of its replace commits."""
    p = str(tmp_path / "t")
    txn.init_log(p)
    read = txn.manifest_body
    reads = []

    def counting(index_path, version):
        reads.append(version)
        return read(index_path, version)

    monkeypatch.setattr(txn, "manifest_body", counting)
    for kind in "aaraa":
        reads.clear()
        if kind == "r":
            v = txn.commit_replace(p, txn.latest(p)[0], txn.new_data_dir(p), rows=0)
        else:
            v = txn.commit_append(p, txn.new_data_dir(p), rows=0)
            assert reads == ([v - 1] if v > 1 else []), (v, reads)
    monkeypatch.undo()
    assert [read(p, v)["replaced"] for v in range(1, 6)] == [False, False, True, True, True]


def test_claim_in_a_pruned_slot_is_withdrawn(tmp_path):
    """A writer that read the log before pruning may claim a version whose
    manifest was pruned; that claim must lose, not publish a snapshot
    nobody reads."""
    import os

    p = str(tmp_path / "t")
    txn.init_log(p)
    for _ in range(3):
        txn.commit_append(p, txn.new_data_dir(p), rows=0)
    old = os.path.getmtime(txn._version_file(p, 3)) - 2 * txn.LOG_RETENTION_SECONDS
    for v in (1, 2, 3):
        os.utime(txn._version_file(p, v), (old, old))
    txn.drop_superseded(p, 3)
    assert txn._versions(p) == [3]
    # either claim links, then is withdrawn: the version above it is
    # older than the retention window, so its slot was pruned
    assert not txn.try_commit(p, 2, [txn.new_data_dir(p)])
    assert not txn.try_commit(p, 2, [txn.new_data_dir(p)], meta={"replace": True})
    assert txn._versions(p) == [3]
    assert txn.commit_append(p, txn.new_data_dir(p), rows=0) == 4


def test_replace_drops_its_dir_when_recompute_raises(tmp_path):
    """A replace writer that lost the race and whose re-derivation raised
    leaves no uncommitted copy of its snapshot behind."""
    import os

    p = str(tmp_path / "t")
    txn.init_log(p)
    txn.commit_append(p, txn.new_data_dir(p), rows=0)  # the winner's v1
    stale = txn.new_data_dir(p)

    def recompute(dirs, schema, rows):
        raise _Crash("snapshot gone")

    with pytest.raises(_Crash):
        txn.commit_replace(p, 0, stale, recompute=recompute)
    assert not os.path.exists(stale)


def test_rollover_resumes_after_dying_before_the_alias_step(spark, tmp_path, monkeypatch):
    """A rollover that committed the next generation but died before
    re-pointing the alias completes on the next call instead of failing on
    the generation it already created."""
    from elasticsearch_hadoop_spark import catalog as catalog_mod

    cat = Catalog(spark, str(tmp_path / "idx"))
    cat.write_index(_df(spark, 0, 3, "a"), "g-000001", id_col="k")
    cat.put_alias("g", "g-000001")
    write_json = catalog_mod._write_json

    def die_on_alias(path, obj):
        if path == cat._aliases_path():
            raise _Crash("died before the alias step")
        write_json(path, obj)

    monkeypatch.setattr(catalog_mod, "_write_json", die_on_alias)
    with pytest.raises(_Crash):
        cat.rollover("g", max_docs=1)
    monkeypatch.undo()
    assert txn.latest(cat.path("g-000002"))[0] == 1
    assert cat.resolve_pattern("g") == ["g-000001"]
    assert cat.rollover("g", max_docs=1)["new_index"] == "g-000002"
    assert cat.resolve_pattern("g") == ["g-000001", "g-000002"]
    assert cat.count_index("g") == 3


def test_replace_rederives_when_derivation_fails_after_the_log_moved(tmp_path):
    """A derivation that raises after another writer committed lost the
    race: commit_replace re-runs it on the new snapshot instead of
    failing, and starts from the latest snapshot when given no base."""
    p = str(tmp_path / "t")
    txn.init_log(p)
    txn.commit_append(p, txn.new_data_dir(p), rows=1)  # v1
    seen = []

    def recompute(dirs, schema, rows):
        seen.append((len(dirs), rows))
        if len(seen) == 1:
            txn.commit_append(p, txn.new_data_dir(p), rows=1)  # a winner's v2
            raise _Crash("the snapshot this derivation read is gone")
        return txn.new_data_dir(p), schema, rows

    assert bounded(lambda: txn.commit_replace(p, recompute=recompute)) == 3
    assert seen == [(1, 1), (2, 2)]
    assert txn.snapshot(p)[3] == 2


def test_rewrite_that_loses_to_a_dropping_winner_rederives(spark, tmp_path):
    """In a default catalog the winner of a commit race deletes the
    snapshot it superseded.  A rewrite whose job still reads that snapshot
    must re-derive against the winner, not fail.  Single-threaded: the
    build runs the competing upsert on its first call only, then returns
    its now-stale frame."""
    root = str(tmp_path / "idx")
    cat = Catalog(spark, root)
    bounded(lambda: cat.write_index(_df(spark, 0, 4, "base"), "t", id_col="k"))
    calls = []

    def build(existing):
        calls.append(existing)
        if len(calls) == 1:
            cat.write_index(_df(spark, 10, 13, "winner"), "t", operation="upsert", id_col="k")
        mine = _df(spark, 20, 22, "mine").withColumn("_id", F.col("k").cast("string"))
        return existing.unionByName(mine)

    bounded(lambda: cat._commit_build("t", [], build))
    assert len(calls) == 2
    assert _rows(spark, root) == (
        {(i, "base") for i in range(4)}
        | {(i, "winner") for i in range(10, 13)}
        | {(i, "mine") for i in range(20, 22)}
    )


# ------------------------------------------- settings commit with the data


@pytest.mark.parametrize("step", ["before_claim", "after_manifest_claim", "before_drop"])
def test_settings_crash_leaves_old_or_new_settings(spark, tmp_path, monkeypatch, step):
    """A default catalog's put_settings dies before it claims its version,
    after the claim, or before pruning the log.  A fresh Catalog then reads
    exactly the old or the new settings, over unchanged data."""
    root = str(tmp_path / "idx")
    cat = Catalog(spark, root)
    bounded(lambda: cat.write_index(_df(spark, 0, 5, "old"), "t", id_col="k"))
    old = Catalog(spark, root).get_settings("t")

    def crash(*_args, **_kwargs):
        raise _Crash(step)

    if step == "before_claim":
        monkeypatch.setattr(txn, "try_commit", crash)
    elif step == "after_manifest_claim":
        claim = txn.try_commit

        def claim_then_crash(*args, **kwargs):
            assert claim(*args, **kwargs)
            crash()

        monkeypatch.setattr(txn, "try_commit", claim_then_crash)
    else:
        monkeypatch.setattr(txn, "drop_superseded", crash)
    with pytest.raises(_Crash):
        bounded(lambda: cat.put_settings("t", {"ilm_phase": "warm"}))
    monkeypatch.undo()

    new = {**old, "ilm_phase": "warm"}
    assert Catalog(spark, root).get_settings("t") == (old if step == "before_claim" else new)
    assert bounded(lambda: _rows(spark, root)) == {(i, "old") for i in range(5)}


def _claims_after(monkeypatch, other):
    """Run ``other()`` just before the next manifest claim, which then
    loses the race to the version ``other`` committed."""
    claim, pending = txn.try_commit, [other]

    def claim_after_other(*args, **kwargs):
        if pending:
            pending.pop()()
        return claim(*args, **kwargs)

    monkeypatch.setattr(txn, "try_commit", claim_after_other)


@pytest.mark.parametrize("loser", ["write_index", "put_settings"])
def test_write_racing_put_settings_loses_neither(spark, tmp_path, monkeypatch, loser):
    """An upsert and a settings change race for the same version, each
    losing once: the upsert re-derives on the winner's settings, the
    settings change merges into the winner's snapshot.  Both land."""
    root = str(tmp_path / "idx")
    cat = Catalog(spark, root)
    bounded(lambda: cat.write_index(_df(spark, 0, 4, "base"), "t", id_col="k"))

    def upsert():
        cat.write_index(_df(spark, 2, 6, "new"), "t", operation="upsert", id_col="k")

    def put():
        cat.put_settings("t", {"ilm_phase": "warm"})

    first, second = (upsert, put) if loser == "write_index" else (put, upsert)
    _claims_after(monkeypatch, second)
    bounded(first)
    monkeypatch.undo()

    assert txn.latest(cat.path("t"))[0] == 3  # the seed, the winner, the loser's retry
    assert Catalog(spark, root).get_settings("t")["ilm_phase"] == "warm"
    expect = {(i, "base") for i in range(2)} | {(i, "new") for i in range(2, 6)}
    assert bounded(lambda: _rows(spark, root)) == expect


def test_follow_of_a_missing_leader_index_leaves_nothing(spark, tmp_path):
    """Following an index the leader does not have raises
    IndexNotFoundError and leaves nothing at the follower's name: it does
    not exist and takes a first write like any new index."""
    leader = Catalog(spark, str(tmp_path / "leader"), transactional=True)
    cat = Catalog(spark, str(tmp_path / "idx"))
    with pytest.raises(IndexNotFoundError, match="nope"):
        bounded(lambda: cat.follow_index(leader, "nope", "f"))
    assert os.listdir(cat.root) == [] and not cat.exists("f")
    bounded(lambda: cat.write_index(_df(spark, 0, 3, "a"), "f"))
    assert cat.count_index("f") == 3


def test_unfollow_during_a_poll_holds(spark, tmp_path, monkeypatch):
    """An unfollow that lands while a poll copies the leader's new data is
    not undone: the poll re-reads the follower's snapshot before it claims,
    finds no follower and commits nothing; the index then takes writes."""
    leader = Catalog(spark, str(tmp_path / "leader"), transactional=True)
    bounded(lambda: leader.write_index(_df(spark, 0, 6, "a"), "t", id_col="k"))
    cat = Catalog(spark, str(tmp_path / "idx"))
    bounded(lambda: cat.follow_index(leader, "t", "f"))
    bounded(lambda: leader.write_index(_df(spark, 6, 9, "b"), "t"))
    copy = shutil.copytree

    def unfollow_then_copy(*args, **kwargs):
        cat.unfollow_index("f")
        return copy(*args, **kwargs)

    monkeypatch.setattr(shutil, "copytree", unfollow_then_copy)
    assert bounded(lambda: cat.ccr_poll("f"))["synced"] is False
    monkeypatch.undo()

    assert not [k for k in cat.get_settings("f") if k.startswith("ccr_")]
    bounded(lambda: cat.write_index(_df(spark, 20, 22, "c"), "f"))
    assert cat.count_index("f") == 8


_FOLLOWER_REWRITES = {
    "delete_by_query": lambda cat, spark: cat.delete_by_query("f", {"term": {"k": 1}}),
    "update_by_query": lambda cat, spark: cat.update_by_query("f", {"term": {"k": 1}}, {"tag": F.lit("u")}),
    "compact_index": lambda cat, spark: cat.compact_index("f", target_files=1),
    "write_bucketed": lambda cat, spark: cat.write_bucketed(_df(spark, 0, 3, "b"), "f", ["k"], 2),
}


@pytest.mark.parametrize("rewrite", sorted(_FOLLOWER_REWRITES))
def test_follower_refuses_a_rewrite_before_any_job(spark, tmp_path, rewrite):
    """A rewrite of a CCR follower is refused before it runs a Spark job
    and leaves the follower's log as it was."""
    from tests.conftest import count_jobs

    leader = Catalog(spark, str(tmp_path / "leader"), transactional=True)
    bounded(lambda: leader.write_index(_df(spark, 0, 6, "a"), "t", id_col="k"))
    cat = Catalog(spark, str(tmp_path / "idx"))
    bounded(lambda: cat.follow_index(leader, "t", "f"))

    def refused():
        with pytest.raises(ValueError, match="is a CCR follower"):
            _FOLLOWER_REWRITES[rewrite](cat, spark)

    assert bounded(lambda: count_jobs(spark, refused))[1] == 0
    assert txn.latest(cat.path("f"))[0] == 1


# ------------------------------------------------------------- one layout


def _seeded(spark, cat, name="t", **kw):
    cat.write_index(_df(spark, 0, 6, "a"), name, **kw)
    return cat


def _write_op(op):
    ids = {"index": (4, 9), "create": (6, 9), "update": (0, 3), "upsert": (4, 9), "delete": (0, 2)}

    def run(spark, cat, tmp_path):
        _seeded(spark, cat, id_col="k").write_index(
            _df(spark, *ids[op], "b"), "t", operation=op, id_col="k"
        )
        return ["t"]

    return run


def _mode(mode):
    def run(spark, cat, tmp_path):
        _seeded(spark, cat).write_index(_df(spark, 6, 9, "b"), "t", mode=mode)
        return ["t"]

    return run


def _bucketed(spark, cat, tmp_path):
    _seeded(spark, cat, name="layout_b", id_col="k")
    cat.write_bucketed(_df(spark, 0, 9, "b"), "layout_b", ["k"], 2, sort_cols=["k"])
    return ["layout_b"]


def _compact(spark, cat, tmp_path):
    _seeded(spark, cat).write_index(_df(spark, 6, 9, "b"), "t")
    cat.compact_index("t", target_files=1)
    return ["t"]


def _delete_by_query(spark, cat, tmp_path):
    _seeded(spark, cat).delete_by_query("t", {"range": {"k": {"lt": 2}}})
    return ["t"]


def _update_by_query(spark, cat, tmp_path):
    _seeded(spark, cat).update_by_query("t", {"term": {"k": 1}}, {"tag": F.lit("u")})
    return ["t"]


def _restore(spark, cat, tmp_path):
    repo = str(tmp_path / "repo")
    _seeded(spark, cat).snapshot_index("t", repo, "s1")
    cat.restore_index(repo, "s1", "t", rename_to="restored")
    return ["restored"]


def _clone(spark, cat, tmp_path):
    _seeded(spark, cat).clone_index("t", "cloned")
    return ["cloned"]


def _resize(spark, cat, tmp_path):
    _seeded(spark, cat).shrink_index("t", "shrunk", 1)
    cat.split_index("shrunk", "split", 2)
    return ["shrunk", "split"]


def _rollover(spark, cat, tmp_path):
    _seeded(spark, cat, name="g-000001").put_alias("g", "g-000001")
    assert cat.rollover("g", max_docs=1)["rolled_over"]
    return ["g-000001", "g-000002"]


def _data_stream(spark, cat, tmp_path):
    cat.create_data_stream("ds")
    df = _df(spark, 0, 4, "a").withColumn("@timestamp", F.current_timestamp())
    cat.write_data_stream(df, "ds", max_docs_per_generation=1)
    cat.write_data_stream(df, "ds")
    return [".ds-ds-000001", ".ds-ds-000002"]


def _ccr_poll(spark, cat, tmp_path):
    leader = _seeded(spark, Catalog(spark, str(tmp_path / "leader"), transactional=True), id_col="k")
    cat.follow_index(leader, "t", "f")
    leader.write_index(_df(spark, 3, 9, "b"), "t", operation="upsert", id_col="k")
    cat.ccr_poll("f")
    return ["f"]


def _unfollow(spark, cat, tmp_path):
    leader = _seeded(spark, Catalog(spark, str(tmp_path / "leader"), transactional=True))
    cat.follow_index(leader, "t", "f")
    cat.unfollow_index("f")
    return ["f"]


def _put_settings(spark, cat, tmp_path):
    _seeded(spark, cat).put_settings("t", {"index_sort": "k"})
    return ["t"]


def _ilm_tick(spark, cat, tmp_path):
    from elasticsearch_hadoop_spark.ilm import apply_lifecycle

    for gen in ("ilm-000001", "ilm-000002"):
        _seeded(spark, cat, name=gen)
    cat.put_settings("ilm-000001", {"created_at": 0.0})
    cat.put_alias("ilm", "ilm-000001", "ilm-000002")
    warm = {"min_age": "1d", "actions": {"forcemerge": {"max_num_segments": 1}, "readonly": {}}}
    assert apply_lifecycle(cat, "ilm", {"policy": {"phases": {"warm": warm}}})
    return ["ilm-000001", "ilm-000002"]


def _stream_append(spark, cat, tmp_path):
    _seeded(spark, cat).read_index_stream("t")  # creates the _stream farm
    cat.write_index(_df(spark, 6, 9, "b"), "t")
    return ["t"]


_WRITES = {
    **{f"write_index_{op}": _write_op(op) for op in VALID_OPERATIONS},
    "write_index_overwrite": _mode("overwrite"),
    "write_index_append": _mode("append"),
    "write_bucketed": _bucketed,
    "compact_index": _compact,
    "delete_by_query": _delete_by_query,
    "update_by_query": _update_by_query,
    "restore_index": _restore,
    "clone_index": _clone,
    "shrink_split": _resize,
    "rollover": _rollover,
    "write_data_stream": _data_stream,
    "ccr_poll": _ccr_poll,
    "unfollow_index": _unfollow,
    "put_settings": _put_settings,
    "ilm_tick": _ilm_tick,
    "stream_append": _stream_append,
}


@pytest.mark.parametrize("write", sorted(_WRITES))
def test_every_write_leaves_one_layout(spark, tmp_path, write):
    """After each public write API the index root holds only the log and
    its data pool (plus the stream farm once streaming is enabled), the
    catalog root holds only indices and catalog-wide ``_*`` documents (no
    per-index file beside an index), and the recorded count equals the
    scan count."""
    cat = Catalog(spark, str(tmp_path / "idx"))
    try:
        names = bounded(lambda: _WRITES[write](spark, cat, tmp_path))
        for entry in os.listdir(cat.root):
            assert cat.exists(entry) or entry.startswith("_"), entry
        layout = {"_txn", "_data"} | ({"_stream"} if write == "stream_append" else set())
        for name in names:
            assert set(os.listdir(cat.path(name))) == layout, name
            counted, scanned = bounded(
                lambda: (cat.count_index(name), cat.read_index(name).count())
            )
            assert counted == scanned, name
    finally:
        spark.sql("DROP TABLE IF EXISTS esidx_layout_b")


def test_bucketed_index_reads_like_any_other(spark, tmp_path):
    """A bucketed index sits in the catalog like a plain one: listed,
    read, counted from its manifest (0 jobs), part of wildcard reads and
    _cat/indices; rewriting it re-points read_bucketed at the new
    snapshot."""
    from tests.conftest import count_jobs

    cat = Catalog(spark, str(tmp_path / "idx"))
    try:
        bounded(lambda: cat.write_index(_df(spark, 0, 5, "plain"), "plain"))
        bounded(lambda: cat.write_bucketed(_df(spark, 10, 16, "b"), "bk", ["k"], 2, sort_cols=["k"]))
        assert cat.list_indices() == ["bk", "plain"]
        assert bounded(lambda: _rows(spark, cat.root, "bk")) == {(i, "b") for i in range(10, 16)}
        assert count_jobs(spark, lambda: cat.count_index("bk")) == (6, 0)
        assert bounded(lambda: cat.read_index("*").count()) == 11
        assert {r["index"]: r["docs_count"] for r in cat.cat_indices()} == {"bk": 6, "plain": 5}
        bucketed = bounded(lambda: {(r["k"], r["tag"]) for r in cat.read_bucketed("bk").collect()})
        assert bucketed == {(i, "b") for i in range(10, 16)}
        bounded(lambda: cat.write_bucketed(_df(spark, 20, 23, "c"), "bk", ["k"], 2))
        assert bounded(lambda: cat.read_bucketed("bk").count()) == cat.count_index("bk") == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS esidx_bk")


@pytest.mark.parametrize("mode", ["append", "overwrite"])
@pytest.mark.parametrize("transactional", [False, True])
def test_read_bucketed_after_a_later_write_raises(spark, tmp_path, transactional, mode):
    """Only the snapshot write_bucketed committed is bucketed: after a
    later write read_bucketed raises a clear error instead of failing at
    scan time (an overwrite in a default catalog deletes the bucketed
    files), reading a superseded snapshot (a transactional catalog keeps
    them) or missing appended rows."""
    cat = Catalog(spark, str(tmp_path / "idx"), transactional=transactional)
    try:
        bounded(lambda: cat.write_bucketed(_df(spark, 0, 6, "b"), "bk", ["k"], 2))
        bounded(lambda: cat.write_index(_df(spark, 4, 9, "w"), "bk", mode=mode))
        with pytest.raises(ValueError, match="no bucketed snapshot"):
            cat.read_bucketed("bk")
        kept = set() if mode == "overwrite" else {(i, "b") for i in range(6)}
        assert bounded(lambda: _rows(spark, cat.root, "bk")) == kept | {(i, "w") for i in range(4, 9)}
    finally:
        spark.sql("DROP TABLE IF EXISTS esidx_bk")


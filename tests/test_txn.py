"""Optimistic-concurrency commit log (txn.py + Catalog(transactional=True)):
concurrent appends must both land, replace commits must detect lost races
and re-derive, and readers must only ever see committed manifests."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.catalog import Catalog


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
    assert txn.commit_append(p, d1) == 1
    assert txn.commit_append(p, d2) == 2
    _, dirs = txn.latest(p)
    assert sorted(map(str, dirs)) == sorted([d1, d2])


def test_replace_conflict_without_recompute_raises(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    base, _ = txn.latest(p)
    txn.commit_append(p, txn.new_data_dir(p))  # someone else moved the log
    with pytest.raises(txn.CommitConflictError):
        txn.commit_replace(p, base, txn.new_data_dir(p), recompute=None)


def test_replace_recompute_sees_winner_snapshot(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    winner = txn.new_data_dir(p)
    txn.commit_append(p, winner)  # v1
    seen = []

    def recompute(dirs, schema):
        seen.append(list(dirs))
        return txn.new_data_dir(p), schema

    # stale writer based its rewrite on v0
    v = txn.commit_replace(p, 0, txn.new_data_dir(p), recompute=recompute)
    assert v == 2
    assert seen and seen[0] == [winner]


def test_vacuum_sweeps_orphans_respecting_retention(tmp_path):
    p = str(tmp_path / "t")
    txn.init_log(p)
    live = txn.new_data_dir(p)
    orphan = txn.new_data_dir(p)
    txn.commit_append(p, live)
    # default retention window protects young dirs — an in-flight writer's
    # not-yet-committed data dir must never be swept
    assert txn.vacuum(p) == []
    import os

    assert os.path.isdir(orphan)
    removed = txn.vacuum(p, min_age_seconds=0)
    assert os.path.basename(orphan) in removed
    assert os.path.isdir(live)


def test_adopt_preserves_plain_data(spark, tmp_path):
    """Opening an existing NON-transactional index with
    Catalog(transactional=True) must adopt its data as committed v1, not
    hide it behind an empty manifest (silent data loss)."""
    root = str(tmp_path / "idx")
    plain = Catalog(spark, root)
    plain.write_index(_df(spark, 0, 5, "old"), "t")
    tcat = Catalog(spark, root, transactional=True)
    tcat.write_index(_df(spark, 5, 8, "new"), "t")  # append under the log
    got = {(r["k"], r["tag"]) for r in tcat.read_index("t").collect()}
    assert got == {(i, "old") for i in range(5)} | {(i, "new") for i in range(5, 8)}
    # and the plain-mode reader sees the same through the manifest
    assert {(r["k"], r["tag"]) for r in plain.read_index("t").collect()} == got


def test_manifest_files_never_half_written(tmp_path):
    """latest() during a slow commit must never see an empty/partial
    manifest: the body is fully written before the link-claim publishes
    it."""
    import os

    p = str(tmp_path / "t")
    txn.init_log(p)
    d = txn.new_data_dir(p)
    txn.commit_append(p, d)
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


def test_txn_append_fuzz_threads(tmp_path):
    """Log-level stress: 8 threads x 20 appends racing on one log. Every
    append must land exactly once (manifest union), the final version must
    equal the total commit count, and no thread may error."""
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "t")
    txn.init_log(p)
    dirs = [txn.new_data_dir(p) for _ in range(160)]

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(lambda d: txn.commit_append(p, d), dirs))

    assert sorted(versions) == list(range(1, 161))  # every version claimed once
    v, live = txn.latest(p)
    assert v == 160
    assert sorted(map(str, live)) == sorted(dirs)  # no append lost


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
    txn.commit_append(p, d1)  # v1
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


def test_adopt_survives_lost_v1_race(tmp_path):
    """ADVICE r3: a writer that claims v1 while adoption is mid-move must
    not orphan the plain data — the adopted dir lands via append-union."""
    p = str(tmp_path / "t")
    import os

    os.makedirs(p)
    with open(os.path.join(p, "old.parquet"), "w") as fh:
        fh.write("plain-era bytes")
    # competitor initializes the log and claims v1 first
    txn.init_log(p)
    txn.commit_append(p, txn.new_data_dir(p))
    assert txn.latest(p)[0] == 1
    # adoption must still publish the plain file, at v2
    assert txn.adopt(p) is True
    version, dirs = txn.latest(p)
    assert version == 2
    published = [
        f for d in dirs for _, _, fs in os.walk(d) for f in fs if f == "old.parquet"
    ]
    assert published, "plain-era file not reachable from the latest manifest"


def test_concurrent_adopts_lose_nothing(tmp_path):
    """Two threads adopting the same plain directory: every plain file must
    be referenced by the final manifest exactly once."""
    import os

    p = str(tmp_path / "t")
    os.makedirs(p)
    for i in range(20):
        with open(os.path.join(p, f"f{i:02d}.parquet"), "w") as fh:
            fh.write(f"bytes-{i}")
    errs = []

    def run():
        try:
            txn.adopt(p)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs
    _, dirs = txn.latest(p)
    seen = sorted(
        f for d in dirs for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )
    assert seen == [f"f{i:02d}.parquet" for i in range(20)]


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
    never-committed _data dir (crashed writer / adoption loser)."""
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
    from elasticsearch_hadoop_spark.catalog import DocumentMissingError

    txn.init_log(cat.path("fresh2"))
    with pytest.raises(DocumentMissingError):
        cat.write_index(
            _df(spark, 0, 5, "x"), "fresh2", operation="update", id_col="k"
        )
    txn.init_log(cat.path("fresh3"))
    with pytest.raises(ValueError, match="no committed data"):
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
    txn.commit_append(p, d1)
    txn.enable_streaming(p)
    assert os.listdir(txn.stream_root(p)) == [os.path.basename(d1)]
    # append publishes
    d2 = txn.new_data_dir(p)
    with open(os.path.join(d2, "b.parquet"), "w") as fh:
        fh.write("y")
    txn.commit_append(p, d2)
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
    txn.commit_append(p, d1)
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
    txn.commit_append(p, d1)
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

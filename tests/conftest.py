from __future__ import annotations

import itertools
import os

import pytest

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from elasticsearch_hadoop_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


_JOB_GROUPS = itertools.count()


def count_jobs(spark, fn):
    """Run ``fn()`` under a fresh Spark job group; return its result and
    the number of Spark jobs it ran.  A job count is a cost the host's
    speed cannot blur, so it can be pinned exactly."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_nodes(df):
    """The physical operators of ``df``'s executed plan, root first, as JVM
    ``SparkPlan`` objects: an AQE wrapper is listed, then walked into, and
    whole-stage-codegen wrappers are listed with their children.  Check
    ``node.nodeName()`` and the node's own fields, not explain text."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop(0)
        out.append(node)
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def bounded(fn, seconds=180):
    """Run ``fn`` in a daemon thread and return its result; fail (instead
    of stalling the suite) if it has not returned after ``seconds``.  No
    timeout plugin bounds a test, so every call that commits or waits on
    an Observation goes through this."""
    import threading

    out = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as ex:  # noqa: BLE001 — re-raised below
            out["error"] = ex

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(seconds)
    assert not th.is_alive(), f"still running after {seconds} s"
    if "error" in out:
        raise out["error"]
    return out.get("value")


def dying_dump(obj, fp, *args, **kwargs):
    """A ``json.dump`` that writes a few bytes and dies, as on a full disk:
    patch it in to check that a JSON document survives a torn write."""
    import json

    fp.write(json.dumps(obj)[:7])
    raise OSError("disk full")


def count_py4j_calls(fn):
    """Run ``fn()``; return its result and the number of Py4J commands it
    sent to the JVM.  Commands that release Python-collected JVM objects
    are not counted: when they are sent depends on Python's garbage
    collector, not on ``fn``.  The count is the same on every host, so it
    can be pinned."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    calls = 0

    def counting(self, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith("m\nd\n"):  # memory, delete
            calls += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
    return out, calls


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()

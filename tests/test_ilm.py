"""ILM phase actions over catalog generations (ilm.py): policy storage,
phase resolution by age, the tick's actions, and idempotence."""

import glob
import os

import pytest

from elasticsearch_hadoop_spark.catalog import Catalog
from elasticsearch_hadoop_spark.ilm import (
    IlmError,
    apply_lifecycle,
    explain_lifecycle,
    get_lifecycle,
    parse_age,
    put_lifecycle,
    validate_policy,
)

DAY = 86400.0

def make_policy(repo: str) -> dict:
    return {
        "policy": {
            "phases": {
                "hot": {"actions": {"rollover": {"max_docs": 3}}},
                "warm": {
                    "min_age": "10d",
                    "actions": {"forcemerge": {"max_num_segments": 1},
                                "readonly": {}},
                },
                "cold": {
                    "min_age": "30d",
                    "actions": {"searchable_snapshot":
                                    {"snapshot_repository": repo}},
                },
                "delete": {"min_age": "60d", "actions": {"delete": {}}},
            }
        }
    }


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "indices"))


@pytest.fixture()
def policy(tmp_path):
    return make_policy(str(tmp_path / "snaprepo"))


def _mk_gen(cat, spark, idx, n_docs, created_at):
    cat.write_index(
        spark.createDataFrame([(i, f"d{i}") for i in range(n_docs)], "id int, v string"),
        idx,
    )
    cat.put_settings(idx, {"created_at": created_at})


def test_parse_age_and_validate():
    assert parse_age("7d") == 7 * DAY
    assert parse_age("30m") == 1800
    assert parse_age("500ms") == 0.5
    assert parse_age(42) == 42.0
    with pytest.raises(IlmError):
        parse_age("7fortnights")
    with pytest.raises(IlmError):
        validate_policy({"policy": {"phases": {"lukewarm": {}}}})
    with pytest.raises(IlmError):
        validate_policy(
            {"policy": {"phases": {"warm": {"actions": {"delete": {}}}}}}
        )
    with pytest.raises(IlmError):
        validate_policy(
            {"policy": {"phases": {"cold": {
                "actions": {"searchable_snapshot": {}}}}}}
        )


def test_policy_storage(cat, policy):
    put_lifecycle(cat, "logs", policy)
    assert get_lifecycle(cat, "logs") == policy
    with pytest.raises(IlmError):
        get_lifecycle(cat, "ghost")


def test_put_lifecycle_dying_mid_write_keeps_the_old_policies(cat, policy, monkeypatch):
    """A policy write that dies part-way leaves the stored policies whole:
    a torn file would fail every later get_lifecycle."""
    import json

    from tests.conftest import dying_dump

    put_lifecycle(cat, "logs", policy)
    monkeypatch.setattr(json, "dump", dying_dump)
    with pytest.raises(OSError, match="disk full"):
        put_lifecycle(cat, "metrics", policy)
    monkeypatch.undo()
    assert get_lifecycle(cat, "logs") == policy
    with pytest.raises(IlmError, match="no such ILM policy"):
        get_lifecycle(cat, "metrics")
    assert not glob.glob(os.path.join(cat.root, "_ilm_policies.json.tmp-*"))


def test_tick_moves_generations_through_phases(cat, spark, policy, tmp_path):
    now = 1_000_000_000.0
    # three rolled-away generations at warm/cold/delete ages + a fresh
    # write index
    _mk_gen(cat, spark, "logs-000001", 5, now - 61 * DAY)
    _mk_gen(cat, spark, "logs-000002", 5, now - 31 * DAY)
    _mk_gen(cat, spark, "logs-000003", 5, now - 11 * DAY)
    _mk_gen(cat, spark, "logs-000004", 1, now - 1 * DAY)
    cat.put_alias("ilm-logs", "logs-000001", "logs-000002",
                  "logs-000003", "logs-000004")
    put_lifecycle(cat, "logs", policy)

    exp = {e["index"]: e["phase"]
           for e in explain_lifecycle(cat, "ilm-logs", "logs", now=now)}
    assert exp == {"logs-000001": "delete", "logs-000002": "cold",
                   "logs-000003": "warm", "logs-000004": "hot"}

    actions = apply_lifecycle(cat, "ilm-logs", "logs", now=now)
    by_idx = {(a["index"], a["action"]) for a in actions}
    assert ("logs-000001", "delete") in by_idx
    assert ("logs-000002", "searchable_snapshot") in by_idx
    assert ("logs-000003", "forcemerge") in by_idx
    assert ("logs-000003", "readonly") in by_idx
    # delete phase removed the index and detached it from the alias
    assert not cat.exists("logs-000001")
    assert "logs-000001" not in cat._read_aliases()["ilm-logs"]
    # forcemerge compacted to one data file
    files = glob.glob(os.path.join(cat.path("logs-000003"), "**", "*.parquet"),
                      recursive=True)
    assert len([f for f in files if "_snapshot" not in f]) == 1
    # cold snapshot landed in the repo
    assert any(s["snapshot"].startswith("ilm-cold-")
               for s in cat.list_snapshots(str(tmp_path / "snaprepo")))
    # settings stamped
    assert cat.get_settings("logs-000003")["ilm_phase"] == "warm"
    assert cat.get_settings("logs-000003")["readonly"] is True
    assert cat.get_settings("logs-000002")["ilm_phase"] == "cold"

    # idempotence: a second tick at the same instant is a no-op
    assert apply_lifecycle(cat, "ilm-logs", "logs", now=now) == []


def test_hot_rollover_through_policy(cat, spark, policy):
    now = 1_000_000_000.0
    _mk_gen(cat, spark, "ev-000001", 5, now - DAY)  # >= max_docs=3
    cat.put_alias("ev", "ev-000001")
    actions = apply_lifecycle(cat, "ev", policy, now=now)
    assert actions == [{"index": "ev-000001", "phase": "hot",
                        "action": "rollover", "new_index": "ev-000002"}]
    assert cat._read_aliases()["ev"] == ["ev-000001", "ev-000002"]
    # the write index never moves phases, however old it is
    cat.put_settings("ev-000002", {"created_at": now - 100 * DAY})
    acts = apply_lifecycle(cat, "ev", policy, now=now)
    assert all(a["index"] != "ev-000002" for a in acts)


def test_write_index_protected_and_errors(cat, spark, policy):
    _mk_gen(cat, spark, "solo-000001", 2, 0)
    cat.put_alias("solo", "solo-000001")
    # only generation == write index: nothing to transition, no rollover
    # conditions met at 2 docs < 3
    assert apply_lifecycle(cat, "solo", policy, now=1e9) == []
    with pytest.raises(IlmError):
        apply_lifecycle(cat, "missing-alias", policy, now=1e9)


def test_delete_phase_dying_mid_write_keeps_the_alias_map(cat, spark, monkeypatch):
    """The delete phase detaches the generation through put_alias's
    atomic replace: a write that dies part-way leaves the alias map whole
    (a torn one would fail every alias and pattern read), and the next
    tick deletes."""
    import json

    from tests.conftest import bounded, dying_dump

    now = 1_000_000_000.0
    bounded(lambda: _mk_gen(cat, spark, "del-000001", 2, now - 61 * DAY))
    bounded(lambda: _mk_gen(cat, spark, "del-000002", 1, now - DAY))
    cat.put_alias("del", "del-000001", "del-000002")
    policy = {"policy": {"phases": {"delete": {"min_age": "60d", "actions": {"delete": {}}}}}}
    monkeypatch.setattr(json, "dump", dying_dump)
    with pytest.raises(OSError, match="disk full"):
        bounded(lambda: apply_lifecycle(cat, "del", policy, now=now))
    monkeypatch.undo()
    assert cat._read_aliases() == {"del": ["del-000001", "del-000002"]}
    assert bounded(lambda: apply_lifecycle(cat, "del", policy, now=now)) == [
        {"index": "del-000001", "phase": "delete", "action": "delete"}
    ]
    assert cat._read_aliases() == {"del": ["del-000002"]}
    assert not cat.exists("del-000001")


def test_empty_delete_phase_rejected():
    with pytest.raises(IlmError, match="delete phase must declare"):
        validate_policy({"policy": {"phases": {
            "delete": {"min_age": "60d", "actions": {}}}}})
    with pytest.raises(IlmError, match="delete phase must declare"):
        validate_policy({"policy": {"phases": {"delete": {"min_age": "60d"}}}})


def test_skipped_phase_actions_still_run(cat, spark, tmp_path):
    # a generation first ticked at cold age must forcemerge (warm) BEFORE
    # its searchable snapshot — ES walks phases sequentially
    now = 1_000_000_000.0
    _mk_gen(cat, spark, "jump-000001", 5, now - 35 * DAY)
    _mk_gen(cat, spark, "jump-000002", 1, now - DAY)
    cat.put_alias("jump", "jump-000001", "jump-000002")
    policy = make_policy(str(tmp_path / "snaprepo"))
    actions = apply_lifecycle(cat, "jump", policy, now=now)
    kinds = [(a["phase"], a["action"]) for a in actions if a["index"] == "jump-000001"]
    assert kinds.index(("warm", "forcemerge")) < kinds.index(
        ("cold", "searchable_snapshot")
    )
    assert cat.get_settings("jump-000001")["ilm_phase"] == "cold"
    # the snapshot is of the compacted index: one data file inside it
    snaps = cat.list_snapshots(str(tmp_path / "snaprepo"))
    assert any(s["snapshot"] == "ilm-cold-jump-000001" for s in snaps)


def test_rollover_honors_synthetic_now(cat, spark):
    now = 1_000_000_000.0
    _mk_gen(cat, spark, "age-000001", 1, now - 8 * DAY)
    cat.put_alias("age", "age-000001")
    policy = {"policy": {"phases": {
        "hot": {"actions": {"rollover": {"max_age": "7d"}}}}}}
    acts = apply_lifecycle(cat, "age", policy, now=now)
    assert acts and acts[0]["action"] == "rollover"
    # at a synthetic now BEFORE the age threshold nothing rolls —
    # deterministic regardless of the wall clock
    _mk_gen(cat, spark, "young-000001", 1, now - DAY)
    cat.put_alias("young", "young-000001")
    assert apply_lifecycle(cat, "young", policy, now=now) == []


def test_inverted_min_ages_rejected():
    with pytest.raises(IlmError, match="non-decreasing"):
        validate_policy({"policy": {"phases": {
            "warm": {"min_age": "30d", "actions": {"forcemerge": {}}},
            "cold": {"min_age": "10d",
                     "actions": {"searchable_snapshot":
                                 {"snapshot_repository": "r"}}},
        }}})
    # equal min_ages are legal (ES allows same-instant transitions)
    validate_policy({"policy": {"phases": {
        "warm": {"min_age": "10d", "actions": {"readonly": {}}},
        "cold": {"min_age": "10d",
                 "actions": {"searchable_snapshot":
                             {"snapshot_repository": "r"}}},
    }}})

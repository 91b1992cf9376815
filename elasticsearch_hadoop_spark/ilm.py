"""ILM — index lifecycle phases over catalog generations.

ES attaches an ILM policy to rollover-managed indices / data streams;
a background tick moves each backing index through phases by age and
runs the phase's actions:

    PUT _ilm/policy/logs
    {"policy": {"phases": {
        "hot":    {"actions": {"rollover": {"max_docs": 1000000,
                                            "max_age": "7d"}}},
        "warm":   {"min_age": "10d",
                   "actions": {"forcemerge": {"max_num_segments": 1},
                               "readonly": {}}},
        "cold":   {"min_age": "30d",
                   "actions": {"searchable_snapshot":
                                   {"snapshot_repository": "repo"}}},
        "delete": {"min_age": "60d", "actions": {"delete": {}}}
    }}}

Spark-first mapping (SURVEY.md §2.C catalog ops; upstream ILM is a
server-side scheduler — here the *tick* is an explicit, idempotent
library call the caller schedules however they like, e.g. per streaming
micro-batch or from a cron):

- ``hot.rollover``            -> ``catalog.rollover`` (the doc count the
  manifest records, no scan; age from the ``created_at`` setting)
- ``warm.forcemerge``         -> ``catalog.compact_index`` with
  ``max_num_segments`` target files (a REPLACE commit, writers unblocked)
- ``warm.readonly``           -> a ``readonly`` setting (documented subset:
  the catalog does not enforce it on write)
- ``cold.searchable_snapshot``-> ``catalog.snapshot_index`` into the
  policy's repository
- ``delete.delete``           -> detach from the alias + drop the index

Phase state is an index setting (``ilm_phase``), committed through
``catalog.put_settings`` like any settings change, so a re-tick is a
no-op for already-transitioned generations — the idempotence ES gets
from its step registry.  At 100 TB this is the whole point: every action
operates on ONE bounded generation (rollover bounds them), never the
whole stream.

Durations accept ES time units (``ms``, ``s``, ``m``, ``h``, ``d``) or a
bare number of seconds.  ``now`` is an explicit parameter everywhere so
ticks are deterministic and testable.
"""

from __future__ import annotations

import json
import os
import time

from elasticsearch_hadoop_spark.catalog import _write_json

_PHASE_ORDER = ["hot", "warm", "cold", "frozen", "delete"]


class IlmError(ValueError):
    pass


def parse_age(v) -> float:
    """ES duration string -> seconds (``"7d"``, ``"30m"``, ``"500ms"``,
    or a bare number of seconds)."""
    from elasticsearch_hadoop_spark.durations import parse_duration

    return parse_duration(v, IlmError)


_SUPPORTED_ACTIONS = {
    "hot": {"rollover", "set_priority"},
    "warm": {"forcemerge", "readonly", "set_priority"},
    "cold": {"searchable_snapshot", "readonly", "set_priority"},
    "frozen": {"searchable_snapshot"},
    "delete": {"delete"},
}


def validate_policy(policy: dict) -> dict:
    """Reject-don't-approximate: unknown phases/actions fail at
    declaration.  Returns the inner ``{"phases": ...}`` object."""
    body = policy.get("policy", policy)
    phases = body.get("phases")
    if not isinstance(phases, dict) or not phases:
        raise IlmError("policy needs a non-empty phases object")
    for ph, spec in phases.items():
        if ph not in _PHASE_ORDER:
            raise IlmError(f"unknown phase {ph!r} (known: {_PHASE_ORDER})")
        for act in (spec.get("actions") or {}):
            if act not in _SUPPORTED_ACTIONS[ph]:
                raise IlmError(
                    f"unsupported action {act!r} in phase {ph!r} "
                    f"(supported: {sorted(_SUPPORTED_ACTIONS[ph])})"
                )
        if ph != "hot" and "min_age" in spec:
            parse_age(spec["min_age"])
    # ES requires each phase's min_age >= every earlier phase's — an
    # inverted policy would make the sequential walk run actions of a
    # phase whose age threshold was never reached
    prev_age = 0.0
    for ph in _PHASE_ORDER[1:]:
        if ph not in phases:
            continue
        age = parse_age(phases[ph].get("min_age", 0))
        if age < prev_age:
            raise IlmError(
                f"phase {ph!r} min_age is below an earlier phase's — "
                "min_age must be non-decreasing through "
                f"{_PHASE_ORDER[1:]}"
            )
        prev_age = age
    for ph, spec in phases.items():
        if ph == "delete" and "delete" not in (spec.get("actions") or {}):
            raise IlmError(
                "delete phase must declare the delete action — an empty "
                "delete phase would otherwise be a silent index drop"
            )
        if ph == "cold" or ph == "frozen":
            ss = (spec.get("actions") or {}).get("searchable_snapshot")
            if ss is not None and "snapshot_repository" not in ss:
                raise IlmError("searchable_snapshot needs snapshot_repository")
    return body


def _policies_path(catalog) -> str:
    return os.path.join(catalog.root, "_ilm_policies.json")


def put_lifecycle(catalog, name: str, policy: dict) -> None:
    """``PUT _ilm/policy/<name>``."""
    validate_policy(policy)
    path = _policies_path(catalog)
    try:
        with open(path) as f:
            policies = json.load(f)
    except FileNotFoundError:
        policies = {}
    policies[name] = policy
    _write_json(path, policies)


def get_lifecycle(catalog, name: str) -> dict:
    try:
        with open(_policies_path(catalog)) as f:
            policies = json.load(f)
    except FileNotFoundError:
        policies = {}
    if name not in policies:
        raise IlmError(f"no such ILM policy {name!r}")
    return policies[name]


def _resolve_policy(catalog, policy) -> dict:
    if isinstance(policy, str):
        policy = get_lifecycle(catalog, policy)
    return validate_policy(policy)


def _backing_indices(catalog, target: str) -> list[str]:
    aliases = catalog._read_aliases()
    targets = aliases.get(target)
    if not targets:
        raise IlmError(f"{target!r} is not a managed alias/data stream")
    if isinstance(targets, dict):
        raise IlmError(f"{target!r} is a filtered alias; ILM needs plain")
    return list(targets)


def _index_age(catalog, idx: str, now: float) -> float:
    return now - catalog.get_settings(idx)["created_at"]


def _phase_for_age(phases: dict, age: float) -> str:
    """The highest declared phase whose min_age the index has reached
    (hot's min_age is implicitly 0)."""
    current = "hot"
    for ph in _PHASE_ORDER[1:]:
        if ph in phases and age >= parse_age(phases[ph].get("min_age", 0)):
            current = ph
    return current


def explain_lifecycle(catalog, target: str, policy, now: float | None = None):
    """``GET <target>/_ilm/explain``: per backing index — age, the phase
    its age puts it in, and the phase last applied by a tick."""
    phases = _resolve_policy(catalog, policy)["phases"]
    now = time.time() if now is None else now
    backing = _backing_indices(catalog, target)
    out = []
    for idx in backing:
        age = _index_age(catalog, idx, now)
        out.append(
            {
                "index": idx,
                "age_seconds": age,
                "phase": _phase_for_age(phases, age),
                "applied_phase": catalog.get_settings(idx).get("ilm_phase", "hot"),
                "is_write_index": idx == backing[-1],
            }
        )
    return out


def apply_lifecycle(catalog, target: str, policy, now: float | None = None):
    """One ILM tick over ``target``'s backing indices.  Returns the list
    of actions performed (empty = steady state).  Idempotent: each
    generation records its applied phase in index meta, so re-ticking
    does not re-compact or re-snapshot."""
    body = _resolve_policy(catalog, policy)
    phases = body["phases"]
    now = time.time() if now is None else now
    _backing_indices(catalog, target)  # validate before any action
    actions: list[dict] = []

    # hot: rollover check on the write index (manifest-recorded count)
    roll = (phases.get("hot", {}).get("actions") or {}).get("rollover")
    if roll:
        kwargs = {}
        if "max_docs" in roll:
            kwargs["max_docs"] = int(roll["max_docs"])
        if "max_age" in roll:
            kwargs["max_age_seconds"] = parse_age(roll["max_age"])
        if not kwargs:
            raise IlmError("hot.rollover needs max_docs and/or max_age")
        res = catalog.rollover(target, now=now, **kwargs)
        if res["rolled_over"]:
            actions.append(
                {"index": res["old_index"], "phase": "hot", "action": "rollover",
                 "new_index": res["new_index"]}
            )

    backing = _backing_indices(catalog, target)
    write_index = backing[-1]
    for idx in backing:
        if idx == write_index:
            continue  # only rolled-away generations move phases, like ES
        age = _index_age(catalog, idx, now)
        target_phase = _phase_for_age(phases, age)
        applied = catalog.get_settings(idx).get("ilm_phase", "hot")
        if _PHASE_ORDER.index(target_phase) <= _PHASE_ORDER.index(applied):
            continue
        # walk EVERY declared phase between the applied one and the
        # target, in order — ES moves sequentially, so a generation whose
        # age jumped past warm (e.g. the tick cron was down) still
        # forcemerges before its cold snapshot
        deleted = False
        for phase in _PHASE_ORDER[
            _PHASE_ORDER.index(applied) + 1: _PHASE_ORDER.index(target_phase) + 1
        ]:
            if phase not in phases:
                continue
            spec_actions = phases[phase].get("actions") or {}
            if phase == "delete":
                if "delete" not in spec_actions:
                    continue  # validate_policy rejects this, belt-and-braces
                remaining = _backing_indices(catalog, target)
                catalog.put_alias(target, *[t for t in remaining if t != idx])
                catalog.drop_index(idx)
                actions.append(
                    {"index": idx, "phase": "delete", "action": "delete"}
                )
                deleted = True
                break
            if "forcemerge" in spec_actions:
                n = int(spec_actions["forcemerge"].get("max_num_segments", 1))
                catalog.compact_index(idx, target_files=n)
                actions.append(
                    {"index": idx, "phase": phase, "action": "forcemerge",
                     "target_files": n}
                )
            if "searchable_snapshot" in spec_actions:
                repo = spec_actions["searchable_snapshot"]["snapshot_repository"]
                snap = f"ilm-{phase}-{idx}"
                catalog.snapshot_index(idx, repo, snap)
                actions.append(
                    {"index": idx, "phase": phase,
                     "action": "searchable_snapshot",
                     "repository": repo, "snapshot": snap}
                )
            stamp = {"ilm_phase": phase}
            if "readonly" in spec_actions:
                actions.append({"index": idx, "phase": phase, "action": "readonly"})
                stamp["readonly"] = True
            # record the transition: one settings commit on top of whatever
            # the actions above committed
            catalog.put_settings(idx, stamp)
        if deleted:
            continue
    return actions

"""Optimistic-concurrency commit log: the one commit protocol of every
managed index, and the one record of its metadata.

The reference engine tolerates concurrent bulk writers natively
(server-side versioning) and keeps index settings in cluster state.  This
module gives every Catalog write the same guarantees Spark-side, with the
protocol Delta/Iceberg use reduced to its core, so that no write ever
leaves a window with no index at the target and no concurrent write or
settings change silently vanishes:

- An index's live data is defined by a MANIFEST, not by directory listing.
  Version N's manifest lives at ``<index>/_txn/v{N:012d}.json`` and names
  the data directories (each written exactly once, under a uuid, never
  mutated) that make up the snapshot, plus the snapshot's schema, which
  readers pass to Spark instead of inferring it from parquet footers, its
  total row count ``rows``, which answers ``_count`` without a scan, and
  its ``settings`` (Delta's ``metaData`` action), which each commit
  carries forward from the snapshot it builds on or derives from them
  with a ``settings`` hook.  The log is the only index layout: an index
  exists once it holds a committed version, and nothing outside
  ``_txn``, ``_data`` and ``_stream`` is ever read.
- Committing version N+1 is ``open(v{N+1}.json, O_CREAT|O_EXCL)`` — an
  atomic claim on POSIX filesystems (and on object stores via
  put-if-absent).  Exactly one concurrent writer wins; losers re-read the
  new latest version and retry.
- APPEND commits retry trivially: the new data directory is already on
  disk, only the manifest union is recomputed — no data rewrite.  A
  settings change is an append of nothing.
- REPLACE commits (merge/upsert/delete-by-query rewrites) are
  read-modify-write: a lost race means the snapshot the rewrite was
  derived from is stale, so the caller's ``recompute`` hook re-runs the
  derivation against the new snapshot (the MERGE INTO retry loop).  A
  derivation that fails after the log moved past its snapshot lost the
  race too (the winner may have deleted the files it was reading), and
  re-runs the same way.

Readers resolve latest() and load exactly the manifest's directories —
a reader never sees a half-commit, because data directories are complete
before the manifest claim and are immutable afterwards.

Orphan data dirs from losing replace-writers or crashed jobs are invisible
(not in any manifest) and are swept by ``vacuum``.  The dirs a replace
commit supersedes either stay for time travel until ``vacuum`` sweeps
them, or are deleted as soon as the commit wins (``drop_superseded``,
which also prunes the manifests older than ``LOG_RETENTION_SECONDS``, so
the log stays short); the committer chooses.

At 100 TB the manifest lists directories (one per commit), not files, and
compaction is just a REPLACE commit whose recompute reads the union and
writes one directory.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import shutil
import time
import uuid

_TXN_DIR = "_txn"
_DATA_DIR = "_data"
_STREAM_DIR = "_stream"

# How long drop_superseded keeps a manifest after its successor was
# committed.  Pruning frees version slots that a stale writer could claim
# again; try_commit tells such a claim from a fresh one by the age of the
# versions above it (_filled_pruned_slot), which this window makes
# unmistakable.
LOG_RETENTION_SECONDS = 60.0


class CommitConflictError(RuntimeError):
    """A replace commit lost the version race more times than retries allow."""


def _txn_path(index_path: str) -> str:
    return os.path.join(index_path, _TXN_DIR)


def _version_file(index_path: str, version: int) -> str:
    return os.path.join(_txn_path(index_path), f"v{version:012d}.json")


def init_log(index_path: str) -> None:
    os.makedirs(_txn_path(index_path), exist_ok=True)
    os.makedirs(os.path.join(index_path, _DATA_DIR), exist_ok=True)


def has_commit(index_path: str) -> bool:
    """True once the log holds a committed version: the one definition of
    "an index exists".  An initialized log without a version — a first
    write that died before its claim — is no index yet."""
    return bool(_versions(index_path))


def discard_empty(index_path: str) -> None:
    """Remove the empty log init_log made for a first write that failed, so
    the failure leaves no index behind.  Only empty directories go, so a
    concurrent writer's manifest or data dir keeps the index."""
    for d in (_txn_path(index_path), os.path.join(index_path, _DATA_DIR), index_path):
        try:
            os.rmdir(d)
        except OSError:
            return


def latest(index_path: str) -> tuple[int, list[str]]:
    """(version, data dirs) of the newest committed manifest; (0, []) for a
    fresh log."""
    return snapshot(index_path)[:2]


def _versions(index_path: str) -> list[int]:
    """The committed versions the log holds, ascending."""
    try:
        names = os.listdir(_txn_path(index_path))
    except (FileNotFoundError, NotADirectoryError):  # no log, or no index dir
        return []
    return sorted(int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json"))


def _body_at(index_path: str, version: int | None = None) -> tuple[int, dict]:
    """(version, manifest body) of committed ``version``, by default the
    newest (re-listed if drop_superseded prunes it before the read); (0,
    {}) for version 0 and a fresh log.  KeyError for an uncommitted one."""
    while version is None:
        versions = _versions(index_path)
        if not versions:
            return 0, {}
        try:
            return versions[-1], manifest_body(index_path, versions[-1])
        except KeyError:
            continue
    return version, manifest_body(index_path, version) if version else {}


def _state(index_path: str, body: dict) -> tuple[list[str], dict | None, int, dict]:
    """(data dirs, schema, row count, settings) a manifest body records."""
    dirs = [os.path.join(index_path, _DATA_DIR, d) for d in body.get("dirs", [])]
    return dirs, body.get("schema"), body.get("rows", 0), body.get("settings", {})


def snapshot(
    index_path: str, version: int | None = None
) -> tuple[int, list[str], dict | None, int, dict]:
    """(version, data dirs, recorded schema, recorded row count, settings)
    of committed ``version``, by default the newest; (0, [], None, 0, {})
    for a fresh log.  The schema is the Spark StructType JSON the
    committer recorded in the manifest body, so all of them come from one
    snapshot.  A version file appears atomically with its full body
    (written to a private temp file, claimed via hard link — see
    try_commit), so whatever this lists is complete.
    Raises KeyError for an uncommitted explicit version (time travel — the
    Delta ``versionAsOf`` / ES point-in-time analogue; it works until
    vacuum sweeps the superseded dirs)."""
    version, body = _body_at(index_path, version)
    return (version, *_state(index_path, body))


def merge_settings(base: dict, changes: dict) -> dict:
    """``base`` with ``changes`` merged in; a None value removes its key
    (ES ``PUT _settings`` with a null value resets a setting)."""
    out = {**base, **changes}
    return {k: v for k, v in out.items() if v is not None}


def merge_schema_json(stored: dict | None, new: dict | None, last=()) -> dict | None:
    """Union two recorded schemas (Spark StructType JSON) BY FIELD NAME:
    ``stored`` fields keep their position and type (an ES mapping conflict
    keeps the first mapping), ``new`` fields append in their own order, and
    the fields named in ``last`` — partition columns, which a parquet read
    returns after the data columns — move to the end.  Either side may be
    None (nothing recorded yet)."""
    if not stored or not new:
        return stored or new
    fields = list(stored["fields"])
    seen = {f["name"] for f in fields}
    fields += [f for f in new["fields"] if f["name"] not in seen]
    fields.sort(key=lambda f: f["name"] in last)  # stable: only moves `last`
    return {**stored, "fields": fields}


def has_replace_commit(index_path: str) -> bool:
    """True if any commit so far was a replace commit (overwrite, merge
    rewrite, compaction) — the condition under which a file stream over
    the data pool would deliver duplicates.  Each manifest carries the
    answer as a running ``replaced`` flag (try_commit writes it), so this
    reads one manifest however long the log was before pruning."""
    return _body_at(index_path)[1].get("replaced", False)


def manifest_body(index_path: str, version: int) -> dict:
    """The raw manifest JSON of a committed version: its dirs, schema,
    row count, settings and the running ``replaced`` flag.  Raises
    KeyError for an uncommitted version."""
    path = _version_file(index_path, version)
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise KeyError(f"{index_path} has no committed version {version}") from None


def data_root(index_path: str) -> str:
    """The directory holding an index's immutable uuid data dirs."""
    return os.path.join(index_path, _DATA_DIR)


def new_data_dir(index_path: str) -> str:
    """A fresh, uniquely-named directory for one commit's data files."""
    name = uuid.uuid4().hex
    path = os.path.join(index_path, _DATA_DIR, name)
    os.makedirs(path, exist_ok=True)
    return path


def copy_dirs(dirs: list[str], index_path: str) -> list[str]:
    """Copy committed data dirs of another index into this one's pool under
    their own names; returns the copies.  Immutable once committed: a dir
    is copied at most once across the target's lifetime, incremental by
    design.  Each goes to a private temp name renamed into place, so a
    killed or concurrent copy never leaves a half-copied dir that a later
    one would treat as complete — "data dirs are complete before the
    manifest claim" must hold on the target too."""
    out = []
    for d in dirs:
        tgt = os.path.join(data_root(index_path), os.path.basename(d.rstrip("/")))
        if not os.path.isdir(tgt):
            tmp = f"{tgt}.tmp.{uuid.uuid4().hex[:8]}"
            shutil.copytree(d, tmp)
            try:
                os.rename(tmp, tgt)
            except OSError:
                # another copy renamed its copy first — identical content
                # (immutable source), drop ours
                shutil.rmtree(tmp, ignore_errors=True)
        out.append(tgt)
    return out


def try_commit(index_path: str, version: int, dirs: list[str], meta: dict | None = None) -> bool:
    """Atomically claim ``version``; True iff this writer won.  The body is
    fully written to a private temp file first, then published with
    ``os.link`` — hard-linking is atomic and fails with FileExistsError if
    another writer claimed the version, so a version file either does not
    exist or is complete (no reader can observe a half-written manifest;
    on an object store this maps onto put-if-absent).

    Every named data dir must still exist on disk: a writer whose job
    outlived the vacuum retention window must fail loudly here rather than
    publish a manifest pointing at swept data (a corrupted snapshot).  The
    check-then-link window is not airtight against a concurrent vacuum —
    size the retention window above the longest write job, the check turns
    a silent corruption into a crash for jobs that overrun it anyway.

    The manifest's running ``replaced`` flag is ``meta``'s ``replaced``
    (an append keeps the flag of the manifest it built on) or set by a
    ``replace`` claim above v1.

    A claim that lands in a version slot drop_superseded pruned is
    withdrawn and reported lost, like any lost race."""
    init_log(index_path)
    path = _version_file(index_path, version)
    if os.path.exists(path):  # cheap pre-check; the link below is the real claim
        return False
    names = [os.path.basename(d.rstrip("/")) for d in dirs]
    swept = [
        n for n in names if not os.path.isdir(os.path.join(index_path, _DATA_DIR, n))
    ]
    if swept:
        raise CommitConflictError(
            f"commit of {index_path} v{version} references data dirs that no "
            f"longer exist (vacuumed mid-write?): {swept}"
        )
    meta = meta or {}
    replaced = bool(meta.get("replaced")) or (bool(meta.get("replace")) and version > 1)
    body = {
        "version": version,
        "dirs": names,
        "ts": time.time(),
        **meta,
        "replaced": replaced,
    }
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(body, fh)
        fh.flush()
        os.fsync(fh.fileno())
    written = os.stat(tmp).st_mtime
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    if _filled_pruned_slot(index_path, version, written):
        # a newer snapshot is committed, so this one would never be read
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)
        return False
    # Stream-farm publication is best-effort AFTER the durable claim: a
    # failed publish must not report a committed write as failed (a retry
    # would append duplicates); the next commit and enable_streaming's
    # backfill re-publish it.  Replace commits beyond v1 never publish:
    # they would re-deliver every row to a running stream, and new streams
    # over such logs are refused (has_replace_commit).
    if (version == 1 or not meta.get("replace")) and os.path.isdir(
        stream_root(index_path)
    ):
        try:
            _publish_stream_dirs(index_path, names)
        except OSError as ex:
            import warnings

            warnings.warn(f"stream publish for {index_path} v{version} failed: {ex}")
    return True


def _mtime(path: str) -> float:
    try:
        return os.path.getmtime(path)
    except FileNotFoundError:
        return math.inf  # pruned since the listing


def _filled_pruned_slot(index_path: str, version: int, written: float) -> bool:
    """True when the just-linked ``version`` (its body written at
    ``written``) took the slot of a manifest drop_superseded pruned.  That
    pruning waits until the manifest's successor is LOG_RETENTION_SECONDS
    old and goes in version order, so such a slot always has a newer
    version far older than the claim; a fresh claim's successors are all
    written after it."""
    return any(
        _mtime(_version_file(index_path, v)) < written - LOG_RETENTION_SECONDS / 2
        for v in _versions(index_path)
        if v > version
    )


def stream_root(index_path: str) -> str:
    return os.path.join(index_path, _STREAM_DIR)


def _publish_stream_dirs(index_path: str, dir_names: list[str]) -> None:
    """Mirror committed data dirs into ``_stream/`` as hard-link farms.

    A file stream over ``_data/*`` would also deliver never-committed dirs
    (in-flight writers, crashed jobs) that vacuum later deletes, so stream
    and batch reads would diverge.  Streams glob ``_stream/*`` instead,
    which holds exactly the committed dirs.  Publication is idempotent
    (existing dirs are skipped) and atomic (built under a tmp name and
    renamed in; a racing publisher's rename loses and cleans up)."""
    sroot = stream_root(index_path)
    os.makedirs(sroot, exist_ok=True)
    for name in dir_names:
        src = os.path.join(index_path, _DATA_DIR, name)
        dst = os.path.join(sroot, name)
        if os.path.exists(dst) or not os.path.isdir(src):
            continue
        tmp = os.path.join(sroot, f".tmp-{name}-{uuid.uuid4().hex[:8]}")
        os.makedirs(tmp)
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            os.makedirs(os.path.join(tmp, rel), exist_ok=True)
            for f in files:
                try:
                    os.link(os.path.join(root, f), os.path.join(tmp, rel, f))
                except FileExistsError:
                    pass
        try:
            os.rename(tmp, dst)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)


def enable_streaming(index_path: str) -> str:
    """Create the ``_stream`` publish farm (making future commits publish
    into it) and backfill it from the latest manifest.  Returns the farm
    path.  The second pass catches a commit that raced the farm creation:
    such a commit's ``isdir(_stream)`` check may have run before the mkdir,
    but its manifest is visible to the re-read ``latest()``."""
    os.makedirs(stream_root(index_path), exist_ok=True)
    for _ in range(2):
        _, dirs = latest(index_path)
        _publish_stream_dirs(
            index_path, [os.path.basename(d.rstrip("/")) for d in dirs]
        )
    return stream_root(index_path)


def backoff(attempt: int) -> None:
    """The jittered sleep after lost claim ``attempt`` of a retry loop that
    re-claims without recomputing.  It keeps a heavily-contended log fair:
    without it a loser can starve, since every retry pays a listdir while
    winners immediately contend again."""
    time.sleep(random.random() * min(0.05, 0.001 * (attempt + 1)))


def commit_append(
    index_path: str,
    data_dir: str | None,
    *,
    rows: int,
    schema: dict | None = None,
    partition_cols=(),
    settings=None,
    max_retries: int = 500,
) -> int:
    """Publish ``data_dir``, which holds ``rows`` rows, as an append.  Lost
    races only re-read the manifest and re-claim — the data is already on
    disk, nothing recomputes.  Each attempt records the union of the
    winner's schema and ``schema`` (merge_schema_json), so concurrent
    appends of different new fields all stay visible, the winner's row
    count plus ``rows``, and the winner's settings as ``settings(base)``
    derives them (``base`` is None when the claim creates the index); the
    hook runs on every attempt, and what it raises aborts the commit.  A
    ``data_dir`` of None appends nothing (a settings change) and commits
    nothing if the settings come out unchanged.  A lost claim sleeps
    ``backoff`` before the next.  Returns the latest version afterwards."""
    for attempt in range(max_retries):
        version, body = _body_at(index_path)
        dirs, recorded, base_rows, base = _state(index_path, body)
        new = settings(base if version else None) if settings else base
        if data_dir is None and new == base:
            return version
        meta = {
            "schema": merge_schema_json(recorded, schema, partition_cols),
            "rows": base_rows + rows,
            "settings": new,
            "replaced": body.get("replaced", False),
        }
        if try_commit(index_path, version + 1, dirs + ([data_dir] if data_dir else []), meta=meta):
            return version + 1
        backoff(attempt)
    raise CommitConflictError(f"append to {index_path} lost {max_retries} races")


def commit_replace(
    index_path: str,
    base_version: int | None = None,
    data_dir: str | None = None,
    recompute=None,
    max_retries: int = 10,
    schema: dict | None = None,
    rows: int | None = None,
    settings=None,
) -> int:
    """Publish ``data_dir`` (whose recorded schema is ``schema`` and which
    holds ``rows`` rows) as the FULL new snapshot, valid only if the index
    is still at ``base_version``.  A ``data_dir`` of None commits an empty
    snapshot: no dirs, ``schema`` still recorded.  On a lost race the
    derivation is stale: ``recompute(new_snapshot_dirs,
    new_snapshot_schema, new_snapshot_rows) -> (new_data_dir, new_schema,
    new_rows)`` re-runs the caller's read-modify-write against the
    winner's snapshot (the optimistic MERGE INTO loop).  Without a
    recompute hook a conflict is an error.  With no ``base_version`` the
    first derivation runs here too: ``recompute`` on the latest snapshot.
    The commit records the base's settings as the ``settings`` hook
    derives them after the data; a raise there fails like a derivation.

    A ``recompute`` that raises after the log moved past the snapshot it
    read lost the race as well (a winner may have deleted the files it
    was reading, drop_superseded): it re-runs on the new snapshot, within
    the same ``max_retries``.  One that raises on a snapshot that is still
    the latest fails the commit with its own error."""
    version, error = base_version, None
    for _ in range(max_retries):
        derive = version is None
        try:
            # KeyError for a pruned explicit base: a newer version is committed
            version, body = _body_at(index_path, version)
            *state, base = _state(index_path, body)
            if derive:
                data_dir, schema, rows = recompute(*state)
            settings_now = settings(base if version else None) if settings else base
        except Exception as ex:
            if data_dir:
                shutil.rmtree(data_dir, ignore_errors=True)  # never committed
            if recompute is None or latest(index_path)[0] == version:
                raise
            version, data_dir, error = None, None, ex
            continue
        meta = {"replace": True, "schema": schema, "rows": rows, "settings": settings_now}
        if try_commit(index_path, version + 1, [data_dir] if data_dir else [], meta=meta):
            return version + 1
        if recompute is None:
            raise CommitConflictError(
                f"replace of {index_path} based on v{version} lost the race"
            )
        if data_dir:
            shutil.rmtree(data_dir, ignore_errors=True)  # never committed
        version, data_dir = None, None
    raise CommitConflictError(f"replace of {index_path} lost {max_retries} races") from error


def drop_superseded(index_path: str, version: int, dirs=()) -> None:
    """Delete the data ``dirs`` that committed ``version`` superseded, and
    the manifests before it whose successor is older than
    ``LOG_RETENTION_SECONDS``.  Only the writer that won ``version`` calls
    this, right after winning, with the dirs its snapshot replaced; later
    commits build on ``version``, so no newer manifest lists them.  A
    reader still scanning the superseded snapshot loses its files, and
    time travel to it ends — keep superseded dirs and ``vacuum`` them
    instead when either matters.  Pruning keeps the log, and so every
    ``snapshot`` listing, as short as the commits of the last window."""
    for d in dirs:
        _remove_data_dir(index_path, os.path.basename(d.rstrip("/")))
    now = time.time()
    versions = _versions(index_path)
    # version order, so the oldest version above a pruned slot is always
    # old enough for _filled_pruned_slot to see
    for old, succ in zip(versions, versions[1:]):
        if succ > version or now - _mtime(_version_file(index_path, succ)) < LOG_RETENTION_SECONDS:
            break
        with contextlib.suppress(FileNotFoundError):
            os.unlink(_version_file(index_path, old))


def _remove_data_dir(index_path: str, name: str) -> None:
    # mirror FIRST: if the sweep dies between the two deletes, a later
    # vacuum re-visits the name via the surviving _data dir — the other
    # order leaves a mirror no listdir(_data) pass would ever revisit,
    # permanently streaming rows no manifest references
    spath = os.path.join(stream_root(index_path), name)
    if os.path.isdir(spath):
        shutil.rmtree(spath, ignore_errors=True)
    shutil.rmtree(os.path.join(index_path, _DATA_DIR, name), ignore_errors=True)


def history(index_path: str) -> list[dict]:
    """Every committed version the log holds, newest first: version, commit
    ts, whether it was a replace, and how many data dirs it references."""
    out = []
    for v in reversed(_versions(index_path)):
        try:
            m = manifest_body(index_path, v)
        except KeyError:
            continue  # pruned since the listing
        out.append({"version": v, "ts": m.get("ts"), "replace": bool(m.get("replace")),
                    "n_dirs": len(m.get("dirs", []))})
    return out


def vacuum(index_path: str, min_age_seconds: float = 3600.0) -> list[str]:
    """Delete data directories not referenced by the LATEST manifest
    (losing writers, crashed jobs, superseded replace snapshots).

    ``min_age_seconds`` is the retention window (Delta VACUUM's).  A dir
    that WAS committed ages from the commit that superseded it, so a
    just-replaced snapshot stays readable for the whole window: the window
    is the time-travel horizon.  A dir no manifest ever referenced
    (in-flight writer, crashed job) ages from its own mtime; a writer whose
    job overruns the window loses its dir and its commit fails loudly
    (try_commit re-verifies every referenced dir), so size the window above
    the longest write job.  Pass 0 only when no writer can be active and no
    reader may hold an older manifest."""
    last_ref: dict[str, int] = {}
    manifest_mtime: dict[int, float] = {}
    for version in _versions(index_path):
        try:
            manifest_mtime[version] = os.path.getmtime(_version_file(index_path, version))
            body = manifest_body(index_path, version)
        except (OSError, KeyError):
            continue  # pruned since the listing
        for d in body.get("dirs", []):
            last_ref[d] = version

    _, live = latest(index_path)
    live_names = {os.path.basename(d.rstrip("/")) for d in live}
    removed = []
    now = time.time()
    data_root = os.path.join(index_path, _DATA_DIR)
    for name in os.listdir(data_root) if os.path.isdir(data_root) else []:
        if name in live_names:
            continue
        path = os.path.join(data_root, name)
        try:
            since = manifest_mtime.get(last_ref.get(name, -1) + 1) or os.path.getmtime(path)
        except OSError:
            continue
        if now - since >= min_age_seconds:
            _remove_data_dir(index_path, name)
            removed.append(name)
    # orphaned mirrors (their _data dir already gone — a crashed earlier
    # sweep): hard links keep the swept bytes alive until this runs
    sroot = stream_root(index_path)
    if os.path.isdir(sroot):
        data_names = set(os.listdir(data_root)) if os.path.isdir(data_root) else set()
        for name in os.listdir(sroot):
            p = os.path.join(sroot, name)
            if name.startswith(".tmp-"):
                # a crashed publisher's half-built link farm (the prefix
                # _publish_stream_dirs mints; other dot-entries are not
                # ours).  It ages from its NEWEST entry: a publisher still
                # linking into nested subdirs never touches the top dir.
                try:
                    newest = max([os.path.getmtime(p)] + [
                        os.path.getmtime(os.path.join(root, e))
                        for root, dirs, files in os.walk(p) for e in dirs + files
                    ])
                except OSError:
                    continue
                if now - newest >= min_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
            elif not name.startswith(".") and name not in data_names:
                shutil.rmtree(p, ignore_errors=True)
    return removed

"""Optimistic-concurrency commit log for managed indices.

The default Catalog commit is write-new-directory + atomic rename — correct
for a single writer, but two concurrent writers can interleave their swaps
and one writer's output silently vanishes.  The reference engine tolerates
concurrent bulk writers natively (server-side versioning); this module
closes that gap Spark-side with the same protocol Delta/Iceberg use,
reduced to its core:

- An index's live data is defined by a MANIFEST, not by directory listing.
  Version N's manifest lives at ``<index>/_txn/v{N:012d}.json`` and names
  the data directories (each written exactly once, under a uuid, never
  mutated) that make up the snapshot, plus the snapshot's schema, which
  readers pass to Spark instead of inferring it from parquet footers.
- Committing version N+1 is ``open(v{N+1}.json, O_CREAT|O_EXCL)`` — an
  atomic claim on POSIX filesystems (and on object stores via
  put-if-absent).  Exactly one concurrent writer wins; losers re-read the
  new latest version and retry.
- APPEND commits retry trivially: the new data directory is already on
  disk, only the manifest union is recomputed — no data rewrite.
- REPLACE commits (merge/upsert/delete-by-query rewrites) are
  read-modify-write: a lost race means the snapshot the rewrite was
  derived from is stale, so the caller's ``recompute`` hook re-runs the
  derivation against the new snapshot (the MERGE INTO retry loop).

Readers resolve latest() and load exactly the manifest's directories —
a reader never sees a half-commit, because data directories are complete
before the manifest claim and are immutable afterwards.

Orphan data dirs from losing replace-writers or crashed jobs are invisible
(not in any manifest) and are swept by ``vacuum``.

At 100 TB the manifest lists directories (one per commit), not files —
listing cost is O(commits), and compaction is just a REPLACE commit whose
recompute reads the union and writes one directory.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

_TXN_DIR = "_txn"
_DATA_DIR = "_data"
_STREAM_DIR = "_stream"


class CommitConflictError(RuntimeError):
    """A replace commit lost the version race more times than retries allow."""


def _txn_path(index_path: str) -> str:
    return os.path.join(index_path, _TXN_DIR)


def _version_file(index_path: str, version: int) -> str:
    return os.path.join(_txn_path(index_path), f"v{version:012d}.json")


def is_transactional(index_path: str) -> bool:
    return os.path.isdir(_txn_path(index_path))


def init_log(index_path: str) -> None:
    os.makedirs(_txn_path(index_path), exist_ok=True)
    os.makedirs(os.path.join(index_path, _DATA_DIR), exist_ok=True)


def adopt(index_path: str, schema: dict | None = None) -> bool:
    """Bring an index directory under the log, ADOPTING any pre-existing
    plain (non-transactional) data: existing entries move into a uuid data
    dir and are published with an append-union commit, so earlier writes
    stay readable instead of silently vanishing behind an empty manifest.
    A no-op on an already-transactional or fresh/missing directory.

    Concurrency: adoption races are survivable, not fatal.  If another
    writer claims a version first (a concurrent adopter, or a first
    transactional append that initialized the log mid-adoption), the
    adopted dir lands via the same manifest-union retry every append uses —
    the plain data is never orphaned behind someone else's v1.  Entries a
    concurrent adopter already moved are skipped (the competitor's commit
    carries them).  A crash between the renames and the commit leaves an
    uncommitted uuid dir, which vacuum's retention window preserves long
    enough for inspection; run adoption without concurrent PLAIN-mode
    readers (they would observe files mid-move).

    Runs on every transactional write (not just first conversion): stray
    plain entries in the root of an already-transactional index — the
    residue of a crashed adoption or a plain-mode writer racing the
    conversion — are swept into the log the same way, so they become
    readable instead of sitting invisible outside every manifest.
    ``schema`` is the plain data's recorded schema (the index ``_meta``
    record); the adoption commit unions it into the manifest's."""
    if not os.path.isdir(index_path):
        init_log(index_path)
        return False
    entries = [
        n
        for n in os.listdir(index_path)
        if n not in (_TXN_DIR, _DATA_DIR, _STREAM_DIR) and not n.startswith(".")
    ]
    init_log(index_path)
    if not entries:
        return False
    d = new_data_dir(index_path)
    moved = 0
    for n in entries:
        try:
            os.rename(os.path.join(index_path, n), os.path.join(d, n))
            moved += 1
        except FileNotFoundError:
            continue  # a concurrent adopter moved it; their commit carries it
    if not moved:
        shutil.rmtree(d, ignore_errors=True)
        return False
    commit_append(index_path, d, schema=schema)
    return True


def latest(index_path: str) -> tuple[int, list[str]]:
    """(version, data dirs) of the newest committed manifest; (0, []) for a
    fresh log."""
    return snapshot(index_path)[:2]


def snapshot(
    index_path: str, version: int | None = None
) -> tuple[int, list[str], dict | None]:
    """(version, data dirs, recorded schema) of committed ``version``, by
    default the newest; (0, [], None) for a fresh log.  The schema is the
    Spark StructType JSON the committer recorded in the manifest body, so
    dirs and schema always come from one snapshot.  A version file appears
    atomically with its full body (written to a private temp file, claimed
    via hard link — see try_commit), so whatever this lists is complete.
    Raises KeyError for an uncommitted explicit version (time travel — the
    Delta ``versionAsOf`` / ES point-in-time analogue; it works until
    vacuum sweeps the superseded dirs)."""
    if version is None:
        try:
            names = [
                n for n in os.listdir(_txn_path(index_path))
                if n.startswith("v") and n.endswith(".json")
            ]
        except FileNotFoundError:
            names = []
        if not names:
            return 0, [], None
        version = int(max(names)[1:-5])
    body = manifest_body(index_path, version)
    dirs = [os.path.join(index_path, _DATA_DIR, d) for d in body["dirs"]]
    return version, dirs, body.get("schema")


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
    """True if any manifest in the log was a replace commit (overwrite,
    merge rewrite, compaction) — the condition under which a file stream
    over the data pool would deliver duplicates."""
    tdir = _txn_path(index_path)
    try:
        names = [n for n in os.listdir(tdir) if n.startswith("v") and n.endswith(".json")]
    except FileNotFoundError:
        return False
    for n in sorted(names):
        if int(n[1:-5]) == 1:
            continue  # v1 "replace" is just index creation — nothing is replaced
        with open(os.path.join(tdir, n)) as fh:
            if json.load(fh).get("replace"):
                return True
    return False


def manifest_body(index_path: str, version: int) -> dict:
    """The raw manifest JSON of a committed version — includes any custom
    meta keys the committer attached (e.g. CCR's ccr_leader_version).
    Raises KeyError for an uncommitted version."""
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
    a silent corruption into a crash for jobs that overrun it anyway."""
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
    body = {
        "version": version,
        "dirs": names,
        "ts": time.time(),
        **(meta or {}),
    }
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(body, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    # Stream-farm publication is best-effort AFTER the durable claim: a
    # publish failure must not make a committed write report as failed
    # (the caller would retry and append duplicates).  A missed dir is
    # retried by the next commit (publication is idempotent over ALL
    # manifest dirs) and by enable_streaming's backfill.  Replace commits
    # beyond v1 (compaction, merge rewrites) never publish: their snapshot
    # would double-deliver every row to an already-running stream — new
    # streams over such logs are refused anyway (has_replace_commit).
    if (version == 1 or not (meta or {}).get("replace")) and os.path.isdir(
        stream_root(index_path)
    ):
        try:
            _publish_stream_dirs(index_path, names)
        except OSError as ex:
            import warnings

            warnings.warn(f"stream publish for {index_path} v{version} failed: {ex}")
    return True


def stream_root(index_path: str) -> str:
    return os.path.join(index_path, _STREAM_DIR)


def _publish_stream_dirs(index_path: str, dir_names: list[str]) -> None:
    """Mirror committed data dirs into ``_stream/`` as hard-link farms.

    A Structured Streaming file source over ``_data/*`` would deliver rows
    from never-committed directories (in-flight writers, crashed jobs,
    adoption losers) that no manifest references and vacuum will delete —
    stream and batch reads would permanently diverge.  Instead, commits
    publish each manifest-referenced dir here (hard links: atomic, free,
    same-filesystem) and streams glob ``_stream/*`` — they see exactly the
    committed set.  Publication is idempotent (existing dirs skipped, so a
    long append-only log only ever walks its newest dir) and atomic
    (built under a tmp name, renamed in; a racing publisher's rename loses
    with ENOTEMPTY and cleans up)."""
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


def commit_append(
    index_path: str,
    data_dir: str,
    max_retries: int = 500,
    schema: dict | None = None,
    partition_cols=(),
) -> int:
    """Publish ``data_dir`` as an append.  Lost races only re-read the
    manifest and re-claim — the data is already on disk, nothing recomputes.
    Each attempt records the union of the winner's schema and ``schema``
    (merge_schema_json), so concurrent appends of different new fields all
    stay visible.  Jittered backoff keeps a heavily-contended log fair
    (without it a loser can starve: every retry pays a listdir while
    winners immediately contend again).  Returns the committed version."""
    import random

    for attempt in range(max_retries):
        version, dirs, recorded = snapshot(index_path)
        merged = merge_schema_json(recorded, schema, partition_cols)
        if try_commit(index_path, version + 1, dirs + [data_dir], meta={"schema": merged}):
            return version + 1
        time.sleep(random.random() * min(0.05, 0.001 * (attempt + 1)))
    raise CommitConflictError(f"append to {index_path} lost {max_retries} races")


def commit_replace(
    index_path: str,
    base_version: int,
    data_dir: str,
    recompute=None,
    max_retries: int = 10,
    schema: dict | None = None,
) -> int:
    """Publish ``data_dir`` (whose recorded schema is ``schema``) as the
    FULL new snapshot, valid only if the index is still at
    ``base_version``.  On a lost race the derivation is stale:
    ``recompute(new_snapshot_dirs, new_snapshot_schema) -> (new_data_dir,
    new_schema)`` re-runs the caller's read-modify-write against the
    winner's snapshot (the optimistic MERGE INTO loop).  Without a
    recompute hook a conflict is an error."""
    version = base_version
    for _ in range(max_retries):
        if try_commit(
            index_path, version + 1, [data_dir], meta={"replace": True, "schema": schema}
        ):
            return version + 1
        if recompute is None:
            raise CommitConflictError(
                f"replace of {index_path} based on v{version} lost the race"
            )
        version, dirs, recorded = snapshot(index_path)
        stale, (data_dir, schema) = data_dir, recompute(dirs, recorded)
        shutil.rmtree(stale, ignore_errors=True)
    raise CommitConflictError(f"replace of {index_path} lost {max_retries} races")


def history(index_path: str) -> list[dict]:
    """Every committed version, newest first: version, commit ts, whether
    it was a replace, and how many data dirs it references."""
    tdir = _txn_path(index_path)
    try:
        names = [n for n in os.listdir(tdir) if n.startswith("v") and n.endswith(".json")]
    except FileNotFoundError:
        return []
    out = []
    for n in sorted(names, reverse=True):
        with open(os.path.join(tdir, n)) as fh:
            m = json.load(fh)
        out.append(
            {
                "version": m["version"],
                "ts": m.get("ts"),
                "replace": bool(m.get("replace")),
                "n_dirs": len(m.get("dirs", [])),
            }
        )
    return out


def vacuum(index_path: str, min_age_seconds: float = 3600.0) -> list[str]:
    """Delete data directories not referenced by the LATEST manifest
    (losing writers, crashed jobs, superseded replace snapshots).

    ``min_age_seconds`` is the retention window (Delta VACUUM's), counted
    from the moment a dir became unreachable:

    - a dir that WAS committed ages from the commit that superseded it
      (the first manifest after the last one referencing it) — a
      just-replaced snapshot stays readable for the full window even if
      its files are old, so the window really is the time-travel horizon;
    - a dir never referenced by any manifest (in-flight writer, crashed
      job) ages from its own mtime — a writer whose job finishes inside
      the window is safe; one that overruns it loses the dir and its
      commit then FAILS LOUDLY (try_commit re-verifies every referenced
      dir exists) instead of publishing a manifest over swept data.  Size
      the window above the longest write job.

    Pass 0 only when no writer can be active and no reader may hold an
    older manifest."""
    tdir = _txn_path(index_path)
    try:
        names = sorted(
            n for n in os.listdir(tdir) if n.startswith("v") and n.endswith(".json")
        )
    except FileNotFoundError:
        names = []
    last_ref: dict[str, int] = {}
    manifest_mtime: dict[int, float] = {}
    for n in names:
        version = int(n[1:-5])
        path = os.path.join(tdir, n)
        manifest_mtime[version] = os.path.getmtime(path)
        with open(path) as fh:
            for d in json.load(fh).get("dirs", []):
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
            if name in last_ref:
                unreachable_since = manifest_mtime.get(
                    last_ref[name] + 1, os.path.getmtime(path)
                )
            else:
                unreachable_since = os.path.getmtime(path)
            if now - unreachable_since < min_age_seconds:
                continue
        except OSError:
            continue
        # mirror FIRST: if the sweep dies between the two deletes, a later
        # vacuum re-visits the name via the surviving _data dir — the other
        # order leaves a mirror no listdir(_data) pass would ever revisit,
        # permanently streaming rows no manifest references
        spath = os.path.join(stream_root(index_path), name)
        if os.path.isdir(spath):
            shutil.rmtree(spath, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        removed.append(name)
    # orphaned mirrors (their _data dir already gone — a crashed earlier
    # sweep): hard links keep the swept bytes alive until this runs
    sroot = stream_root(index_path)
    if os.path.isdir(sroot):
        data_names = set(os.listdir(data_root)) if os.path.isdir(data_root) else set()
        for name in os.listdir(sroot):
            if name.startswith(".tmp-"):
                # a crashed publisher's half-built ".tmp-*" link farm
                # (the exact prefix _publish_stream_dirs mints — other
                # dot-entries are not ours to delete): streams never read
                # dotfiles, but the hard links keep swept bytes alive
                # forever — sweep farms that outlived the retention
                # window.  Age keys off the NEWEST entry inside the farm,
                # not the top dir's mtime: a publisher still linking into
                # nested subdirs never touches the top dir, so the
                # directory's own mtime would age an in-flight farm into
                # deletion mid-commit.
                p = os.path.join(sroot, name)
                try:
                    newest = os.path.getmtime(p)
                    for root, dirs, files in os.walk(p):
                        for entry in dirs + files:
                            newest = max(
                                newest,
                                os.path.getmtime(os.path.join(root, entry)),
                            )
                    if now - newest >= min_age_seconds:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
            elif not name.startswith(".") and name not in data_names:
                # foreign dot-entries are left alone: not ours to delete
                shutil.rmtree(os.path.join(sroot, name), ignore_errors=True)
    return removed

"""The "index" abstraction — reference-parity core (SURVEY.md §7 step 1).

The reference (elasticsearch-hadoop) plumbs Spark to Elasticsearch indices:
``EsSparkSQL.esDF(name, query)`` reads, ``df.saveToEs(name, cfg)`` writes
(SURVEY.md §3.1/§3.2; upstream ``spark/sql-20/.../sql/DefaultSource.scala``,
``mr/.../rest/RestRepository.java`` — path-level citations per SURVEY.md §0).
Here an *index* is a managed Parquet directory: Spark-native columnar storage
replaces the document store, and Catalyst replaces the connector's pushdown
planner (scan A1, projection A2, filter A3 are native; see SURVEY.md §2.A).

Parity map (reference op -> this module):

- A5 bulk sink w/ op types          -> ``write_index(operation=...)``
  (``index``/``create``/``update``/``upsert``/``delete`` — the ES ``_bulk``
  op types, ``es.write.operation`` in ConfigurationOptions.java)
- A6 id/routing extraction          -> ``id_col`` / ``routing_col`` become
  materialized ``_id`` / ``_routing`` columns (FieldExtractor parity)
- A7 dynamic index routing          -> ``index_pattern="logs-{field}"`` or
  ``"{field|date:yyyy-MM-dd}"`` -> ``_index`` column + ``partitionBy``
  (AbstractIndexExtractor / IndexFormatter parity)
- A8 schema discovery               -> every commit records the index
  schema (ES keeps the mapping in cluster state) and reads pass it to
  Spark; field include/exclude via ``fields=`` on read
  (es.read.field.include parity)
- A10 count                         -> ``count_index`` (``_count`` parity)
- A11 scripted upsert               -> ``on_match={"col": Column}`` Spark
  expressions instead of painless scripts (UpdateBulkFactory parity)
- SaveMode semantics (§3.2 step 1)  -> mode="append"/"overwrite" (truncate
  parity)/"error"/"ignore"
- ``_metadata`` column (§1.1)       -> ``read_index(metadata=True)`` adds a
  MapType(String,String) column with _id/_index (es.read.metadata parity)
- es.query on read (§2.B)           -> ``query=`` accepts the ES query-DSL
  JSON subset compiled by ``query_dsl.compile_query``

Scale notes (100 TB):
- Merge ops (update/upsert/delete/create-conflict-check) are hash joins on
  ``_id`` — the only shuffle is on the merge key, and the incoming batch is
  broadcast when small (Spark AQE decides).  Every commit goes through
  the ``txn.py`` manifest log: write a new immutable data directory, then
  claim the next manifest version (the Delta protocol's core), so
  concurrent writers retry instead of losing a write.  A production
  deployment swaps the commit layer for Delta/Iceberg ``MERGE INTO``
  (same join shape, finer-grained file rewrite); nothing above the
  commit changes.
- ``index_pattern`` routing writes with ``partitionBy(_index)`` -> Hive-style
  directory layout, so per-index reads are partition-pruned scans.
- Append never reads existing data: blind parquet append, no shuffle.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from elasticsearch_hadoop_spark import txn
from elasticsearch_hadoop_spark.durations import parse_duration
from elasticsearch_hadoop_spark.query_dsl import compile_query

# the settings that make an index a CCR follower (follow_index)
_CCR_KEYS = ("ccr_leader_root", "ccr_leader_index", "ccr_leader_version")

_PATTERN_RE = re.compile(r"\{([A-Za-z0-9_.]+)(\|date:([^}]+))?\}")

# Java SimpleDateFormat tokens used by the reference's IndexFormatter are a
# subset compatible with Spark's date_format patterns (yyyy MM dd HH mm ss).
VALID_OPERATIONS = ("index", "create", "update", "upsert", "delete")
VALID_MODES = ("append", "overwrite", "error", "ignore")


def _read_json(path: str, default=None):
    """The JSON document at ``path``; ``default`` (an empty dict) if none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {} if default is None else default


def _write_json(path: str, obj) -> None:
    """Replace the JSON file ``path`` atomically: write a unique temp file,
    then ``os.replace`` it over the target — a crash or a concurrent reader
    sees the old or the new document, never a torn one."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _written_schema(df: DataFrame, partition_cols: list[str]) -> dict:
    """The schema (StructType JSON) a read of ``df`` returns once written
    with ``partition_cols``: the frame's fields, partition columns last
    (the Hive layout moves them there)."""
    schema = df.schema.jsonValue()
    schema["fields"].sort(key=lambda f: f["name"] in partition_cols)
    return schema


class IndexExistsError(RuntimeError):
    """mode="error" target already exists (SaveMode.ErrorIfExists parity)."""


class IndexNotFoundError(ValueError):
    """ES 404 index_not_found_exception: an exact index/alias name does
    not exist.  Subclasses ValueError so pre-existing ``except
    ValueError`` handlers keep working; catch THIS type (not the message
    text) to branch on missing-index."""


class DocumentConflictError(RuntimeError):
    """operation="create" hit existing _ids (ES 409 version_conflict parity)."""


class DocumentMissingError(RuntimeError):
    """operation="update" for _ids not present (ES 404 on update parity)."""


class Catalog:
    """Managed parquet indices under a root directory.

    Every write commits through the optimistic-concurrency manifest log in
    ``txn.py`` (Delta-protocol core: immutable uuid data dirs + O_EXCL
    version-file claims), and the manifest is the index's whole metadata:
    schema, row count and settings (``get_settings``/``put_settings``).
    Concurrent blind appends always both land (manifest-union retry, no
    data rewrite); concurrent merge/upsert/delete_by_query rewrites retry
    their read-modify-write against the winner's snapshot — ES's
    server-side concurrent-bulk-writer semantics, re-expressed as a commit
    protocol (SURVEY.md §2.A A5).

    ``transactional`` decides only what happens to the snapshots a
    rewrite supersedes.  ``True`` keeps them until ``vacuum_index``, which
    time travel (``read_index_version``), points in time and CCR
    followers need.  ``False`` deletes their data dirs as soon as the
    rewrite commits, so storage stays at one live snapshot, and prunes the
    manifests older than ``txn.LOG_RETENTION_SECONDS``, so the log stays
    short.  An index exists once its first commit lands (``exists``): a
    first write that fails leaves no index behind, and every index,
    bucketed ones included, is read through its log."""

    def __init__(self, spark: SparkSession, root: str, transactional: bool = False):
        self.spark = spark
        self.root = root
        self.transactional = transactional
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- PIT state
    # The PIT registry is persisted under the root (like the alias map and
    # the watcher state) so a pit_id opened through one Catalog instance is
    # readable through ANY instance over the same root within keep_alive —
    # ES's server-side PIT locality, not per-client state.
    def _pits_path(self) -> str:
        return os.path.join(self.root, "_pits.json")

    def _read_pits(self) -> dict:
        return _read_json(self._pits_path(), {"seq": 0, "pits": {}})

    def _mutate_pits(self, fn):
        """Run ``fn(state) -> (result, dirty)`` under an O_EXCL lock file
        so concurrent Catalog instances can't mint duplicate seq nonces or
        lose each other's open/extend/close updates; the write happens
        only when ``fn`` reports dirty, via atomic-replace.

        Unlike the txn layer's claim files (one-shot version claims that
        are never released), a mutex must recover from a dead holder: a
        lock older than ~5 s is broken as stale — registry mutations are
        milliseconds, so an old lock means its holder was killed
        mid-operation.  The break has a narrow TOCTOU window (two
        breakers racing a fresh re-acquire) accepted as a documented
        tradeoff: the alternative is pid-liveness probing for a registry
        whose entries are themselves keep-alive-expiring hints."""
        import time as _time

        lock = f"{self._pits_path()}.lock"
        for _ in range(500):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    if _time.time() - os.path.getmtime(lock) > 5.0:
                        os.unlink(lock)  # stale: holder died mid-operation
                        continue
                except FileNotFoundError:
                    continue  # released (or another breaker won): retry now
                _time.sleep(0.01)
        else:
            raise TimeoutError(f"could not acquire PIT registry lock {lock}")
        try:
            state = self._read_pits()
            result, dirty = fn(state)
            if dirty:
                _write_json(self._pits_path(), state)
            return result
        finally:
            try:
                # unlink only OUR lock: if we stalled >5 s and a waiter
                # broke it and re-created the path, the inode differs —
                # removing the waiter's fresh lock would admit a third
                # mutator mid-mutation
                if os.fstat(fd).st_ino == os.stat(lock).st_ino:
                    os.unlink(lock)
            except FileNotFoundError:
                pass  # broken as stale while we stalled >5 s holding it
            finally:
                os.close(fd)

    # ---------------------------------------------------------------- paths
    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        # a directory whose first write died before committing is no index
        return txn.has_commit(self.path(name))

    def list_indices(self) -> list[str]:
        return sorted(d for d in os.listdir(self.root) if self.exists(d))

    def drop_index(self, name: str) -> None:
        shutil.rmtree(self.path(name), ignore_errors=True)

    # ------------------------------------------------------------- settings
    def get_settings(self, name: str) -> dict:
        """ES ``GET /<index>/_settings``: the settings the index's latest
        commit records (template pipeline and sort, ``mappings``,
        ``created_at``, ``index_pattern``, CCR leader, ILM phase)."""
        return txn.snapshot(self.path(self._one_index(name, "get_settings")))[4]

    def put_settings(self, name: str, changes: dict) -> None:
        """ES ``PUT /<index>/_settings``: merge ``changes`` (a None value
        removes a key) into the settings of the snapshot each claim builds
        on, as a commit of the same data retried like an append, so no
        concurrent write or settings change is undone."""
        path = self.path(self._one_index(name, "put_settings"))

        def merge(base: dict | None) -> dict:
            if base is None:  # dropped since it was resolved
                raise IndexNotFoundError(f"no such index: {name!r}")
            return txn.merge_settings(base, changes)

        self._retire(path, txn.commit_append(path, None, rows=0, settings=merge))

    # --------------------------------------------------------------- aliases
    def _aliases_path(self) -> str:
        return os.path.join(self.root, "_aliases.json")

    def _read_aliases(self) -> dict[str, list[str]]:
        return _read_json(self._aliases_path())

    def put_alias(
        self, alias: str, *indices: str, filter: str | dict | None = None
    ) -> None:
        """ES alias parity: an alias names one or more indices; reads
        through the alias union them (exactly like a comma-list resource).
        Re-pointing an alias is atomic (single JSON rewrite), which is the
        ES blue/green reindex idiom (`_aliases` swap).

        ``filter``: ES FILTERED alias — a query-DSL body applied to every
        read through the alias (the tenant-view idiom); it compiles to a
        Column predicate at read time, so it pushes down into each target
        scan like any query."""
        if not indices:
            raise ValueError("alias needs at least one index")
        for n in indices:
            if not self.exists(n):
                raise ValueError(f"alias target {n!r} does not exist")
        aliases = self._read_aliases()
        if filter is not None:
            if isinstance(filter, str):
                filter = json.loads(filter)
            compile_query(filter)  # fail at declaration, not first read
            aliases[alias] = {"indices": list(indices), "filter": filter}
        else:
            aliases[alias] = list(indices)
        _write_json(self._aliases_path(), aliases)

    @staticmethod
    def _alias_entry(aliases: dict, part: str) -> tuple[list[str], dict | None]:
        v = aliases[part]
        if isinstance(v, dict):
            return list(v.get("indices", [])), v.get("filter")
        return list(v), None

    def delete_alias(self, alias: str) -> None:
        aliases = self._read_aliases()
        aliases.pop(alias, None)
        _write_json(self._aliases_path(), aliases)

    def delete_by_query(self, name: str, query: str | dict) -> int:
        """_delete_by_query parity (the reference's SaveMode.Overwrite path
        truncates via delete-by-query — RestRepository truncate/delete, per
        SURVEY.md §3.2). Rewrites the index keeping only non-matching rows;
        returns the number deleted: the rewritten snapshot's recorded row
        count minus the rows the rewrite wrote.  One scan + one write, no
        driver-side row handling."""
        idx = self._one_index(name, "delete_by_query")
        pred = compile_query(query)

        base, kept, _ = self._commit_build(idx, [], lambda df: df.filter(~pred | pred.isNull()))
        return base - kept

    def stats_index(self, name: str) -> dict:
        """_stats parity: per-index doc count, store size in bytes, field
        names.  The doc count is the one the manifest records
        (count_index), the store size comes from the filesystem and the
        fields from the recorded schema; none of them scans rows."""
        out: dict[str, dict] = {}
        for idx in self.resolve_pattern(name):
            path = self.path(idx)
            size = 0
            for root, _dirs, files in os.walk(path):
                size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            out[idx] = {
                "doc_count": self.count_index(idx),
                "store_bytes": size,
                "fields": self._read_files(idx).columns,
            }
        return out

    def update_by_query(
        self, name: str, query: str | dict, set_exprs: dict[str, Column]
    ) -> int:
        """_update_by_query parity: apply ``set_exprs`` (column -> Column
        expression over the existing row, the painless-script analogue) to
        every document matching ``query``; returns the match count.  One
        scan + one rewrite — the non-matching rows pass through untouched,
        no row-at-a-time path."""
        idx = self._one_index(name, "update_by_query")
        pred = compile_query(query)
        # matched count rides the rewrite job as an Observation metric on
        # the PRE-update rows (pred must see the old values) — previously a
        # separate full-scan count job ran before the rewrite.  Fresh
        # Observation per build invocation (a lost commit race re-invokes).
        obs: list[Observation] = []

        def build(df: DataFrame) -> DataFrame:
            o = Observation()
            obs.append(o)
            out = df.observe(o, F.count(F.when(pred, F.lit(1))).alias("n"))
            for col_name, expr in set_exprs.items():
                out = out.withColumn(
                    col_name, F.when(pred, expr).otherwise(F.col(col_name))
                )
            return out

        self._commit_build(idx, [], build)
        return obs[-1].get["n"]

    def reindex(
        self,
        source: str,
        dest: str,
        query: str | dict | None = None,
        transform=None,
        mode: str = "overwrite",
        id_col: str | None = None,
    ) -> int:
        """_reindex parity: copy ``source`` (any resource pattern — comma
        lists, wildcards, aliases) into ``dest``, optionally filtered by a
        query-DSL ``query`` and reshaped by ``transform`` (DataFrame ->
        DataFrame — the ingest-pipeline analogue, A12: transformations are
        just DataFrame ops pre-write).  Returns the number of documents
        written.  Composes scan pushdown + the bulk write path; the typical
        blue/green flow is reindex -> put_alias swap."""
        df = self.read_index(source, query=query)
        if transform is not None:
            df = transform(df)
        self.write_index(df, dest, mode=mode, id_col=id_col)
        return self.count_index(dest)

    # -------------------------------------------------------------- rollover
    def rollover(
        self,
        alias: str,
        max_docs: int | None = None,
        max_age_seconds: float | None = None,
        dry_run: bool = False,
        now: float | None = None,
    ) -> dict:
        """ES `_rollover`: when the alias's WRITE index (its last target)
        meets any condition, create the next generation (``name-000002``
        style) and atomically extend the alias.  Reads through the alias
        keep seeing every generation (alias union); writes via
        ``write_alias`` land in the newest.  The doc-count condition reads
        the count the write index's manifest records (count_index) — no
        scan; age comes from the ``created_at`` setting every index's first
        commit records.

        This is the time-partitioning idiom at 100 TB: generations bound
        per-index size so compaction/vacuum/Z-order work on bounded
        units, and pattern reads prune whole generations."""
        aliases = self._read_aliases()
        targets = aliases.get(alias)
        if not targets:
            raise ValueError(f"rollover: alias {alias!r} does not exist")
        if isinstance(targets, dict):
            # ES likewise refuses: a write/rollover alias must be plain
            raise ValueError(f"rollover: alias {alias!r} is filtered; rollover needs a plain alias")
        current = targets[-1]
        m = re.match(r"^(.*)-(\d{6})$", current)
        if not m:
            raise ValueError(
                f"rollover: write index {current!r} must end in -NNNNNN"
            )
        conditions: dict[str, bool] = {}
        docs = self.count_index(current)
        if max_docs is not None:
            conditions["max_docs"] = docs >= max_docs
        if max_age_seconds is not None:
            created = self.get_settings(current)["created_at"]
            # `now` makes age checks deterministic for testable ILM ticks
            ref = time.time() if now is None else now
            conditions["max_age"] = (ref - created) >= max_age_seconds
        if not conditions:
            raise ValueError("rollover needs max_docs and/or max_age_seconds")
        rolled = any(conditions.values())
        new_index = f"{m.group(1)}-{int(m.group(2)) + 1:06d}"
        if rolled and not dry_run:
            # a rollover that died before re-pointing the alias already
            # committed the next generation: only the alias step remains
            if not self.exists(new_index):
                # the old generation's recorded schema: no Spark job
                self._create_empty_index(new_index, self._read_files(current).schema)
            aliases[alias] = [*targets, new_index]
            _write_json(self._aliases_path(), aliases)
        return {
            "rolled_over": rolled and not dry_run,
            "dry_run": dry_run,
            "old_index": current,
            "new_index": new_index if rolled else None,
            "conditions": conditions,
            "docs": docs,
        }

    def _create_empty_index(self, name: str, schema) -> None:
        """Create an index as pure METADATA — a manifest that lists no
        data dirs and records the Spark schema — exactly like ES, where
        index creation touches no data nodes' segments.  Reads return 0
        rows with the recorded schema.  Index templates resolve here like
        any new-index creation (write_index parity)."""
        txn.commit_replace(
            self.path(name), 0, None, schema=schema.jsonValue(), rows=0,
            settings=self._settings_hook(name, self._template_settings(name)),
        )

    def _template_settings(self, name: str) -> dict:
        """What a new index keeps in its settings from the highest-priority
        matching index template (composed_of merged in): its
        ``default_pipeline``, ``index_sort`` and ``mappings``."""
        tpl = self._match_template(name)
        if tpl is None:
            return {}
        t = self._resolve_template(tpl)
        settings = t.get("settings") or {}
        out = {
            "default_pipeline": settings.get("index.default_pipeline")
            or settings.get("default_pipeline"),
            "index_sort": settings.get("index.sort.field") or settings.get("sort.field"),
            "mappings": t.get("mappings"),
        }
        return {k: v for k, v in out.items() if v}

    def write_alias(self, df: DataFrame, alias: str, **kwargs) -> None:
        """Write through a rollover alias: documents land in the alias's
        WRITE index (its newest target)."""
        targets = self._read_aliases().get(alias)
        if not targets:
            raise ValueError(f"write_alias: alias {alias!r} does not exist")
        if isinstance(targets, dict):
            raise ValueError(
                f"write_alias: alias {alias!r} is filtered; writes need a plain alias"
            )
        self.write_index(df, targets[-1], **kwargs)

    # ---------------------------------------------------------------- write
    def write_index(
        self,
        df: DataFrame,
        name: str,
        mode: str = "append",
        operation: str = "index",
        id_col: str | None = None,
        routing_col: str | None = None,
        index_pattern: str | None = None,
        on_match: dict[str, Column] | None = None,
        max_records_per_file: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bounds: dict[str, tuple[float, float]] | None = None,
    ) -> None:
        """Write ``df`` into index ``name`` (saveToEs parity, SURVEY.md §3.2).

        ``operation`` mirrors es.write.operation: ``index`` = last-write-wins
        on ``_id`` (requires id_col to dedupe within+against the target;
        without id_col it is a plain append), ``create`` = insert-only
        (conflict -> DocumentConflictError), ``update`` = change existing
        only (missing -> DocumentMissingError), ``upsert`` = update-or-
        insert, ``delete`` = remove matching ``_id``s.  ``on_match`` maps
        column -> Column expression applied to matched rows (scripted-update
        parity, A11): expressions see the existing row's columns plus the
        incoming row's values prefixed ``_new_``.  Stored duplicates of an
        ``_id`` (blind appends never dedupe) fare differently by shape: a
        scripted update (``on_match``) rewrites and keeps EVERY stored copy
        of a matched ``_id``, while a whole-document write (``index``,
        ``upsert`` or ``update`` without ``on_match``) collapses them to
        the one incoming document.  ``max_records_per_file``
        bounds output file sizes (the bulk-batch-size analogue at the
        storage layer; SCALE.md knobs) — essential when a partitionBy key
        concentrates rows.  ``sort_by`` sorts rows within each output task
        before writing: parquet row-group min/max stats on the sorted
        columns become tight, so later range filters skip whole row groups
        (the poor-man's clustering key; at 100 TB this is the difference
        between scanning a time range and scanning the table).
        """
        if mode not in VALID_MODES:
            raise ValueError(f"mode must be one of {VALID_MODES}, got {mode!r}")
        if operation not in VALID_OPERATIONS:
            raise ValueError(f"operation must be one of {VALID_OPERATIONS}, got {operation!r}")
        if operation in ("update", "upsert", "delete") and id_col is None:
            raise ValueError(f"operation={operation!r} requires id_col")

        # a directory whose first write died before committing is not an
        # index yet: the retry creates it (template, mode="error")
        version, *_, settings = txn.snapshot(self.path(name))
        existed = bool(version)
        if existed and mode == "error":
            raise IndexExistsError(name)
        if existed and mode == "ignore":
            return
        # index templates (ES _index_template): a NEW index resolves the
        # highest-priority matching template at creation and records the
        # resolved index.default_pipeline / index.sort in its first
        # commit's settings; every later write re-reads them and applies
        # them again — in ES, index.default_pipeline runs on EVERY indexing
        # request to the index, not just the first batch (ADVICE r4).
        created = None if existed else self._template_settings(name)
        settings = settings if existed else created
        if existed:
            # belt: the commit layer re-checks, but failing before the
            # ingest pipeline / sort work is the better error surface.
            # AFTER the mode=="ignore" return — SaveMode.Ignore against a
            # CCR follower is the documented no-op, not an error (r8 advice)
            self._assert_not_follower(name, settings)
        pipeline_name = settings.get("default_pipeline")
        sort_field = settings.get("index_sort")
        if pipeline_name:
            from elasticsearch_hadoop_spark.ingest import compile_pipeline

            df = compile_pipeline(self.get_pipeline(pipeline_name))(df)
        if sort_field and not sort_by and not zorder_by:
            sort_by = sort_field if isinstance(sort_field, list) else [sort_field]

        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        out = df
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)

        # multi-dimensional clustering: every output file covers a small
        # hyper-rectangle of the zorder_by columns, so range filters on
        # ANY of them skip whole files/row-groups (operators/zorder.py —
        # the multi-column upgrade of sort_by's single-column stats).
        # Applied to the FINAL written frame: clustering the incoming
        # batch before a merge would be destroyed by the merge's joins.
        def cluster(frame: DataFrame) -> DataFrame:
            if not zorder_by:
                return frame
            from elasticsearch_hadoop_spark.operators.zorder import zorder

            # zorder_bounds skips the operator's own (min, max) scan when the
            # caller already computed covering bounds (one scan instead of two)
            return zorder(frame, zorder_by, bounds=zorder_bounds)
        if id_col is not None:
            out = out.withColumn("_id", F.col(id_col).cast("string"))
        if routing_col is not None:
            out = out.withColumn("_routing", F.col(routing_col).cast("string"))
        if index_pattern is not None:
            out = out.withColumn("_index", format_index_pattern(index_pattern))

        partition_cols = ["_index"] if index_pattern is not None else []
        # compact_index and shrink/split keep the Hive layout it records
        commit = {"created": created, "changes": {"index_pattern": index_pattern}}

        if id_col is None and (mode == "overwrite" or not self.exists(name)):
            # truncate-then-write parity; also the create path
            self._commit_build(
                name, partition_cols, lambda _existing: cluster(out),
                max_records_per_file=max_records_per_file, needs_existing=False, **commit,
            )
        elif id_col is None and operation == "index":
            # plain append, no identity: blind parquet append, no read,
            # published via manifest-union retry — concurrent appends
            # both land, no data rewrite on a race.
            self._append_files(cluster(out), name, partition_cols, max_records_per_file, **commit)
        else:
            checks: list = []

            def merge_build(existing: DataFrame | None) -> DataFrame:
                if existing is None:
                    # a new index, an overwrite, or a directory without a
                    # commit (a first write that died after init_log)
                    # merges against an empty snapshot, so the batch still
                    # dedupes on _id and keeps its operation's contract
                    existing = self.spark.createDataFrame([], out.schema)
                return self._merge(existing, out, operation, on_match, checks, cluster)

            self._commit_build(
                name,
                partition_cols,
                merge_build,
                max_records_per_file=max_records_per_file,
                needs_existing=mode != "overwrite",
                # update's missing-_id contract is enforced from the merge
                # job's own Observation metrics (zero extra scans), AFTER
                # the build wrote but BEFORE the commit publishes, so a
                # failure leaves the index untouched.  checks[-1] is the
                # latest build's closure (a lost race re-invokes build).
                validate=(lambda: checks[-1]()) if operation == "update" else None,
                **commit,
            )

    def _merge(
        self,
        existing: DataFrame,
        incoming: DataFrame,
        operation: str,
        on_match: dict[str, Column] | None,
        checks: list,
        layout,
    ) -> DataFrame:
        """Hash-join merge on _id.  Incoming batch is usually the small side
        -> AQE broadcasts it; existing data shuffles at most once on _id.
        ``existing`` is the snapshot the commit layer resolved — a lost
        commit race re-invokes this against the winner's snapshot
        (optimistic MERGE INTO).  ``layout(frame)`` arranges the merged
        rows for the write (write_index's z-order clustering).

        ``operation="update"``'s missing-_id check rides the merge job
        itself: the incoming ids no existing row matches travel up the
        merge and through ``layout`` as marked rows, an Observation above
        them counts them, and a filter above it drops them.  Nothing but
        the write sits above that Observation, so no optimizer rewrite can
        prune it: one placed under a join that turns out empty, under a
        constant-false filter, or under the range shuffle of a z-order
        whose stage comes out empty, is removed with that subtree and
        never reports.  The appended ``checks`` closure (run by the commit
        layer post-write, pre-publish) raises DocumentMissingError from
        the count."""
        # last occurrence wins within the incoming batch (bulk-order parity)
        w_id = incoming
        if operation != "delete":
            w_id = dedupe_last(incoming, "_id")

        if operation == "delete":
            ids = w_id.select("_id").distinct()
            return layout(existing.join(ids, on="_id", how="left_anti"))

        if operation == "create":
            conflicts = w_id.join(existing.select("_id"), on="_id", how="left_semi")
            n = conflicts.limit(1).count()
            if n:
                some = [r["_id"] for r in conflicts.select("_id").limit(5).collect()]
                raise DocumentConflictError(f"create conflicts on _id, e.g. {some}")
            return layout(existing.unionByName(w_id, allowMissingColumns=True))

        # the incoming documents no stored row has
        absent = w_id.join(existing.select("_id"), on="_id", how="left_anti")
        # update marks every row to write with __found = TRUE and carries
        # each absent incoming _id as a row with __found NULL
        found = F.lit(True).alias("__found")
        untouched = existing.join(w_id.select("_id"), on="_id", how="left_anti")
        if on_match:
            # scripted update (A11): matched rows = existing row + _new_* cols
            new_side = w_id.select(
                F.col("_id"), *[F.col(c).alias(f"_new_{c}") for c in w_id.columns if c != "_id"]
            )
            matched = existing.join(new_side, on="_id", how="inner")
            for col_name, expr in on_match.items():
                matched = matched.withColumn(col_name, expr)
            result = untouched.unionByName(matched.select(existing.columns))
            if operation == "upsert":
                return layout(result.unionByName(absent, allowMissingColumns=True))
            marked = result.select("*", found).unionByName(
                absent.select("_id"), allowMissingColumns=True
            )
        elif operation != "update":
            # whole-document index / upsert: all incoming docs land
            return layout(untouched.unionByName(w_id, allowMissingColumns=True))
        else:
            # whole-document update: the presence marker's left join keeps
            # the absent ids; duplicate _ids in `existing` (blind appends)
            # fan it out, so collapse to ONE replacement per incoming doc —
            # the copies are identical rows
            replacements = w_id.join(
                existing.select("_id", found), on="_id", how="left"
            ).dropDuplicates(["_id"])
            marked = untouched.select("*", found).unionByName(
                replacements, allowMissingColumns=True
            )

        o_miss = Observation()

        def check():
            # example ids are fetched on the error path only
            n = o_miss.get["n"]
            if n:
                some = [r["_id"] for r in absent.select("_id").limit(5).collect()]
                raise DocumentMissingError(f"update for missing _id ({n} total), e.g. {some}")

        checks.append(check)
        return (
            layout(marked)
            .observe(o_miss, F.count_if(F.col("__found").isNull()).alias("n"))
            .filter(F.col("__found").isNotNull())
            .drop("__found")
        )

    @staticmethod
    def _write(
        df: DataFrame, path: str, partition_cols: list[str], max_records_per_file, bucketing=None
    ) -> int:
        """Write ``df`` as parquet under ``path`` and return how many rows
        it wrote.  The count is an Observation on the frame as written, so
        it rides the write job, and at the top of the plan no optimizer
        rewrite of ``df`` (a constant-false filter, a ``limit(0)``, a join
        with an empty side) can prune it: it always reports.  With
        ``bucketing`` = (table, num_buckets, bucket_cols, sort_cols) the
        files are bucketed, and the session catalog's ``table`` is
        re-pointed at ``path`` (write_bucketed)."""
        written = Observation()
        writer = df.observe(written, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        if bucketing is None:
            writer.parquet(path)
        else:
            table, num_buckets, bucket_cols, sort_cols = bucketing
            writer = writer.option("path", path).bucketBy(num_buckets, *bucket_cols)
            (writer.sortBy(*sort_cols) if sort_cols else writer).saveAsTable(table, format="parquet")
        return written.get["n"]

    @staticmethod
    def _assert_not_follower(name: str, settings: dict) -> None:
        """ES: a CCR follower index rejects every write/rewrite until
        unfollowed.  Enforced at the commit layer (_settings_hook), so no
        rewrite can mutate a follower (the next ccr_poll would discard it)."""
        if "ccr_leader_root" in settings:
            raise ValueError(
                f"{name!r} is a CCR follower (read-only) — unfollow_index first"
            )

    def _refuse_follower(self, name: str) -> bool:
        """Refuse a write to a CCR follower before it runs any job (the
        settings hook re-checks the snapshot each claim builds on); True
        when ``name`` has no commit yet, so the write creates it."""
        version, *_, settings = txn.snapshot(self.path(name))
        self._assert_not_follower(name, settings)
        return not version

    def _settings_hook(self, name: str, created: dict | None = None, changes: dict | None = None):
        """txn's ``settings`` hook for a data commit to ``name``: on the
        snapshot the claim builds on, refuse a CCR follower and merge in
        ``changes``; a claim that creates the index starts from ``created``
        and the creation time (unless ``created`` carries a source's)."""

        def derive(base: dict | None) -> dict:
            if base is None:
                base = {"created_at": time.time(), **(created or {})}
            else:
                self._assert_not_follower(name, base)
            return txn.merge_settings(base, changes or {})

        return derive

    def _commit_build(
        self,
        name: str,
        partition_cols: list[str],
        build,
        max_records_per_file: int | None = None,
        needs_existing: bool = True,
        validate=None,
        bucketing=None,
        created: dict | None = None,
        changes: dict | None = None,
    ) -> tuple[int, int, str]:
        """Derive-and-replace commit: ``build(existing_df_or_None)`` returns
        the index's new full contents.  The result goes to an immutable
        uuid data dir (written by ``_write``, with its ``bucketing``), and
        the next manifest version, which records the schema
        (``_written_schema``) and row count of what was written, is claimed
        over it.  If another writer won the race, ``build`` re-runs against
        the winner's snapshot and the claim is retried
        (txn.commit_replace's optimistic loop); so does a build that fails
        after another writer committed, whose retention may have deleted
        the snapshot the build was reading.  ``build`` gets None when the
        index has no committed version yet or ``needs_existing`` is false.
        Settings come from ``_settings_hook(name, created, changes)``, plus
        a bucketed write's ``bucketed_dir``.  Returns the row counts of the
        snapshot the commit replaced and of the one it wrote, and the
        committed data dir.

        ``validate`` (when given) runs after the build's write job finishes
        but BEFORE the result becomes visible (pre-publish) — the hook that
        lets contract checks ride the write job's own Observation metrics
        instead of paying a separate pre-check job; a raise aborts the
        commit with the index untouched."""
        target = self.path(name)
        fresh = self._refuse_follower(name)
        hook = self._settings_hook(name, created, changes)
        # (dirs, rows, written rows, written dir) of the latest attempt —
        # the committed one once commit_replace returns
        last: list = []

        def produce(dirs: list[str], schema: dict | None, rows: int):
            existing = (
                self._read_dirs(name, dirs, schema)
                if (needs_existing and schema is not None)
                else None
            )
            out = build(existing)
            d = txn.new_data_dir(target)
            try:
                n = self._write(out, d, partition_cols, max_records_per_file, bucketing)
                if validate is not None:
                    validate()
            except Exception:
                # uncommitted uuid dir: invisible to readers; drop it
                # eagerly rather than waiting for vacuum
                shutil.rmtree(d, ignore_errors=True)
                raise
            last[:] = [dirs, rows, n, d]
            return d, _written_schema(out, partition_cols), n

        def settings(base: dict | None) -> dict:
            bucketed = {"bucketed_dir": last[3]} if bucketing else {}
            return {**hook(base), **bucketed}

        try:
            version = txn.commit_replace(target, recompute=produce, settings=settings)
        except Exception:
            if fresh:
                txn.discard_empty(target)
            raise
        superseded, base_rows, rows, d = last
        self._retire(target, version, superseded)
        return base_rows, rows, d

    def _retire(self, target: str, version: int, superseded=()) -> None:
        """The retention decision after commit ``version``: a transactional
        catalog keeps the snapshot a replace commit superseded until
        vacuum_index (time travel, PITs, followers), and its whole log; any
        other deletes the ``superseded`` data dirs now and prunes old
        manifests, so storage holds one live snapshot and a short log."""
        if not self.transactional:
            txn.drop_superseded(target, version, superseded)

    def _append_files(
        self,
        df: DataFrame,
        name: str,
        partition_cols: list[str],
        max_records_per_file: int | None = None,
        created: dict | None = None,
        changes: dict | None = None,
    ) -> None:
        """Blind append: write a complete uuid data dir, then publish it
        with a manifest-union claim whose schema is the union of the
        index's and the frame's (txn.merge_schema_json) — a lost race
        retries only the (tiny) manifest write, never the data.  Settings
        as in ``_commit_build``."""
        fresh = self._refuse_follower(name)
        target = self.path(name)
        d = txn.new_data_dir(target)
        try:
            n = self._write(df, d, partition_cols, max_records_per_file)
            version = txn.commit_append(
                target, d, schema=_written_schema(df, partition_cols),
                partition_cols=partition_cols, rows=n,
                settings=self._settings_hook(name, created, changes),
            )
        except Exception:
            shutil.rmtree(d, ignore_errors=True)
            if fresh:
                txn.discard_empty(target)
            raise
        self._retire(target, version)

    def compact_index(self, name: str, target_files: int | None = None) -> None:
        """Compact an index's data into ``target_files`` files (default:
        session shuffle parallelism).  This is just a REPLACE commit whose
        build coalesces the union — concurrent appends that land
        mid-compaction win the race and the compaction retries over the
        enlarged snapshot, so nothing is lost.  The
        100 TB housekeeping op: manifest length and small-file count reset
        to O(1) without blocking writers."""
        idx = self._one_index(name, "compact_index")
        n = target_files or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        # preserve dynamic-routing Hive layout: a routed index compacted
        # flat would lose partition-pruned reads permanently
        partition_cols = ["_index"] if self.get_settings(idx).get("index_pattern") else []

        self._commit_build(idx, partition_cols, lambda df: df.coalesce(n))

    # ------------------------------------------------- shrink / split / clone
    def _data_file_count(self, name: str) -> int:
        """The index's LIVE parquet data-file count — the shard-count
        analogue (ES _shrink/_split arithmetic runs on primary shard
        counts; here a 'shard' is one parquet file, the parallel-read
        unit).  Only the latest manifest's dirs count: superseded versions
        retained for time travel are dead weight, not shards."""
        n = 0
        for r in txn.latest(self.path(name))[1]:
            for root, _dirs, files in os.walk(r):
                n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def _resize_index(
        self, source: str, target: str, target_shards: int, kind: str
    ) -> dict:
        src = self._one_index(source, f"_{kind}")
        if self.exists(target):
            raise IndexExistsError(f"target index {target!r} already exists")
        if target_shards < 1:
            raise ValueError(f"target shards must be >= 1, got {target_shards}")
        src_shards = max(1, self._data_file_count(src))
        if kind == "shrink" and src_shards % target_shards != 0:
            raise ValueError(
                f"_shrink target shard count {target_shards} must be a factor "
                f"of the source's {src_shards}"
            )
        if kind == "split" and target_shards % src_shards != 0:
            raise ValueError(
                f"_split target shard count {target_shards} must be a multiple "
                f"of the source's {src_shards}"
            )
        # read the RAW stored files (incl. materialized _id/_routing/
        # _index metadata columns — read_index would strip them) and write
        # the target directly: ES _shrink/_split copy segments verbatim,
        # so neither index templates, default pipelines, nor id dedupe may
        # touch the data (write_index would apply all three to a new
        # index).  The source contributes its LIVE manifest only.
        _, dirs, schema, _, settings = txn.snapshot(self.path(src))
        df = self._read_dirs(src, dirs, schema)
        # shrink merges without a shuffle (ES hard-links segments into
        # fewer shards); split re-hashes rows across more files
        out = df.coalesce(target_shards) if kind == "shrink" else df.repartition(target_shards)
        # preserve dynamic-routing Hive layout, like compact_index
        partition_cols = ["_index"] if settings.get("index_pattern") else []
        # ES copies index settings (minus shard count) to the target —
        # but NOT follower identity: a resize target is a regular index,
        # so the ccr_* keys are stripped (copying them would mint a target
        # that refuses all writes and that ccr_poll tries to sync; ES
        # likewise requires unfollow before resizing a follower).
        self._commit_build(
            target, partition_cols, lambda _: out, needs_existing=False,
            created=txn.merge_settings(settings, dict.fromkeys(_CCR_KEYS)),
        )
        return {
            "source": src,
            "target": target,
            "source_shards": src_shards,
            "target_shards": target_shards,
        }

    def shrink_index(self, source: str, target: str, target_shards: int = 1) -> dict:
        """ES ``POST /<src>/_shrink/<dst>``: rewrite into FEWER data files
        (target must be a factor of the source's file count).  Uses
        coalesce — a merge without a shuffle, the Spark analogue of ES's
        hard-link segment move.  Settings copy over; returns the
        shard arithmetic."""
        return self._resize_index(source, target, target_shards, "shrink")

    def split_index(self, source: str, target: str, target_shards: int) -> dict:
        """ES ``POST /<src>/_split/<dst>``: rewrite into MORE data files
        (target must be a multiple of the source's count) — a round-robin
        repartition, the analogue of ES's hash-split of each shard."""
        return self._resize_index(source, target, target_shards, "split")

    def clone_index(self, source: str, target: str) -> dict:
        """ES ``POST /<src>/_clone/<dst>``: byte-identical copy of the live
        snapshot's data dirs, same layout (ES clones via hard links; a file
        copy is the portable analogue — no rows are read or rewritten).
        The clone's first commit records the source's schema, row count and
        settings minus, as in _resize_index, follower identity (ES:
        unfollow before clone), so no clone is ever a follower."""
        src = self._one_index(source, "_clone")
        if self.exists(target):
            raise IndexExistsError(f"target index {target!r} already exists")
        _, dirs, schema, rows, settings = txn.snapshot(self.path(src))
        meta = {"replace": True, "schema": schema, "rows": rows,
                "settings": txn.merge_settings(settings, dict.fromkeys(_CCR_KEYS))}
        if not txn.try_commit(self.path(target), 1, txn.copy_dirs(dirs, self.path(target)), meta):
            raise IndexExistsError(f"target index {target!r} already exists")
        shards = self._data_file_count(src)
        return {
            "source": src,
            "target": target,
            "source_shards": shards,
            "target_shards": shards,
        }

    def read_index_version(self, name: str, version: int) -> DataFrame:
        """Time travel in a transactional catalog: the index exactly as of
        committed ``version`` (the ES snapshot / point-in-time analogue —
        a reader pins a manifest and is immune to concurrent rewrites).
        Valid until vacuum_index sweeps the superseded data dirs; the
        retention window (txn.vacuum) is therefore also the time-travel
        horizon, exactly as in Delta."""
        idx = self._one_index(name, "time travel")
        if not self.transactional:
            raise ValueError(f"index {idx!r} is not transactional")
        _, dirs, schema, *_ = txn.snapshot(self.path(idx), version)
        return self._read_dirs(idx, dirs, schema)

    def open_point_in_time(
        self, name: str, keep_alive: str = "5m", now: float | None = None
    ) -> str:
        """ES ``POST /<index>/_pit?keep_alive=...`` — pin the index's
        CURRENT committed version so searches through the PIT see a
        frozen snapshot regardless of concurrent writes.  Returns an
        opaque id (base64 of index+version).  Requires a transactional
        catalog: the manifest log IS the snapshot mechanism, and only such
        a catalog keeps superseded versions readable.  ``keep_alive``
        bounds the id's life from ``now`` (explicit like the watcher's —
        deterministic and testable); every ``pit_read`` with a
        keep_alive EXTENDS it, exactly ES's touch-to-extend rule.  The
        time-travel horizon caveat of read_index_version applies: a
        vacuum inside the window invalidates the pinned dirs."""
        import base64
        import time as _time

        idx = self._one_index(name, "a point in time")
        if not self.transactional:
            raise ValueError(f"index {idx!r} is not transactional")
        version, _ = txn.latest(self.path(idx))
        now = _time.time() if now is None else now
        # a per-open nonce keeps every _pit open a DISTINCT context (ES
        # semantics) — without it two PITs on the same snapshot would
        # share one registry entry and close/extend each other
        from elasticsearch_hadoop_spark.durations import parse_duration

        def _open(state: dict):
            state["seq"] += 1
            pit_id = base64.b64encode(
                json.dumps(
                    {"index": idx, "version": version, "n": state["seq"]}
                ).encode()
            ).decode()
            state["pits"][pit_id] = now + parse_duration(keep_alive)
            return pit_id, True

        return self._mutate_pits(_open)

    def pit_read(
        self,
        pit_id: str,
        keep_alive: str | None = None,
        now: float | None = None,
    ) -> DataFrame:
        """Read the snapshot a PIT pins.  Expired or closed ids raise
        (ES's search_context_missing); a ``keep_alive`` extends the id
        from ``now``."""
        import base64
        import time as _time

        now = _time.time() if now is None else now

        if keep_alive is None:
            # lock-free fast path: atomic-replace writes mean a plain read
            # sees a consistent registry; a live, unexpired entry needs no
            # reap and no extension, so N concurrent readers paging one
            # PIT never serialize on the lock or rewrite the registry
            expiry = self._read_pits()["pits"].get(pit_id)
            if expiry is not None and now <= expiry:
                ref = json.loads(base64.b64decode(pit_id))
                return self.read_index_version(ref["index"], ref["version"])

        def _touch(state: dict):
            expiry = state["pits"].get(pit_id)
            if expiry is None or now > expiry:
                # reap the expired entry; dirty only if there was one
                return False, state["pits"].pop(pit_id, None) is not None
            if keep_alive is not None:
                from elasticsearch_hadoop_spark.durations import parse_duration

                state["pits"][pit_id] = now + parse_duration(keep_alive)
                return True, True
            return True, False

        if not self._mutate_pits(_touch):
            raise ValueError("point in time expired or closed (search_context_missing)")
        ref = json.loads(base64.b64decode(pit_id))
        return self.read_index_version(ref["index"], ref["version"])

    def close_point_in_time(self, pit_id: str) -> bool:
        """ES ``DELETE /_pit`` — returns whether the id was open."""

        def _close(state: dict):
            was_open = state["pits"].pop(pit_id, None) is not None
            return was_open, was_open

        return self._mutate_pits(_close)

    def index_history(self, name: str) -> list[dict]:
        """The commit log as data: one dict per committed version
        (version, ts, replace?, #dirs) — DESCRIBE HISTORY parity."""
        idx = self._one_index(name, "history")
        return txn.history(self.path(idx))

    def vacuum_index(self, name: str, min_age_seconds: float = 3600.0) -> list[str]:
        """Sweep data directories no manifest references (losing writers,
        superseded replace snapshots), skipping dirs younger than the
        retention window — see txn.vacuum."""
        out: list[str] = []
        for idx in self.resolve_pattern(name):
            out.extend(txn.vacuum(self.path(idx), min_age_seconds))
        return out

    def _read_dirs(self, idx: str, dirs: list[str], schema: dict | None) -> DataFrame:
        """Read ``dirs`` with the schema their commit recorded: no footer
        inference, so building the frame runs no Spark job and the columns
        come out in the recorded order whatever the file listing order.
        No dirs (an index created empty) read as 0 rows."""
        if schema is None:
            raise ValueError(f"index {idx!r} has no committed data")
        if not dirs:
            return self.spark.createDataFrame([], StructType.fromJson(schema))
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(*dirs)

    def _read_files(self, idx: str) -> DataFrame:
        """One resolved index's current contents: the latest manifest's data
        dirs, read with the schema it records."""
        _, dirs, schema, *_ = txn.snapshot(self.path(idx))
        return self._read_dirs(idx, dirs, schema)

    # ----------------------------------------------------------------- read
    def read_index(
        self,
        name: str,
        query: str | dict | None = None,
        fields: list[str] | None = None,
        exclude_fields: list[str] | None = None,
        metadata: bool = False,
    ) -> DataFrame:
        """esDF parity (SURVEY.md §3.1).  ``query`` is the ES query-DSL JSON
        subset (compiled to Column predicates -> Catalyst pushes them to the
        parquet scan); ``fields``/``exclude_fields`` mirror
        es.read.field.include/exclude (A2/A8); ``metadata=True`` appends the
        ``_metadata`` map column (es.read.metadata parity, §1.1).

        ``name`` accepts the reference's multi-resource syntax
        (``mr/.../rest/Resource.java`` parsing, per SURVEY.md §0 path
        citations): a comma list (``"a,b"``) and/or ``*`` wildcards
        (``"logs-*"``).  Multi-index reads union per-index scans by column
        name with missing columns nulled (ES indices may drift schemas);
        each branch stays an independent parquet scan, so Catalyst still
        pushes filters/pruning into every branch — the union adds no
        shuffle."""
        df = self._read_resolved(name)
        if query is not None:
            query = self._resolve_terms_lookups(query)
            query = self._resolve_indexed_shapes(query)
            df = df.filter(compile_query(query))
        meta_cols = [c for c in ("_id", "_index", "_routing") if c in df.columns]
        if metadata and meta_cols:
            df = df.withColumn(
                "_metadata",
                F.create_map(
                    *[x for c in meta_cols for x in (F.lit(c), F.col(c).cast("string"))]
                ),
            )
        if fields:
            keep = list(fields) + (["_metadata"] if metadata else [])
            df = df.select(*[c for c in keep if c in df.columns or c == "_metadata"])
        elif exclude_fields:
            df = df.drop(*[c for c in exclude_fields if c in df.columns])
        if not metadata:
            df = df.drop(*[c for c in meta_cols if c in df.columns])
        return df

    def _one_index(self, name: str, op: str) -> str:
        """The one index ``name`` resolves to; ``op`` names the caller."""
        names = self.resolve_pattern(name)
        if len(names) != 1:
            raise ValueError(f"{op} takes a single index, got {names}")
        return names[0]

    def resolve_pattern(self, name: str) -> list[str]:
        """Expand the comma/wildcard resource syntax to managed index names.
        An exact part naming an alias expands to the alias's target
        indices (ES resolves aliases the same way)."""
        return [n for n, _ in self._resolve_parts(name)]

    def _resolve_parts(self, name: str) -> list[tuple[str, dict | None]]:
        """The resolution core: (index, alias_filter) pairs.  A filtered
        alias carries its query-DSL body to every target it expands to;
        plain names/wildcards carry None."""
        import fnmatch

        aliases = self._read_aliases()
        # per-index resolved filter: None = unfiltered.  An index reached
        # BOTH unfiltered (direct name/wildcard, or a plain alias) and
        # through a filtered alias stays unfiltered — the direct request
        # already returns every doc, and ES's union of shard results never
        # narrows it.  Two DIFFERENT filtered aliases over one index keep
        # the first (documented: split such reads into separate calls).
        resolved: dict[str, dict | None] = {}
        order: list[str] = []

        def _add(idx: str, flt: dict | None) -> None:
            if idx not in resolved:
                resolved[idx] = flt
                order.append(idx)
            elif flt is None:
                resolved[idx] = None

        for part in (p.strip() for p in name.split(",")):
            if not part:
                continue
            if part in aliases:
                targets, flt = self._alias_entry(aliases, part)
                for t in targets:
                    _add(t, flt)
            elif "*" in part or "?" in part:
                for m in sorted(fnmatch.filter(self.list_indices(), part)):
                    _add(m, None)
            elif not self.exists(part):
                # ES answers 404 for an unknown exact index/alias name
                raise IndexNotFoundError(f"no such index or alias: {part!r}")
            else:
                _add(part, None)
        if not order:
            raise ValueError(f"no index matches resource {name!r}")
        return [(idx, resolved[idx]) for idx in order]

    def _read_resolved(self, name: str) -> DataFrame:
        # each index reads with the schema its commits recorded (ES keeps
        # the mapping in cluster state): a blind append's new field
        # surfaces whatever the file listing order, and no footer is read
        pairs = self._resolve_parts(name)
        if len(pairs) == 1:
            n, flt = pairs[0]
            df = self._read_files(n)
            # filtered alias: the stored query-DSL body compiles per read
            # and pushes into the target's scan like any predicate
            return df.filter(compile_query(flt)) if flt is not None else df
        parts = []
        for n, flt in pairs:
            df = self._read_files(n)
            if flt is not None:
                df = df.filter(compile_query(flt))
            if "_index" not in df.columns:
                df = df.withColumn("_index", F.lit(n))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # ES terms-lookup caps the fetched list (index.max_terms_count);
    # enforced here too so a fat lookup doc cannot balloon the compiled
    # isin predicate
    MAX_TERMS_COUNT = 65536

    def terms_lookup(self, index: str, doc_id: str, path: str) -> list:
        """Fetch the term list for a terms-lookup query (`terms` with
        {"index", "id", "path"}): the ``path`` array of ONE document.
        A one-row collect bounded by MAX_TERMS_COUNT — the list then
        compiles to an isin predicate that pushes down to the scan, which
        is exactly how ES executes the lookup (fetch once, rewrite to a
        plain terms query)."""
        df = self.read_index(index, metadata=True)
        if "_id" not in df.columns:
            raise ValueError(f"terms lookup index {index!r} has no _id column")
        rows = (
            df.filter(F.col("_id").cast("string") == str(doc_id))
            .select(path)
            .limit(1)
            .collect()
        )
        if not rows:
            raise DocumentMissingError(f"terms lookup doc {doc_id!r} in {index!r}")
        val = rows[0][0]
        terms = [v for v in (val if isinstance(val, list) else [val]) if v is not None]
        if len(terms) > self.MAX_TERMS_COUNT:
            raise ValueError(
                f"terms lookup {index!r}/{doc_id!r}.{path} has {len(terms)} "
                f"terms (> max_terms_count {self.MAX_TERMS_COUNT})"
            )
        return terms

    def _resolve_terms_lookups(self, q):
        """Pre-pass over an ES query body: replace every terms-lookup
        clause ({"terms": {field: {"index","id","path"}}}) with the
        fetched term list, anywhere in the clause tree (bool arms,
        nested, constant_score...).  Plain clauses pass through
        untouched, so compile_query never needs catalog access."""
        if isinstance(q, str):
            s = q.strip()
            if not s.startswith("{"):
                return q
            q = json.loads(s)
        if not isinstance(q, dict):
            return q
        out = {}
        for k, v in q.items():
            if k == "terms" and isinstance(v, dict):
                new_v = {}
                for fld, spec in v.items():
                    if isinstance(spec, dict) and {"index", "id", "path"} <= set(spec):
                        new_v[fld] = self.terms_lookup(
                            spec["index"], spec["id"], spec["path"]
                        )
                    else:
                        new_v[fld] = spec
                out[k] = new_v
            elif isinstance(v, dict):
                out[k] = self._resolve_terms_lookups(v)
            elif isinstance(v, list):
                out[k] = [
                    self._resolve_terms_lookups(x) if isinstance(x, dict) else x
                    for x in v
                ]
            else:
                out[k] = v
        return out

    def indexed_shape(self, index: str, doc_id: str, path: str) -> dict:
        """Fetch the query geometry for a ``geo_shape`` ``indexed_shape``
        clause: the ``path`` field of ONE document in a shapes index —
        stored either as a GeoJSON-ish string or a struct/map row.  Like
        terms_lookup, this is a one-row bounded collect followed by a
        rewrite to the inline-``shape`` form, which is exactly how ES
        executes it (fetch the geometry once, then run a normal shape
        query)."""
        df = self.read_index(index, metadata=True)
        if "_id" not in df.columns:
            raise ValueError(f"indexed_shape index {index!r} has no _id column")
        rows = (
            df.filter(F.col("_id").cast("string") == str(doc_id))
            .select(path)
            .limit(1)
            .collect()
        )
        if not rows:
            raise DocumentMissingError(
                f"indexed_shape doc {doc_id!r} in {index!r}"
            )
        val = rows[0][0]
        if isinstance(val, str):
            val = json.loads(val)
        elif hasattr(val, "asDict"):
            val = val.asDict(recursive=True)
        if not isinstance(val, dict) or "type" not in val:
            raise ValueError(
                f"indexed_shape {index!r}/{doc_id!r}.{path} is not a shape "
                f"object (needs a 'type'): {type(val).__name__}"
            )
        return val

    def _resolve_indexed_shapes(self, q):
        """Pre-pass twin of _resolve_terms_lookups for ``geo_shape``
        clauses carrying ``indexed_shape`` ({"index","id","path"}):
        replace each with the fetched inline ``shape`` anywhere in the
        clause tree, so compile_query never needs catalog access."""
        if isinstance(q, str):
            s = q.strip()
            if not s.startswith("{"):
                return q
            q = json.loads(s)
        if not isinstance(q, dict):
            return q
        out = {}
        for k, v in q.items():
            if k == "geo_shape" and isinstance(v, dict):
                new_v = {}
                for fld, spec in v.items():
                    if isinstance(spec, dict) and isinstance(
                        spec.get("indexed_shape"), dict
                    ):
                        ref = spec["indexed_shape"]
                        shape = self.indexed_shape(
                            ref["index"], ref["id"], ref["path"]
                        )
                        new_v[fld] = {
                            **{kk: vv for kk, vv in spec.items()
                               if kk != "indexed_shape"},
                            "shape": shape,
                        }
                    else:
                        new_v[fld] = spec
                out[k] = new_v
            elif isinstance(v, dict):
                out[k] = self._resolve_indexed_shapes(v)
            elif isinstance(v, list):
                out[k] = [
                    self._resolve_indexed_shapes(x) if isinstance(x, dict) else x
                    for x in v
                ]
            else:
                out[k] = v
        return out

    def count_index(self, name: str, query: str | dict | None = None) -> int:
        """_count parity (A10).  The unfiltered count of plain (unfiltered-
        alias) targets is the sum of the row counts their manifests record
        — ES's shard-stats doc count: no Spark job, no file read, whatever
        the index's file count.  A query or a filtered alias counts by
        scan."""
        if query is None:
            pairs = self._resolve_parts(name)
            if all(flt is None for _, flt in pairs):
                return sum(txn.snapshot(self.path(idx))[3] for idx, _ in pairs)
        return self.read_index(name, query=query).count()

    def snapshot_index(self, name: str, repo: str, snapshot: str) -> dict:
        """ES ``_snapshot``: a point-in-time copy of the index into a
        repository directory.  The committed row set materializes as
        parquet under ``repo/<snapshot>/<name>/data`` (exactly the latest
        committed version — in-flight writers are invisible by
        construction), and the index's settings travel with it (none for
        an alias or pattern ``name``).  Returns the snapshot manifest.
        Restore is ``restore_index``; snapshots are immutable once taken
        (re-snapshotting the same name raises, like ES's unique names)."""
        dest = os.path.join(repo, snapshot, name)
        if os.path.exists(dest):
            raise IndexExistsError(f"snapshot {snapshot!r} of {name!r} exists")
        df = self._read_resolved(name)
        df.write.parquet(os.path.join(dest, "data"))
        manifest = {
            "index": name,
            "snapshot": snapshot,
            "settings": self.get_settings(name) if self.exists(name) else {},
            "schema": df.schema.jsonValue(),
        }
        _write_json(os.path.join(dest, "_snapshot.json"), manifest)
        return manifest

    def restore_index(
        self, repo: str, snapshot: str, name: str, rename_to: str | None = None
    ) -> None:
        """ES ``_restore``: materialize a snapshot as a (new) index.  The
        target must not exist — ES likewise refuses to restore over an
        open index; pass ``rename_to`` for the rename-on-restore pattern.
        The restored rows and the snapshot's settings are the new index's
        first commit."""
        src = os.path.join(repo, snapshot, name)
        if not os.path.exists(os.path.join(src, "_snapshot.json")):
            raise ValueError(f"no snapshot {snapshot!r} of {name!r} in {repo!r}")
        target = rename_to or name
        if self.exists(target):
            raise IndexExistsError(
                f"index {target!r} exists — restore with rename_to, like ES"
            )
        with open(os.path.join(src, "_snapshot.json")) as fh:
            manifest = json.load(fh)
        df = self._read_dirs(name, [os.path.join(src, "data")], manifest.get("schema"))
        self._commit_build(
            target, [], lambda _: df, needs_existing=False, created=manifest["settings"]
        )

    def list_snapshots(self, repo: str) -> list[dict]:
        """ES GET _snapshot/<repo>/_all: the repository's snapshot
        manifests."""
        out = []
        if not os.path.isdir(repo):
            return out
        for snap in sorted(os.listdir(repo)):
            sdir = os.path.join(repo, snap)
            if not os.path.isdir(sdir):
                continue
            for idx in sorted(os.listdir(sdir)):
                mpath = os.path.join(sdir, idx, "_snapshot.json")
                if os.path.exists(mpath):
                    with open(mpath) as fh:
                        out.append(json.load(fh))
        return out

    # ------------------------------------------------------------------ CCR
    def follow_index(
        self, leader: "Catalog", leader_index: str, follower_index: str | None = None
    ) -> dict:
        """ES CCR ``PUT /<follower>/_ccr/follow``: bootstrap a follower of
        an index of a transactional leader catalog.  Its first commit
        holds the leader's data and settings plus the ``_CCR_KEYS``
        pointer, so no follower lacks either; ``ccr_poll`` pulls later
        changes.  A missing leader index raises IndexNotFoundError.

        The unit of replication is the leader's manifest version: data
        dirs are immutable once committed (txn.py), so a sync copies only
        the dirs the follower doesn't have yet and commits a follower
        manifest naming the leader's live set — the same shape as ES
        CCR's file-based bootstrap + incremental op shipping, without a
        row ever being rewritten.  Leader REPLACE commits (merges,
        compactions) replicate as manifest swaps; the follower catalog's
        own retention keeps or deletes the dirs they supersede.

        Followers are read-only (ES: a follower index rejects writes) —
        ``write_index`` refuses; ``unfollow_index`` converts one to a
        regular index."""
        follower_index = follower_index or leader_index
        if not leader.transactional:
            raise ValueError(
                "follow_index needs a transactional leader — the manifest "
                "log IS the replication protocol"
            )
        if not leader.exists(leader_index):
            raise IndexNotFoundError(f"no such leader index: {leader_index!r}")
        if self.exists(follower_index):
            raise IndexExistsError(follower_index)
        # a fresh follower holds leader version 0
        return self._ccr_sync(follower_index, dict(zip(_CCR_KEYS, (leader.root, leader_index, 0))))

    def ccr_poll(self, follower_index: str) -> dict:
        """Sync the follower to the leader's latest committed version.
        Idempotent; returns ``{"leader_version", "follower_version",
        "synced"}`` where synced is False when already current, or when
        the index was unfollowed while the poll copied."""
        settings = self.get_settings(follower_index)
        if "ccr_leader_root" not in settings:
            raise ValueError(f"{follower_index!r} is not a CCR follower")
        return self._ccr_sync(follower_index, settings)

    def _ccr_sync(self, follower_index: str, pointer: dict) -> dict:
        """Copy the leader's live dirs the follower lacks, then claim the
        follower's next version naming them and the leader version.
        ``pointer``: the follower's CCR settings as last read.  Each claim
        builds on the follower's latest snapshot (leader settings plus
        ``pointer`` for a new follower); if that is no follower (unfollowed
        mid-copy) or holds this leader version or newer, none is made."""
        lpath = os.path.join(pointer["ccr_leader_root"], pointer["ccr_leader_index"])
        fpath = self.path(follower_index)
        lv, ldirs, lschema, lrows, lsettings = txn.snapshot(lpath)
        not_synced = {"leader_version": lv, "synced": False}
        if lv == pointer["ccr_leader_version"]:
            return {**not_synced, "follower_version": txn.latest(fpath)[0]}
        txn.copy_dirs(ldirs, fpath)
        for attempt in range(500):
            fv, fdirs, _, _, base = txn.snapshot(fpath)
            base = base if fv else {**lsettings, **pointer}
            if "ccr_leader_root" not in base or base["ccr_leader_version"] >= lv:
                return {**not_synced, "follower_version": fv}
            meta = {"replace": True, "schema": lschema, "rows": lrows,
                    "settings": {**base, "ccr_leader_version": lv}}
            if txn.try_commit(fpath, fv + 1, ldirs, meta=meta):
                live = {os.path.basename(d.rstrip("/")) for d in ldirs}
                self._retire(fpath, fv + 1, [d for d in fdirs if os.path.basename(d) not in live])
                return {"leader_version": lv, "follower_version": fv + 1, "synced": True}
            txn.backoff(attempt)
        raise txn.CommitConflictError(f"poll of {follower_index!r} lost 500 races")

    def unfollow_index(self, follower_index: str) -> None:
        """ES ``POST /<index>/_ccr/unfollow``: convert the follower into a
        regular (writable) index by dropping the leader pointer from its
        settings."""
        if "ccr_leader_root" not in self.get_settings(follower_index):
            raise ValueError(f"{follower_index!r} is not a CCR follower")
        self.put_settings(follower_index, dict.fromkeys(_CCR_KEYS))

    # ----------------------------------------------------------- templates
    def _templates_path(self) -> str:
        return os.path.join(self.root, "_index_templates.json")

    def _read_templates(self) -> dict:
        return _read_json(self._templates_path())

    def _component_templates_path(self) -> str:
        return os.path.join(self.root, "_component_templates.json")

    def _read_component_templates(self) -> dict:
        return _read_json(self._component_templates_path())

    def put_component_template(self, name: str, body: dict) -> None:
        """ES ``_component_template``: a reusable settings/mappings block
        an index template composes via ``composed_of``.  Resolution
        follows ES: components merge in ``composed_of`` order, the index
        template's own ``template`` wins last."""
        if not isinstance(body, dict) or "template" not in body:
            raise ValueError("component template needs a template: {...} block")
        comps = self._read_component_templates()
        comps[name] = body
        _write_json(self._component_templates_path(), comps)

    def _resolve_template(self, body: dict) -> dict:
        """Merge composed_of component templates under the index
        template's own block (settings shallow-merge, mappings.properties
        shallow-merge — later wins, exactly ES's composition order)."""
        merged_settings: dict = {}
        merged_props: dict = {}
        comps = self._read_component_templates()
        for cname in body.get("composed_of", []):
            if cname not in comps:
                raise ValueError(f"unknown component template {cname!r}")
            t = comps[cname].get("template") or {}
            merged_settings.update(t.get("settings") or {})
            merged_props.update((t.get("mappings") or {}).get("properties") or {})
        own = body.get("template") or {}
        merged_settings.update(own.get("settings") or {})
        merged_props.update((own.get("mappings") or {}).get("properties") or {})
        out: dict = {}
        if merged_settings:
            out["settings"] = merged_settings
        if merged_props:
            out["mappings"] = {"properties": merged_props}
        return out

    def put_index_template(self, name: str, body: dict) -> None:
        """ES ``_index_template``: index_patterns + priority + a template
        of settings/mappings, optionally ``composed_of`` component
        templates (merged in order, the template's own block last).
        Resolved when write_index CREATES a matching index and recorded
        in the settings of its first commit; from then on ``index.default_pipeline``
        runs the registered ingest pipeline over EVERY batch written to
        that index (ES applies it per indexing request, not per index
        creation), ``index.sort.field`` stays the write sort (row-group-
        stats clustering), and ``mappings`` persist for ``get_mapping``."""
        if not isinstance(body, dict) or not body.get("index_patterns"):
            raise ValueError("index template needs index_patterns: [...]")
        resolved = self._resolve_template(body)  # validates composed_of
        settings = resolved.get("settings") or {}
        pname = settings.get("index.default_pipeline") or settings.get(
            "default_pipeline"
        )
        if pname:
            self.get_pipeline(pname)  # fail at declaration if unregistered
        templates = self._read_templates()
        templates[name] = body
        _write_json(self._templates_path(), templates)

    def delete_index_template(self, name: str) -> None:
        templates = self._read_templates()
        templates.pop(name, None)
        _write_json(self._templates_path(), templates)

    def _match_template(self, index_name: str) -> dict | None:
        import fnmatch

        best, best_prio, best_name = None, None, None
        for tname, body in self._read_templates().items():
            for pat in body.get("index_patterns", []):
                if fnmatch.fnmatch(index_name, pat):
                    prio = int(body.get("priority", 0))
                    # ES picks the highest priority; ties break by name
                    # for determinism (ES rejects ambiguous ties)
                    if (
                        best_prio is None
                        or prio > best_prio
                        or (prio == best_prio and str(tname) < str(best_name))
                    ):
                        best, best_prio, best_name = body, prio, tname
                    break
        return best

    def get_mapping(self, name: str) -> dict:
        """GET <index>/_mapping: the mapping the index's settings record
        (template-applied at creation, or put), else a mapping derived from
        the recorded schema (dynamic-mapping analogue) — both from the
        latest commit."""
        _, _, schema, _, settings = txn.snapshot(self.path(self._one_index(name, "_mapping")))
        if settings.get("mappings"):
            return settings["mappings"]
        schema = StructType.fromJson(schema)
        type_map = {
            "string": "keyword", "bigint": "long", "int": "integer",
            "double": "double", "float": "float", "boolean": "boolean",
            "timestamp": "date", "binary": "binary",
        }
        return {
            "properties": {
                f.name: {"type": type_map.get(f.dataType.simpleString(), "object")}
                for f in schema.fields
            }
        }

    def field_caps(self, pattern: str) -> dict:
        """ES ``GET <pattern>/_field_caps?fields=*``: per-field capability
        map merged across every index the pattern resolves (wildcards,
        comma lists, aliases — same resolver as read_index).  Shape
        matches ES: ``{"indices": [...], "fields": {field: {type:
        {"type", "searchable", "aggregatable"[, "indices"]}}}}`` — the
        per-type ``indices`` list appears only on CONFLICTING fields
        (ES omits it when all indices agree).  Types come from each
        index's mapping (template-applied or derived from the recorded
        schema via get_mapping), so the answer needs no data read — a pure metadata
        pass, O(#indices) not O(rows).  Everything here is searchable;
        ES's text-fields-not-aggregatable rule is applied to ``text``
        mappings."""
        indices = sorted(
            {idx for idx, _flt in self._resolve_parts(pattern)}
        )
        fields: dict[str, dict[str, dict]] = {}
        per_type_indices: dict[tuple[str, str], list[str]] = {}
        for idx in indices:
            props = (self.get_mapping(idx) or {}).get("properties", {})
            for fname, spec in props.items():
                ftype = spec.get("type", "object")
                caps = fields.setdefault(fname, {})
                if ftype not in caps:
                    caps[ftype] = {
                        "type": ftype,
                        "searchable": True,
                        "aggregatable": ftype != "text",
                    }
                per_type_indices.setdefault((fname, ftype), []).append(idx)
        # a field is conflicting when its types differ across indices OR
        # it is absent from some index that has the field under another
        # type; per ES, agreed fields carry no indices list
        for fname, caps in fields.items():
            if len(caps) > 1:
                for ftype, cap in caps.items():
                    cap["indices"] = per_type_indices[(fname, ftype)]
        return {"indices": indices, "fields": fields}

    # ----------------------------------------------------------- pipelines
    def _pipelines_path(self) -> str:
        return os.path.join(self.root, "_pipelines.json")

    def put_pipeline(self, name: str, body: dict | list) -> None:
        """PUT _ingest/pipeline/<name>: register a pipeline for
        default_pipeline template settings (and ad-hoc reuse).  Compiled
        once at declaration so a bad pipeline fails here, not on the
        first write through a template."""
        from elasticsearch_hadoop_spark.ingest import compile_pipeline

        compile_pipeline(body)
        pipelines = _read_json(self._pipelines_path())
        pipelines[name] = body
        _write_json(self._pipelines_path(), pipelines)

    def get_pipeline(self, name: str) -> dict | list:
        pipelines = _read_json(self._pipelines_path())
        if name not in pipelines:
            raise ValueError(f"no such ingest pipeline: {name!r}")
        return pipelines[name]

    # ---------------------------------------------------------------- data streams
    def _data_streams_path(self) -> str:
        return os.path.join(self.root, "_data_streams.json")

    def _read_data_streams(self) -> dict:
        return _read_json(self._data_streams_path())

    def downsample_index(
        self,
        source: str,
        target: str,
        fixed_interval: str,
        *,
        timestamp_col: str = "@timestamp",
        dimensions: list[str] | None = None,
        metrics: dict[str, str] | None = None,
    ) -> None:
        """ES ``POST /<source>/_downsample/<target>`` — the TSDS rollup:
        aggregate a time-series index into one document per
        (time bucket, dimensions), with per-metric summaries:

        - ``gauge`` metrics keep ``<m>.min / <m>.max / <m>.sum /
          <m>.value_count`` (flattened here to ``<m>_min`` etc. — the
          engine's columnar rendering of ES's aggregate_metric_double);
        - ``counter`` metrics keep ``<m>_last`` (the latest value in the
          bucket, ES's last_value), ordered by the timestamp; timestamp
          ties break by the metric value (max), deterministically.

        The bucket timestamp floors to ``fixed_interval`` (same epoch
        arithmetic as the aggs-DSL date_histogram).  In ES the dimensions
        and metric kinds come from time_series_dimension /
        time_series_metric MAPPINGS; this schema-less catalog takes them
        as parameters.

        Scale: this is the aggregate-once / query-forever pattern — one
        partial-aggregated shuffle on (dimensions, bucket) writes an
        index ~interval/resolution times smaller; downstream queries
        read the downsampled index and never rescan the raw series.  ES
        applies the same downsampling in ILM; compose with
        apply_lifecycle by downsampling a rolled-over generation."""
        metrics = metrics or {}
        bad = [k for k, v in metrics.items() if v not in ("gauge", "counter")]
        if bad:
            raise ValueError(
                f"downsample metrics must be gauge|counter, got {bad}"
            )
        secs = int(parse_duration(fixed_interval))
        if secs <= 0:
            raise ValueError(f"bad fixed_interval {fixed_interval!r}")
        df = self.read_index(source)
        dims = list(dimensions or [])
        # floor, not cast-truncation: a negative epoch (pre-1970 series)
        # must bucket DOWN, matching the aggs-DSL date_histogram arithmetic
        bucket = F.timestamp_seconds(
            F.floor(F.unix_timestamp(F.col(timestamp_col)) / secs).cast("long")
            * secs
        ).alias(timestamp_col)
        aggs: list[Column] = [F.count(F.lit(1)).alias("_doc_count")]
        for m, kind in metrics.items():
            if kind == "gauge":
                aggs += [
                    F.min(m).alias(f"{m}_min"),
                    F.max(m).alias(f"{m}_max"),
                    F.sum(m).alias(f"{m}_sum"),
                    F.count(m).alias(f"{m}_value_count"),
                ]
            else:
                # counter -> last value in the bucket by timestamp; ties
                # on the timestamp break by the metric value itself (max),
                # so the result is layout-independent — a bare max_by
                # would flip between partition evaluation orders
                aggs.append(
                    F.max_by(
                        m, F.struct(F.col(timestamp_col), F.col(m))
                    ).alias(f"{m}_last")
                )
        out = df.groupBy(bucket, *[F.col(d) for d in dims]).agg(*aggs)
        self.write_index(out, target, mode="overwrite")

    def create_data_stream(self, name: str) -> None:
        """ES data stream: an append-only, timestamp-bearing stream backed
        by ``.ds-<name>-NNNNNN`` generation indices behind an alias named
        like the stream.  The first write creates generation 000001 (ES
        creates backing indices lazily from the template too); rollover
        bounds per-generation size so vacuum/compact/Z-order work on
        bounded units and pattern reads prune whole generations."""
        streams = self._read_data_streams()
        if name in streams:
            raise IndexExistsError(f"data stream {name!r} exists")
        if self.exists(name) or name in self._read_aliases():
            raise IndexExistsError(f"{name!r} is already an index/alias")
        streams[name] = {"created_at": time.time()}
        _write_json(self._data_streams_path(), streams)

    def write_data_stream(
        self, df: DataFrame, name: str, max_docs_per_generation: int | None = None
    ) -> dict:
        """Append a batch to a data stream (ES only allows op_type=create
        on streams — no updates/deletes, hence no id/operation kwargs
        here).  ``@timestamp`` is required, like ES.  When
        ``max_docs_per_generation`` is set, a rollover check runs after
        the write (the ILM hot-phase analogue)."""
        if name not in self._read_data_streams():
            raise ValueError(f"no such data stream: {name!r}")
        if "@timestamp" not in df.columns:
            raise ValueError("data stream writes require an @timestamp column")
        aliases = self._read_aliases()
        if name not in aliases:
            backing = f".ds-{name}-000001"
            self.write_index(df, backing)
            self.put_alias(name, backing)
        else:
            self.write_alias(df, name)
        if max_docs_per_generation is not None:
            return self.rollover(name, max_docs=max_docs_per_generation)
        return {"rolled_over": False}

    def data_stream_stats(self, name: str) -> dict:
        """GET _data_stream/<name>/_stats: generations + per-backing doc
        counts (the counts their manifests record, no scan)."""
        if name not in self._read_data_streams():
            raise ValueError(f"no such data stream: {name!r}")
        targets = self._read_aliases().get(name, [])
        return {
            "data_stream": name,
            "generations": len(targets),
            "backing_indices": [
                {"index": t, "docs_count": self.count_index(t)} for t in targets
            ],
        }

    def delete_data_stream(self, name: str) -> None:
        """DELETE _data_stream/<name>: removes the backing indices too,
        exactly like ES."""
        streams = self._read_data_streams()
        if name not in streams:
            raise ValueError(f"no such data stream: {name!r}")
        for t in self._read_aliases().get(name, []):
            self.drop_index(t)
        self.delete_alias(name)
        streams.pop(name)
        _write_json(self._data_streams_path(), streams)

    def cat_indices(self) -> list[dict]:
        """ES ``GET _cat/indices``: one row per managed index — name,
        docs.count, store.size (bytes on disk) — from the row counts the
        manifests record and a directory walk, no data scan."""
        out = []
        for n in self.list_indices():
            size = 0
            for root, _dirs, files in os.walk(self.path(n)):
                size += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
            out.append(
                {"index": n, "docs_count": self.count_index(n), "store_bytes": size}
            )
        return out

    def sql_query(self, sql: str, pattern: str = "*") -> DataFrame:
        """ES SQL (`_sql` endpoint) veneer: every managed index matching
        ``pattern`` registers as a temp view (dots/dashes mapped to
        underscores — reference the mapped name, or backtick the
        original), then the statement runs through Spark SQL.  ES SQL's
        grammar is an ANSI subset, so the statement itself passes
        through; Catalyst plans it with the same pushdown/pruning as the
        DataFrame API — there is no second engine.  (ES doubles quotes
        for identifiers; Spark uses backticks — the one documented
        dialect difference.)"""
        for n in self.resolve_pattern(pattern):
            view = re.sub(r"[^A-Za-z0-9_]", "_", n)
            self.read_index(n).createOrReplaceTempView(view)
        return self.spark.sql(sql)

    @staticmethod
    def _sql_order_fields(sql: str) -> list[tuple[str, bool]]:
        """Parse the statement's top-level ``ORDER BY`` into
        ``[(column, ascending)]`` — the keyset a SQL cursor pages on.
        Depth-0 scan only (an ORDER BY inside a subquery doesn't order
        the result set); string literals AND quoted identifiers
        (double-quoted, backticked) are blanked first so quoted content
        can't fake tokens or desynchronize the paren depth.  LIMIT/OFFSET
        at the top level are rejected: ``fetch_size`` owns the page
        size."""
        blanked = re.sub(
            r"'[^']*'|\"[^\"]*\"|`[^`]*`",
            lambda m: " " * len(m.group(0)),
            sql,
        )
        depth, pos, limited = 0, -1, False
        for m in re.finditer(
            r"\(|\)|\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b", blanked, flags=re.I
        ):
            t = m.group(0)
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0:
                if t.upper() in ("LIMIT", "OFFSET"):
                    limited = True
                else:
                    pos = m.end()
        if limited:
            raise ValueError(
                "cursor paging owns the page size — remove the top-level "
                "LIMIT/OFFSET and use fetch_size"
            )
        if pos < 0:
            raise ValueError(
                "cursor paging needs a top-level ORDER BY ending in a "
                "unique key (the ES SQL fetch_size contract: without a "
                "total order, page boundaries are undefined)"
            )
        # split the ORDER BY tail on the BLANKED text (quoted spans are
        # spaces there) and slice the ORIGINAL sql by those offsets — a
        # raw split would break a backtick-quoted sort column that
        # contains a comma mid-identifier
        items, start = [], pos
        for i in range(pos, len(blanked)):
            if blanked[i] == ",":
                items.append(sql[start:i])
                start = i + 1
        items.append(sql[start:])
        fields: list[tuple[str, bool]] = []
        for item in items:
            im = re.match(
                r"^\s*(?:([A-Za-z_][A-Za-z0-9_.]*)|`([^`]+)`)\s*(ASC|DESC)?\s*$",
                item,
                flags=re.I,
            )
            if not im:
                raise ValueError(
                    f"cursor paging needs plain `col [ASC|DESC]` sort items "
                    f"(the keyset must be re-filterable), got {item.strip()!r}"
                )
            fields.append(
                (im.group(1) or im.group(2), (im.group(3) or "ASC").upper() != "DESC")
            )
        return fields

    def sql_page(
        self,
        sql: str | None = None,
        *,
        fetch_size: int = 1000,
        cursor: str | None = None,
        pattern: str = "*",
        columnar: bool | None = None,
    ) -> dict:
        """ES SQL cursor paging: ``POST /_sql {"query":..., "fetch_size":N}``
        then ``POST /_sql {"cursor": ...}`` continuations.  Returns
        ``{"columns": [{name, type}], "rows": [[...]], "cursor": id|None}``
        — ``cursor`` is None once the result set is exhausted (ES stops
        returning one).

        Where ES keeps a server-side scroll context per cursor, this
        engine's cursor is STATELESS: an opaque token encoding the
        statement, the ORDER BY keyset, and the last row's key values.
        Each page re-plans as keyset filter + TakeOrderedAndProject — the
        deep-pagination shape that stays O(page) at 100 TB, where ES's own
        cursor degrades to context memory and OFFSET would re-sort the
        prefix.  Consequences, both documented: the statement needs a
        top-level ORDER BY ending in a unique key whose columns appear in
        the projection, and pages see live data (pin a PIT /
        read_index_version first for frozen paging — the same advice ES
        gives for search_after without a PIT).

        Cursor key values round-trip through JSON: keep keyset columns to
        long/int/string/double/bool (dates serialize as strings and come
        back as string literals — Spark's implicit cast compares them
        correctly against timestamp columns, but prefer epoch numbers in
        the keyset).

        ``columnar=True`` (ES's ``"columnar": true``) renders each page
        column-major — ``"values": [[col1...], [col2...]]`` instead of
        ``"rows"`` — and the mode persists through the cursor like ES's
        does; passing an explicit ``columnar`` on a continuation that
        DISAGREES with the cursor's mode raises, also like ES.  A pure
        response-shape transpose: the plan is identical."""
        import base64

        if cursor is not None:
            if sql is not None:
                raise ValueError("pass either sql or cursor, not both")
            state = json.loads(base64.b64decode(cursor))
            sql, pattern = state["sql"], state["pattern"]
            fetch_size = state["fetch_size"]
            fields = [(f, bool(a)) for f, a in state["fields"]]
            after = state["after"]
            stored = bool(state.get("columnar", False))
            if columnar is not None and bool(columnar) != stored:
                raise ValueError(
                    "columnar mismatch: this cursor was minted with "
                    f"columnar={stored} (ES likewise rejects a changed "
                    "columnar setting mid-scroll)"
                )
            columnar = stored
        else:
            if sql is None:
                raise ValueError("sql_page needs a statement or a cursor")
            fields = self._sql_order_fields(sql)
            after = None
            columnar = bool(columnar)
        fetch_size = int(fetch_size)
        if fetch_size <= 0:
            raise ValueError(f"fetch_size must be positive, got {fetch_size}")
        df = self.sql_query(sql, pattern)
        # Spark resolves identifiers case-insensitively; the keyset
        # bookkeeping must too (resolve each sort item to the actual
        # output column name once, use it everywhere)
        by_lower = {c.lower(): c for c in df.columns}
        missing = [f for f, _ in fields if f.lower() not in by_lower]
        if missing:
            raise ValueError(
                f"cursor keyset columns {missing} must appear in the "
                "statement's projection (the next-page filter needs them)"
            )
        fields = [(by_lower[f.lower()], asc) for f, asc in fields]
        from elasticsearch_hadoop_spark.search import lexicographic_after

        # F.col parses a dot as struct access — a quoted identifier like
        # `a.b` must stay backtick-escaped when building Columns (the raw
        # name is still what Row access and the cursor state use)
        def q(f: str) -> str:
            return f"`{f}`" if "." in f else f

        page = df
        if after is not None:
            # null_aware: NULL key values page at Spark's default sort
            # position (asc first / desc last) instead of NULL-comparing
            # out of every later page
            page = page.filter(
                lexicographic_after(
                    [(q(f), asc) for f, asc in fields], after, null_aware=True
                )
            )
        order = [F.col(q(f)).asc() if asc else F.col(q(f)).desc() for f, asc in fields]
        rows = page.orderBy(*order).limit(fetch_size).collect()
        next_cursor = None
        if len(rows) == fetch_size:
            state = {
                "sql": sql,
                "pattern": pattern,
                "fetch_size": fetch_size,
                "fields": [[f, asc] for f, asc in fields],
                "after": [rows[-1][f] for f, _ in fields],
                "columnar": columnar,
            }
            next_cursor = base64.b64encode(
                json.dumps(state, default=str).encode()
            ).decode()
        out = {
            "columns": [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ],
            "cursor": next_cursor,
        }
        if columnar:
            out["values"] = [
                [r[i] for r in rows] for i in range(len(df.columns))
            ]
        else:
            out["rows"] = [list(r) for r in rows]
        return out

    def sql_close_cursor(self, cursor: str) -> dict:
        """ES ``POST /_sql/close``.  Cursors here are stateless tokens —
        there is no server context to free — so close only validates the
        token and reports success (API parity for callers that always
        close)."""
        import base64

        json.loads(base64.b64decode(cursor))  # raises on a malformed token
        return {"succeeded": True}

    def read_index_stream(
        self, name: str, query: str | dict | None = None, schema=None
    ) -> DataFrame:
        """Streaming read of a managed index: new parquet files appended to
        the index path become micro-batches (Structured Streaming file
        source — the readStream symmetry to the A9 sink). Structured
        Streaming requires a fixed schema; default = the index's current
        one. ``query`` compiles to a Column predicate exactly as in
        read_index, so per-batch filtering inherits pushdown.

        The stream reads the ``_stream`` publish farm
        (txn.enable_streaming): every commit hard-links its
        manifest-referenced data dirs there, so the stream sees exactly the
        committed set — never an in-flight writer's or crashed job's dir
        from the raw ``_data`` pool (those are orphans vacuum deletes, and
        rows delivered from them would silently diverge from batch reads).
        That only holds for APPEND-ONLY logs (blind-append writes,
        write_index without id_col) — a REPLACE commit after creation
        (overwrite, merge ops, delete/update_by_query, compact_index)
        writes a full new snapshot dir that a file stream would re-deliver
        as duplicates of every already-streamed row, so a log with any
        replace commit is refused; use the esdocs streaming sink for
        merge-style pipelines."""
        idx = self._one_index(name, "a streaming read")
        path = self.path(idx)
        if schema is None:
            schema = self._read_files(idx).schema  # the recorded one
        if txn.has_replace_commit(path):
            raise ValueError(
                f"index {idx!r} has replace commits in its log; a file "
                "stream would re-deliver replaced snapshots as duplicates — "
                "use the esdocs streaming sink for merge-style pipelines"
            )
        stream_path = os.path.join(txn.enable_streaming(path), "*")
        df = self.spark.readStream.schema(schema).parquet(stream_path)
        if query is not None:
            df = df.filter(compile_query(query))
        return df

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        num_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Replace index ``name`` with ``df`` as a bucketed snapshot
        (hash-partitioned into ``num_buckets`` files by ``bucket_cols``,
        optionally sorted within buckets). This is the 100 TB co-located-
        join path referenced from the join corpus: two indices bucketed the
        same way on the join key are joined with ZERO shuffle (verified in
        tests/test_skew_bucket.py by asserting no Exchange in the plan).

        The write is a replace commit like any other: the bucketed files go
        to a fresh data dir, and the manifest records their schema and row
        count, so ``read_index``, ``count_index`` and wildcard reads see the
        index like every other one.  The bucket metadata lives in the
        session catalog (an external table at that data dir), and the
        commit's settings record the dir; ``read_bucketed`` reads it back."""
        self._commit_build(
            name, [], lambda _: df, needs_existing=False,
            bucketing=(self._table_name(name), num_buckets, bucket_cols, sort_cols),
        )

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed index through the session catalog (keeps the
        bucket-distribution metadata Catalyst needs to elide shuffles).
        Only the snapshot ``write_bucketed`` committed is bucketed: once a
        later write (append, merge, compaction) has replaced or extended
        it, this raises ValueError — ``read_index`` still reads the index,
        and a new ``write_bucketed`` buckets it again."""
        _, dirs, _, _, settings = txn.snapshot(self.path(name))
        if dirs != [settings.get("bucketed_dir")]:
            raise ValueError(
                f"index {name!r} holds no bucketed snapshot: it was never "
                "written by write_bucketed, or a later write replaced it"
            )
        return self.spark.table(self._table_name(name))

    def _table_name(self, name: str) -> str:
        return "esidx_" + re.sub(r"[^A-Za-z0-9_]", "_", name)


def ccs_read(
    clusters: dict[str, Catalog],
    resource: str,
    query: str | dict | None = None,
) -> DataFrame:
    """ES cross-cluster search: ``cluster:index`` resource parts resolved
    against a map of named catalogs (the remote-cluster registry
    analogue).  A part without a cluster prefix resolves in the
    ``"local"`` catalog, like ES.  Per-cluster reads stay independent
    scans (pushdown per branch, exactly the multi-index union story) and
    union by name with a ``_cluster`` column — which is how ES tags CCS
    hits (``_index`` = ``cluster:index``)."""
    if not clusters:
        raise ValueError("ccs_read needs at least one cluster")
    parts: list[tuple[str, str]] = []
    for p in (x.strip() for x in resource.split(",")):
        if not p:
            continue
        if ":" in p:
            cluster, pattern = p.split(":", 1)
        else:
            cluster, pattern = "local", p
        if cluster not in clusters:
            raise ValueError(f"unknown cluster {cluster!r} in {p!r}")
        parts.append((cluster, pattern))
    if not parts:
        raise ValueError(f"no resource parts in {resource!r}")
    frames = []
    for cluster, pattern in parts:
        df = clusters[cluster].read_index(pattern, query=query)
        frames.append(df.withColumn("_cluster", F.lit(cluster)))
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2, allowMissingColumns=True)
    return out


def dedupe_last(df: DataFrame, key: str) -> DataFrame:
    """Last-write-wins within a batch on ``key`` (ES bulk ordering parity).
    Uses a monotonically-increasing ordinal as the tiebreak; max_by keeps it
    a single hash aggregate (no window sort)."""
    ordered = df.withColumn("_ord", F.monotonically_increasing_id())
    cols = [c for c in df.columns if c != key]
    agg = ordered.groupBy(key).agg(
        *[F.max_by(F.col(c), F.col("_ord")).alias(c) for c in cols]
    )
    return agg.select(df.columns)


def format_index_pattern(pattern: str) -> Column:
    """Compile ``"logs-{field}"`` / ``"{field|date:yyyy-MM-dd}"`` into a
    Column (A7: AbstractIndexExtractor/IndexFormatter parity)."""
    pieces: list[Column] = []
    pos = 0
    for m in _PATTERN_RE.finditer(pattern):
        if m.start() > pos:
            pieces.append(F.lit(pattern[pos : m.start()]))
        field, _, datefmt = m.groups()
        col = F.col(field)
        if datefmt:
            pieces.append(F.date_format(col, datefmt))
        else:
            pieces.append(col.cast("string"))
        pos = m.end()
    if pos < len(pattern):
        pieces.append(F.lit(pattern[pos:]))
    if not pieces:
        return F.lit(pattern)
    return F.concat(*pieces) if len(pieces) > 1 else pieces[0]

"""Snapshot-versioned parquet table catalog — the sandbox stand-in for Iceberg.

The north rule mandates Iceberg tables with resumable checkpoints. This
container has no Iceberg runtime jars, so we implement the minimal subset the
crawl engine needs, with the same *shape* as Iceberg's metadata design so the
production swap is mechanical (``MERGE INTO`` / snapshot ids / partition-pruned
rewrites):

  * a table is a directory of partition buckets ``p=K`` (K = host-salt bucket,
    north_rule "explicit host-hash salting");
  * each commit writes ONLY the changed partitions under a new version dir
    ``p=K/v{N}/part-*.parquet`` — copy-on-write at *partition* granularity,
    exactly what Iceberg's partition-level overwrite does. Untouched
    partitions are never rewritten or rescanned, so per-wave commit cost is
    O(touched hosts), not O(frontier) — the property that keeps a 10^10-row
    frontier writable;
  * a JSON snapshot log (``_meta.json``) maps snapshot_id -> {partition ->
    [version, ...]}: a partition's file set is the LIST of its version dirs
    (one after a rewrite, several after fast-appends). The file is swapped
    atomically (tmp + rename) so a killed run resumes from the last complete
    wave (Crawler resume semantics, reference
    src/kermit/QueueSystem.coffee:17-34 restore + spec
    QueueSystem.spec.coffee:45-54);
  * every commit — ``create``, ``overwrite_partitions``, ``merge_write`` —
    goes through ONE routine (``_commit``): claim a version, run one write
    job, build the new partition map, mark emptied partitions, and CAS the
    log. A new snapshot's properties are the previous snapshot's properties
    updated with the commit's own (``ts`` always fresh), so state such as
    the crawl's resume point (``wave``) survives every writer without being
    restated;
  * reads list the per-partition current paths from the manifest (an Iceberg
    manifest-list analog) and hand Spark an explicit file set with
    ``basePath`` so the partition column is recovered — a scan of snapshot S
    never sees in-flight writes (snapshot isolation). The schema comes from
    the table metadata (the ``_schema`` stamp) or the caller
    (``read_partitions``), never from a data-file footer, so planning a
    read runs no Spark job.

At 100 TB this module is replaced by ``spark.read.format("iceberg")`` +
``MERGE INTO``; every caller goes through the three commit faces so that
swap touches one file.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "p"


class CommitConflictError(RuntimeError):
    """Another writer committed a snapshot after this commit read its base —
    the Iceberg optimistic-concurrency outcome. The attempted commit wrote
    NOTHING to the snapshot log (its orphan data files are swept by
    expire_snapshots); reload table state and retry the whole operation."""


@dataclass
class TableMeta:
    current_snapshot: int
    # snapshot_id (str key for JSON) -> {partition(str) -> [version, ...]}
    snapshots: dict = field(default_factory=dict)
    # free-form per-snapshot properties (wave number, counts), carried
    # forward from snapshot to snapshot — lineage hook
    properties: dict = field(default_factory=dict)


class SnapshotCatalog:
    """Filesystem catalog rooted at ``root``; one subdirectory per table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ----------------------------------------------------------

    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_meta.json")

    def _load_meta(self, table: str) -> TableMeta | None:
        path = self._meta_path(table)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            raw = json.load(f)
        # logs written before every partition held a version LIST map a
        # rewritten partition to a bare version int
        snapshots = {
            sid: {part: v if isinstance(v, list) else [v] for part, v in partmap.items()}
            for sid, partmap in raw["snapshots"].items()
        }
        return TableMeta(raw["current_snapshot"], snapshots, raw.get("properties", {}))

    def _load(self, table: str) -> TableMeta:
        """``_load_meta`` of a table that must exist."""
        meta = self._load_meta(table)
        if meta is None:
            raise FileNotFoundError(f"table {table!r} does not exist in {self.root}")
        return meta

    def _store_meta(self, table: str, meta: TableMeta) -> None:
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        payload = {
            "current_snapshot": meta.current_snapshot,
            "snapshots": meta.snapshots,
            "properties": meta.properties,
        }
        fd, tmp = tempfile.mkstemp(dir=tdir, prefix="_meta", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._meta_path(table))  # atomic commit point

    # -- optimistic concurrency (Iceberg commit-protocol analog) ------------

    def _claims_dir(self, table: str) -> str:
        return os.path.join(self.root, table, "_claims")

    def _claim_version(self, table: str, base: int) -> int:
        """Reserve a globally-unique snapshot/version id (O_EXCL marker
        file): concurrent writers sharing a base snapshot get DISTINCT ids,
        so their data files (``p=K/v{id}``, ``_staging_v{id}``) can never
        collide on disk. A claim that never commits (crash, lost CAS) just
        skips an id; its orphan v-dirs are unreferenced and swept by
        expire_snapshots/rollback_to."""
        d = self._claims_dir(table)
        os.makedirs(d, exist_ok=True)
        n = base + 1
        while True:
            try:
                fd = os.open(
                    os.path.join(d, f"v{n}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                return n
            except FileExistsError:
                n += 1

    def _commit_meta(self, table: str, meta: TableMeta, expected_base: int | None) -> None:
        """Compare-and-swap commit point: the snapshot log is replaced only
        if its current snapshot is still ``expected_base`` (what this commit
        loaded; None replaces any log — ``create``); otherwise
        CommitConflictError — the loser retries against fresh state instead
        of silently overwriting the winner (the Iceberg
        atomic-swap-with-retry protocol). The check+swap critical section is
        an flock on a sidecar lockfile — POSIX-local like the rest of this
        sandbox catalog; the production swap point is Iceberg's catalog CAS.

        Known benign race (documented, matching the module's maintenance
        contract): an expire_snapshots that lands between this commit's load
        and its CAS keeps current_snapshot unchanged, so the commit passes
        the check and re-records the just-expired snapshot ids; their data
        dirs are already gone, so those log entries read as empty and the
        next expire removes them again."""
        lock_path = os.path.join(self.root, table, "_meta.lock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                cur = self._load_meta(table)
                if cur is not None and expected_base not in (None, cur.current_snapshot):
                    raise CommitConflictError(
                        f"table {table!r}: base snapshot {expected_base} is stale "
                        f"(current is {cur.current_snapshot}); retry the operation"
                    )
                self._store_meta(table, meta)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def exists(self, table: str) -> bool:
        return self._load_meta(table) is not None

    def current_snapshot(self, table: str) -> int:
        meta = self._load_meta(table)
        return -1 if meta is None else meta.current_snapshot

    def snapshots(self, table: str) -> list[int]:
        """Retained snapshot ids, oldest first (empty if the table does not
        exist) — the listing rollback/expiry tooling walks."""
        meta = self._load_meta(table)
        if meta is None:
            return []
        return sorted(int(s) for s in meta.snapshots)

    def partitions(self, table: str, snapshot: int | None = None) -> list[int]:
        """Partition ids present in a snapshot (default: current) — straight
        from the manifest, no filesystem or Spark work."""
        meta = self._load_meta(table)
        if meta is None:
            return []
        sid = meta.current_snapshot if snapshot is None else snapshot
        return sorted(int(p) for p in meta.snapshots[str(sid)])

    def snapshot_property(self, table: str, snapshot: int | None = None) -> dict:
        meta = self._load_meta(table)
        if meta is None:
            return {}
        sid = meta.current_snapshot if snapshot is None else snapshot
        return meta.properties.get(str(sid), {})

    def schema_stamp(self, table: str) -> str | None:
        """The DDL schema string stamped at ``create`` (and refreshed by
        ``refresh_schema_stamp``) — lets callers detect a table created by
        an older code version BEFORE mixing new-schema files into it, with
        zero file IO (manifest-only)."""
        meta = self._load_meta(table)
        return None if meta is None else meta.properties.get("_schema")

    def refresh_schema_stamp(self, table: str) -> None:
        """Re-stamp ``_schema`` from the table's current files (a
        ``mergeSchema`` read: the stamp being replaced is the one thing this
        must not trust) — call after a schema-evolution backfill so future
        sessions read the migrated schema and skip re-probing."""
        meta = self._load(table)
        meta.properties["_schema"] = _schema_ddl(self.read(table, merge_schema=True))
        self._store_meta(table, meta)

    # -- read --------------------------------------------------------------

    def read(
        self, table: str, snapshot: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """Read a snapshot (default: current). Raises FileNotFoundError if
        the table does not exist — callers create tables explicitly.

        The reader schema is the ``_schema`` stamp in the table metadata
        (written at ``create``), as Iceberg takes it from table metadata:
        no data-file footer is read, so a read launches no Spark job.
        ``merge_schema=True`` instead unions the schema across ALL files
        (parquet ``mergeSchema``) — the migration probe for a table that may
        hold mixed-schema files from before a column existed (rows from
        legacy files surface the new column as NULL); it costs a footer
        read per file."""
        meta = self._load(table)
        sid = meta.current_snapshot if snapshot is None else snapshot
        base = os.path.join(self.root, table)
        paths = _version_paths(base, meta.snapshots[str(sid)])
        if merge_schema and paths:
            return (
                self.spark.read.option("basePath", base)
                .option("mergeSchema", "true")
                .parquet(*paths)
            )
        # an empty table replays the schema stamp written at create
        return self._scan(base, meta.properties["_schema"], paths)

    def read_partitions(self, table: str, parts: Iterable[int], schema) -> DataFrame:
        """The current snapshot's rows in partitions ``parts`` only, read
        under the caller's ``schema`` (StructType or DDL, PARTITION_COL
        included) instead of the ``_schema`` stamp — the read-back of data
        the caller just wrote, whose schema may be newer than a stamp left
        by older code. Only the named partitions' version dirs reach Spark,
        so the file listing stays O(len(parts)) however many partitions the
        table holds, and no job runs. A partition absent from the snapshot
        contributes no rows; if none is present the frame is empty."""
        meta = self._load(table)
        base = os.path.join(self.root, table)
        paths = _version_paths(base, meta.snapshots[str(meta.current_snapshot)], parts)
        return self._scan(base, schema, paths)

    def _scan(self, base: str, schema, paths: list[str]) -> DataFrame:
        """Parquet scan of ``paths`` under ``schema``; no paths → an empty
        frame of ``schema``. The v{N} dir is not key=value, so it is
        invisible to partition discovery: only PARTITION_COL comes back as
        a partition column."""
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("basePath", base).parquet(*paths)

    # -- write / commit ----------------------------------------------------

    def create(
        self,
        table: str,
        df: DataFrame,
        num_partitions: int,
        properties: dict | None = None,
        align: bool = True,
    ) -> int:
        """Create table from ``df`` (must already carry PARTITION_COL in
        [0, num_partitions)) as snapshot 0, every partition at v0. A previous
        incarnation of the table is replaced: nothing carries over from it."""
        return self._commit(table, df, (), create=True, properties=properties, align=align)[0]

    def overwrite_partitions(
        self,
        table: str,
        df: DataFrame,
        touched: Iterable[int] | None = None,
        properties: dict | None = None,
        align: bool = True,
    ) -> int:
        """Commit a new snapshot replacing ONLY the partitions present in
        ``df`` (or the explicit ``touched`` set — pass it when a partition
        becomes empty and must still be replaced). Partitions absent from both
        keep their previous version — zero IO for untouched hosts."""
        touched = () if touched is None else touched
        return self._commit(table, df, touched, properties=properties, align=align)[0]

    def merge_write(
        self,
        table: str,
        df: DataFrame,
        replace_parts: Iterable[int],
        properties: dict | None = None,
        extra_properties=None,
        align: bool = True,
    ) -> tuple[int, set[int]]:
        """Mixed replace/append commit in ONE write job (Iceberg fast-append
        analog). A partition present in ``df``:
          * in ``replace_parts`` → its file list is REPLACED (copy-on-write
            MERGE — the caller wrote existing-rows-merged-with-changes);
          * otherwise → the new files are APPENDED to its existing list
            (pure inserts: no old file rewritten, commit cost O(new data)).
        Partitions absent from ``df`` keep their current files untouched.

        ``extra_properties``: zero-arg callable evaluated AFTER the write job
        — the hook for harvesting Observation metrics (e.g. row counts that
        ride on the write) into snapshot properties.
        Returns (snapshot_id, written partition ids).
        """
        return self._commit(
            table, df, replace_parts, append=True, properties=properties,
            extra_properties=extra_properties, align=align,
        )

    def _commit(
        self,
        table: str,
        df: DataFrame,
        replace: Iterable[int],
        append: bool = False,
        properties: dict | None = None,
        extra_properties=None,
        align: bool = True,
        create: bool = False,
    ) -> tuple[int, set[int]]:
        """The one commit path behind ``create``, ``overwrite_partitions``
        and ``merge_write``: claim a version, write ``df`` in one job, and
        CAS a snapshot whose partition map is the base's with every written
        partition's list replaced — or, with ``append``, extended unless the
        partition is in ``replace``. A partition in ``replace`` that the
        write left empty gets an empty version dir when the base snapshot
        has it, so its old rows do not resurrect. Properties are the base
        snapshot's updated with ``properties`` and then
        ``extra_properties()`` (evaluated after the write), with a fresh
        ``ts``. Returns (snapshot id, written partitions)."""
        base = os.path.join(self.root, table)
        if create:
            # re-creating over a previous incarnation: its version dirs would
            # be listed as written below (resurrecting its rows) and its
            # claims would make the new table's first commits skip ids
            for entry in os.listdir(base) if os.path.isdir(base) else ():
                if entry.startswith(f"{PARTITION_COL}=") or entry == "_claims":
                    shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
            meta = TableMeta(-1, {}, {"_schema": _schema_ddl(df)})
        else:
            meta = self._load(table)
        base_sid = meta.current_snapshot
        replace = {int(p) for p in replace}
        ver = self._claim_version(table, base_sid)
        self._write_partitions(table, df, ver, align=align)
        written = set(self._list_written_partitions(base, ver))
        base_map = meta.snapshots.get(str(base_sid), {})
        partmap = dict(base_map)
        for part in written:
            key = str(part)
            appended = append and part not in replace and key in partmap
            partmap[key] = partmap[key] + [ver] if appended else [ver]
        emptied = sorted(p for p in replace - written if str(p) in base_map)
        for part in self._write_empty_partitions(table, base, ver, emptied):
            partmap[str(part)] = [ver]
        props = {**meta.properties.get(str(base_sid), {}), **(properties or {})}
        if extra_properties is not None:
            props.update(extra_properties())
        props["ts"] = time.time()
        meta.snapshots[str(ver)] = partmap
        meta.properties[str(ver)] = props
        meta.current_snapshot = ver
        self._commit_meta(table, meta, None if create else base_sid)
        return ver, written

    def read_incremental(
        self,
        table: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Rows added or changed between two snapshots — the Iceberg
        incremental-scan / CDC-read analog, resolved from the MANIFEST so
        unchanged data is never touched:

          * partition with an identical version list in both snapshots →
            skipped entirely (zero IO). At 10^10-frontier scale this is the
            whole point: a wave touches O(batch) partitions, so the
            incremental read costs O(changed data), not O(table);
          * partition whose list grew by fast-appends (old list is a prefix)
            → ONLY the appended v-dirs are read; merge_write appends are
            pure inserts, so those files ARE the delta — no old rows read;
          * partition rewritten by a copy-on-write merge (or brand new with
            a history that can't prove append-only) → new files minus old
            files via ``exceptAll``, pruned to just the rewritten
            partitions on both sides.

        ``compare_cols`` restricts the rewritten-partition set difference to
        a column subset (and the result's columns) — required when the table
        carries map-typed columns (not comparable in a set difference),
        useful when only key columns define "changed". Deletions are not
        emitted (the crawl tables never hard-delete inside a partition
        except via ``evict``, which callers track explicitly).

        Raises ``KeyError`` if either snapshot has been expired — same
        contract as Iceberg: incremental reads need retained history
        (``expire_snapshots(keep_last=k)`` bounds how far back you can go).
        """
        meta = self._load(table)
        to_sid = meta.current_snapshot if to_snapshot is None else to_snapshot
        for sid in (from_snapshot, to_sid):
            if str(sid) not in meta.snapshots:
                raise KeyError(
                    f"snapshot {sid} of table {table!r} is not retained "
                    "(expired?) — incremental reads need both endpoints"
                )
        old_map = meta.snapshots[str(from_snapshot)]
        new_map = meta.snapshots[str(to_sid)]
        base = os.path.join(self.root, table)

        append_paths: list[str] = []
        rewritten_new: list[str] = []
        rewritten_old: list[str] = []
        for part, nv in new_map.items():
            ov = old_map.get(part)
            if ov is None:
                # partition born after from_snapshot: every file is new data
                append_paths += _version_paths(base, {part: nv})
                continue
            if nv == ov:
                continue  # untouched — zero IO
            if len(nv) > len(ov) and nv[: len(ov)] == ov:
                append_paths += _version_paths(base, {part: nv[len(ov):]})
            else:
                rewritten_new += _version_paths(base, {part: nv})
                rewritten_old += _version_paths(base, {part: ov})

        cols = compare_cols
        schema = meta.properties["_schema"]
        pieces: list[DataFrame] = []
        if append_paths:
            df = self._scan(base, schema, append_paths)
            pieces.append(df.select(*cols) if cols else df)
        if rewritten_new:
            new_rows = self._scan(base, schema, rewritten_new)
            old_rows = self._scan(base, schema, rewritten_old)
            if cols:
                new_rows = new_rows.select(*cols)
                old_rows = old_rows.select(*cols)
            pieces.append(new_rows.exceptAll(old_rows))
        if not pieces:
            empty = self.read(table, snapshot=to_sid).limit(0).filter(F.lit(False))
            return empty.select(*cols) if cols else empty
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        return out

    def compact(self, table: str, properties: dict | None = None) -> int:
        """Rewrite every partition whose file list has grown through
        fast-append commits back to a single file set — the Iceberg
        'rewrite data files' maintenance action. Partitions already at one
        version are untouched (zero IO). Returns the new snapshot id (or
        the current one if nothing needed compaction).

        Run it between crawls (or every k waves on hot tables): appended
        file sets otherwise accumulate until a partition is next rewritten
        by a status merge, degrading scan planning on long-running
        frontiers. Like every commit, the new snapshot carries the current
        one's properties (stats such as the frontier's n_rows/url_epoch
        describe the data, which compaction does not change)."""
        meta = self._load(table)
        partmap = meta.snapshots[str(meta.current_snapshot)]
        multi = sorted(int(p) for p, vers in partmap.items() if len(vers) > 1)
        if not multi:
            return meta.current_snapshot
        sub = self.read(table).filter(F.col(PARTITION_COL).isin(multi))
        return self.overwrite_partitions(table, sub, multi, properties=properties)

    def rollback_to(self, table: str, snapshot: int) -> int:
        """Make ``snapshot`` the current snapshot again — the Iceberg
        ``rollback_to_snapshot`` maintenance action, the recovery tool for a
        bad wave (mis-configured filter flooded the frontier, a poisoned
        robots refresh blocked everything): roll back, fix, re-crawl.

        Snapshots NEWER than the target are dropped from the log, and
        version dirs no remaining snapshot references are deleted
        IMMEDIATELY (not deferred to expire_snapshots): commit ids are
        linear, so the commit after a rollback reuses the dropped
        numbering — a surviving orphan v-dir at that version would be
        picked up by the post-write partition listing and resurrect the
        rolled-back rows. Reads of the target and older retained snapshots
        are unaffected. Raises ``KeyError`` for an unknown/expired
        target."""
        meta = self._load(table)
        if str(snapshot) not in meta.snapshots:
            raise KeyError(
                f"snapshot {snapshot} of table {table!r} is not retained"
            )
        cur_sid = meta.current_snapshot
        meta.current_snapshot = snapshot
        # the dropped ids' version claims are released with their v-dirs:
        # commit numbering after a rollback REUSES the dropped range (the
        # contract above), which is safe exactly because the sweep deletes
        # the orphan v-dirs first
        self._sweep(table, meta, [int(s) for s in meta.snapshots if int(s) > snapshot])
        self._commit_meta(table, meta, expected_base=cur_sid)
        return snapshot

    def expire_snapshots(self, table: str, keep_last: int = 1) -> int:
        """Remove snapshots older than the most recent ``keep_last`` and
        delete every version dir no retained snapshot references — the
        Iceberg ``expire_snapshots`` maintenance action. Without it a
        long-running crawl accumulates one v{N} dir per touched partition per
        wave forever.

        The current snapshot is always retained; reads of retained snapshots
        and resume are unaffected (their file lists are untouched). Returns
        the number of version dirs deleted."""
        meta = self._load(table)
        sids = sorted(int(s) for s in meta.snapshots)
        retained = set(sids[-max(keep_last, 1):]) | {meta.current_snapshot}
        expired = [s for s in sids if s not in retained]
        removed = self._sweep(table, meta, expired)
        if expired or removed:
            self._commit_meta(table, meta, expected_base=meta.current_snapshot)
        return removed

    def _sweep(self, table: str, meta: TableMeta, drop: list[int]) -> int:
        """Drop snapshots ``drop`` from ``meta``, then delete every version
        dir no remaining snapshot references and the dropped ids' version
        claims (expired ids can never be re-claimed: claims start above the
        current snapshot). The caller commits ``meta``. Returns the number
        of version dirs deleted."""
        for s in drop:
            meta.snapshots.pop(str(s), None)
            meta.properties.pop(str(s), None)
        referenced: dict[str, set[int]] = {}
        for partmap in meta.snapshots.values():
            for part, vers in partmap.items():
                referenced.setdefault(part, set()).update(vers)
        base = os.path.join(self.root, table)
        removed = 0
        for entry in os.listdir(base):
            if not entry.startswith(f"{PARTITION_COL}="):
                continue
            pdir = os.path.join(base, entry)
            keep = referenced.get(entry.split("=", 1)[1], set())
            for vdir in os.listdir(pdir):
                if vdir.startswith("v") and vdir[1:].isdigit() and int(vdir[1:]) not in keep:
                    shutil.rmtree(os.path.join(pdir, vdir), ignore_errors=True)
                    removed += 1
        for s in drop:
            claim = os.path.join(self._claims_dir(table), f"v{s}")
            if os.path.exists(claim):
                os.unlink(claim)
        return removed

    # -- internals ---------------------------------------------------------

    def _write_empty_partitions(
        self, table: str, base: str, ver: int, parts: list[int]
    ) -> list[int]:
        """Materialize an empty v{ver} dir for each partition in ``parts`` so
        reads of the new snapshot don't resurrect old rows. ONE empty write +
        a file copy per partition — a Spark write job per empty partition was
        a measurable per-commit fixed cost. Returns ``parts``."""
        if not parts:
            return parts
        empty = self.read(table).limit(0).filter(F.lit(False))
        tmpl = os.path.join(base, f"_empty_v{ver}")
        empty.drop(PARTITION_COL).coalesce(1).write.mode("overwrite").parquet(tmpl)
        for part in parts:
            pdir = os.path.join(base, f"{PARTITION_COL}={part}", f"v{ver}")
            if os.path.exists(pdir):
                shutil.rmtree(pdir, ignore_errors=True)
            os.makedirs(os.path.dirname(pdir), exist_ok=True)
            shutil.copytree(tmpl, pdir)
        shutil.rmtree(tmpl, ignore_errors=True)
        return parts

    def _write_partitions(self, table: str, df: DataFrame, ver: int, align: bool = True) -> None:
        """Write df under <table>/p=K/v{ver}/ for each partition present.

        Implemented with a single partitionBy write into a staging dir, then a
        directory rename per partition — one Spark job regardless of the
        number of touched partitions (a per-partition ``.filter().write``
        loop would launch P jobs and rescan df P times).

        ``align=True`` repartitions on the partition column first: without it
        every task holds a writer for every partition dir (tasks × partitions
        small files + writer memory); with it each partition's rows land in
        one task → one file per partition. Pass ``align=False`` when the df
        covers FEW partition values (e.g. the wave-partitioned documents
        table writes ONE value) — there the repartition would funnel the
        whole write through a single task, serializing the parquet encode;
        unaligned, T tasks write T files into the same partition dir.
        """
        base = os.path.join(self.root, table)
        staging = os.path.join(base, f"_staging_v{ver}")
        out = df.repartition(F.col(PARTITION_COL)) if align else df
        (
            out.write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(staging)
        )
        for entry in os.listdir(staging):
            if not entry.startswith(f"{PARTITION_COL}="):
                continue
            part = entry.split("=", 1)[1]
            dest = os.path.join(base, f"{PARTITION_COL}={part}", f"v{ver}")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            # A run killed mid-commit (after some renames, before the
            # _meta.json swap) leaves orphan v{ver} dirs that are NOT
            # referenced by any snapshot — the re-run recomputes the same
            # version and must be able to overwrite them, otherwise
            # os.replace fails with ENOTEMPTY and resume breaks.
            if os.path.exists(dest):
                shutil.rmtree(dest, ignore_errors=True)
            os.replace(os.path.join(staging, entry), dest)
        # remove staging remnants (_SUCCESS etc.)
        for leftover in os.listdir(staging):
            p = os.path.join(staging, leftover)
            if os.path.isfile(p):
                os.remove(p)
        os.rmdir(staging)

    def _list_written_partitions(self, base: str, ver: int) -> list[int]:
        parts = []
        if not os.path.isdir(base):
            return parts
        for entry in os.listdir(base):
            if entry.startswith(f"{PARTITION_COL}="):
                if os.path.isdir(os.path.join(base, entry, f"v{ver}")):
                    parts.append(int(entry.split("=", 1)[1]))
        return sorted(parts)


def _version_paths(base: str, partmap: dict, parts: Iterable[int] | None = None) -> list[str]:
    """The version dirs ``partmap`` lists for ``parts`` (default: every
    partition), in partition order; a partition it lacks has none."""
    keys = sorted({int(p) for p in (partmap if parts is None else parts)})
    return [
        os.path.join(base, f"{PARTITION_COL}={k}", f"v{v}")
        for k in keys
        for v in partmap.get(str(k), ())
    ]


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

"""Snapshot catalog: create/read/partition-pruned overwrite/snapshot
isolation/resume — the Iceberg-analog semantics the engine depends on
(QueueSystem persistence + restore, QueueSystem.spec.coffee:45-54)."""

import os

import pytest
from pyspark.sql import functions as F

from kermit_spark.catalog import SnapshotCatalog
from test_job_budget import _jobs


@pytest.fixture
def cat(spark, tmp_path):
    return SnapshotCatalog(spark, str(tmp_path / "cat"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "p int, k long, v string")


def test_create_and_read_roundtrip(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    got = sorted((r["p"], r["k"], r["v"]) for r in cat.read("t").collect())
    assert got == [(0, 1, "a"), (1, 2, "b")]
    assert cat.current_snapshot("t") == 0


def test_overwrite_touches_only_given_partitions(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b"), (2, 3, "c")]), 4)
    cat.overwrite_partitions("t", _df(spark, [(1, 20, "B")]), [1])
    got = sorted((r["p"], r["k"], r["v"]) for r in cat.read("t").collect())
    assert got == [(0, 1, "a"), (1, 20, "B"), (2, 3, "c")]
    # old snapshot still readable (time travel / isolation)
    old = sorted((r["p"], r["k"]) for r in cat.read("t", snapshot=0).collect())
    assert old == [(0, 1), (1, 2), (2, 3)]


def test_emptying_a_partition_does_not_resurrect_rows(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    empty = _df(spark, []).filter(F.lit(False))
    cat.overwrite_partitions("t", empty, [1])
    got = [(r["p"], r["k"]) for r in cat.read("t").collect()]
    assert got == [(0, 1)]


def test_create_over_an_existing_table_keeps_none_of_its_rows(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    cat.merge_write("t", _df(spark, [(2, 3, "c")]), replace_parts=())
    cat.create("t", _df(spark, [(0, 10, "x")]), 4)
    assert [(r["p"], r["k"]) for r in cat.read("t").collect()] == [(0, 10)]
    cat.merge_write("t", _df(spark, [(3, 4, "d")]), replace_parts=())
    assert sorted((r["p"], r["k"]) for r in cat.read("t").collect()) == [(0, 10), (3, 4)]
    assert cat.current_snapshot("t") == 1


def test_commit_is_atomic_rename(spark, cat, tmp_path):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)
    # no stray staging dirs after commit
    tdir = os.path.join(str(tmp_path / "cat"), "t")
    assert not [d for d in os.listdir(tdir) if d.startswith("_staging")]


def test_resume_from_new_catalog_instance(spark, cat, tmp_path):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)
    cat.overwrite_partitions("t", _df(spark, [(0, 9, "z")]), [0], properties={"wave": 3})
    # a fresh catalog object (new driver process analog) sees committed state
    cat2 = SnapshotCatalog(spark, str(tmp_path / "cat"))
    assert cat2.current_snapshot("t") == 1
    assert cat2.snapshot_property("t")["wave"] == 3
    assert [(r["k"], r["v"]) for r in cat2.read("t").collect()] == [(9, "z")]


def test_rerun_after_kill_mid_commit_is_idempotent(spark, cat, tmp_path):
    """A run killed between per-partition renames and the _meta.json swap
    leaves orphan v{N} dirs; the re-run recomputes the same snapshot version
    and must overwrite them (crash-resume contract)."""
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    # simulate the torn commit: v1 dir exists for p=1 but meta still says v0
    orphan = os.path.join(str(tmp_path / "cat"), "t", "p=1", "v1")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "stale.parquet"), "w") as f:
        f.write("torn")
    cat.overwrite_partitions("t", _df(spark, [(1, 20, "B")]), [1])
    got = sorted((r["p"], r["k"], r["v"]) for r in cat.read("t").collect())
    assert got == [(0, 1, "a"), (1, 20, "B")]


def test_merge_write_appends_then_compact_folds(spark, cat):
    """Fast-append commits grow a partition's file list; compact() folds it
    back to one set with identical rows and carried-forward properties."""
    cat.create("t", _df(spark, [(0, 1, "a")]), 4, properties={"n_rows": 1})
    # pure-insert commit: partition 0 gets an APPENDED file set, partition 1 a new one
    cat.merge_write("t", _df(spark, [(0, 2, "b"), (1, 3, "c")]), replace_parts=set(),
                    properties={"n_rows": 3})
    meta_vers = cat._load_meta("t").snapshots["1"]["0"]
    assert isinstance(meta_vers, list) and len(meta_vers) == 2
    got = sorted((r["p"], r["k"], r["v"]) for r in cat.read("t").collect())
    assert got == [(0, 1, "a"), (0, 2, "b"), (1, 3, "c")]

    sid = cat.compact("t")
    assert cat._load_meta("t").snapshots[str(sid)]["0"] == [sid]  # single version again
    got2 = sorted((r["p"], r["k"], r["v"]) for r in cat.read("t").collect())
    assert got2 == got
    assert cat.snapshot_property("t")["n_rows"] == 3  # stats carried forward
    # nothing multi-versioned left: compact is a no-op now
    assert cat.compact("t") == sid


def test_commit_carries_previous_properties_with_fresh_ts(spark, cat):
    """Every commit face starts its snapshot's properties from the previous
    snapshot's: keys the commit does not restate survive, keys it states
    win, and ``ts`` is always the commit's own."""
    cat.create("t", _df(spark, [(0, 1, "a")]), 2, properties={"wave": 3, "n_rows": 1})
    ts0 = cat.snapshot_property("t")["ts"]
    cat.overwrite_partitions("t", _df(spark, [(0, 2, "b")]), [0])
    props1 = cat.snapshot_property("t")
    assert (props1["wave"], props1["n_rows"]) == (3, 1) and props1["ts"] > ts0
    cat.merge_write("t", _df(spark, [(1, 3, "c")]), replace_parts=(), properties={"wave": 4})
    props2 = cat.snapshot_property("t")
    assert (props2["wave"], props2["n_rows"]) == (4, 1) and props2["ts"] > props1["ts"]


def test_mixed_int_and_list_manifest_log_stays_readable(spark, cat, tmp_path):
    """A snapshot log whose rewritten partitions map to a bare version int
    (older writers) next to appended version lists reads, appends,
    compacts, expires and rolls back like an all-list log."""
    import json

    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)  # snap 0
    cat.overwrite_partitions("t", _df(spark, [(0, 10, "x")]), [0])  # snap 1
    cat.merge_write("t", _df(spark, [(1, 3, "c")]), replace_parts=())  # snap 2
    path = os.path.join(str(tmp_path / "cat"), "t", "_meta.json")
    with open(path) as f:
        raw = json.load(f)
    for partmap in raw["snapshots"].values():
        for part, vers in partmap.items():
            if len(vers) == 1:
                partmap[part] = vers[0]
    assert raw["snapshots"]["2"] == {"0": 1, "1": [0, 2]}
    with open(path, "w") as f:
        json.dump(raw, f)

    assert _rows(cat.read("t")) == [(0, 10, "x"), (1, 2, "b"), (1, 3, "c")]
    assert _rows(cat.read_incremental("t", 1)) == [(1, 3, "c")]
    cat.merge_write("t", _df(spark, [(0, 11, "y")]), replace_parts=())  # snap 3
    assert cat._load_meta("t").snapshots["3"]["0"] == [1, 3]
    assert _rows(cat.read_incremental("t", 2)) == [(0, 11, "y")]
    sid = cat.compact("t")  # snap 4: both partitions folded
    want = [(0, 10, "x"), (0, 11, "y"), (1, 2, "b"), (1, 3, "c")]
    assert _rows(cat.read("t")) == want
    assert cat._load_meta("t").snapshots[str(sid)] == {"0": [sid], "1": [sid]}
    assert cat.rollback_to("t", 2) == 2
    assert _rows(cat.read("t")) == [(0, 10, "x"), (1, 2, "b"), (1, 3, "c")]
    # snapshots 0 and 1 expire: p=0/v0 goes, snapshot 2's int entry keeps
    # p=0/v1 and its list keeps p=1/v0 and p=1/v2
    assert cat.expire_snapshots("t", keep_last=1) == 1
    assert _rows(cat.read("t")) == [(0, 10, "x"), (1, 2, "b"), (1, 3, "c")]
    pdir = os.path.join(str(tmp_path / "cat"), "t", "p=0")
    assert sorted(os.listdir(pdir)) == ["v1"]


def test_extend_minhash_index_keeps_build_parameters(spark, cat):
    """The shingle/hash parameters stamped at build stay readable from the
    buckets table's current snapshot after an extend."""
    from kermit_spark.ops.dedup import build_minhash_index, extend_minhash_index

    params = dict(k=3, num_hashes=8, num_bands=2, max_bucket=5)
    docs = spark.createDataFrame([(1, "a b c d e"), (2, "f g h i j")], "id long, text string")
    build_minhash_index(cat, docs, **params)
    built = dict(cat.snapshot_property("mh_buckets"))
    extend_minhash_index(
        cat, spark.createDataFrame([(3, "a b c d x")], "id long, text string"), **params
    )
    props = cat.snapshot_property("mh_buckets")
    assert cat.current_snapshot("mh_buckets") == 1
    assert {k: props[k] for k in params} == {k: built[k] for k in params}
    assert props["stride"] == 1


def test_merge_write_empty_replace_partition_does_not_resurrect(spark, cat):
    """A partition named in replace_parts whose merged result is EMPTY must
    still have its file list replaced — otherwise the old files resurrect
    stale rows in the new snapshot (ADVICE r2, medium)."""
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    empty = _df(spark, []).filter(F.lit(False))
    cat.merge_write("t", empty, replace_parts=[1])
    got = [(r["p"], r["k"]) for r in cat.read("t").collect()]
    assert got == [(0, 1)]
    # previous snapshot still shows the row (isolation intact)
    assert len(cat.read("t", snapshot=0).collect()) == 2


def test_expire_snapshots_removes_old_versions_keeps_current(spark, cat, tmp_path):
    """Iceberg expire_snapshots analog: version dirs unreferenced by retained
    snapshots are deleted; current + retained snapshots stay readable and a
    fresh catalog instance (resume) still works."""
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    for i in range(3):
        cat.overwrite_partitions("t", _df(spark, [(0, 10 + i, "x")]), [0])
    tdir = os.path.join(str(tmp_path / "cat"), "t", "p=0")
    assert len([d for d in os.listdir(tdir) if d.startswith("v")]) == 4
    removed = cat.expire_snapshots("t", keep_last=2)
    assert removed == 2  # v0, v1 of p=0 gone (p=1 v0 still referenced)
    vers = sorted(d for d in os.listdir(tdir) if d.startswith("v"))
    assert vers == ["v2", "v3"]
    # current snapshot reads identically; retained previous snapshot too
    got = sorted((r["p"], r["k"]) for r in cat.read("t").collect())
    assert got == [(0, 12), (1, 2)]
    assert [(r["k"]) for r in cat.read("t", snapshot=2).filter(F.col("p") == 0).collect()] == [11]
    # expired snapshot metadata is gone
    assert "0" not in cat._load_meta("t").snapshots
    # resume path: fresh instance reads the same state
    cat2 = SnapshotCatalog(spark, str(tmp_path / "cat"))
    assert sorted((r["p"], r["k"]) for r in cat2.read("t").collect()) == got
    # idempotent: nothing left to remove
    assert cat.expire_snapshots("t", keep_last=2) == 0


def test_missing_table_raises(cat):
    with pytest.raises(FileNotFoundError):
        cat.read("nope")
    assert not cat.exists("nope")


def test_read_partitions_of_absent_partition_is_empty_without_a_job(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    schema = "p int, k long, v string, extra double"
    df, n_jobs = _jobs(spark.sparkContext, lambda: cat.read_partitions("t", [5], schema))
    assert n_jobs == 0
    assert df.dtypes == [("p", "int"), ("k", "bigint"), ("v", "string"), ("extra", "double")]
    assert df.collect() == []


def test_read_partitions_scans_only_named_partitions_under_caller_schema(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b"), (2, 3, "c")]), 4)
    wide = spark.createDataFrame([(1, 20, "B", 0.5)], "p int, k long, v string, extra double")
    cat.overwrite_partitions("t", wide, [1])
    # the stamp predates ``extra``; the caller's schema keeps it
    assert "extra" not in cat.read("t").columns
    df, n_jobs = _jobs(spark.sparkContext, lambda: cat.read_partitions("t", [1, 2, 7], wide.schema))
    assert n_jobs == 0
    assert {f.split("/p=")[1].split("/")[0] for f in df.inputFiles()} == {"1", "2"}
    got = sorted((r["p"], r["k"], r["v"], r["extra"]) for r in df.collect())
    assert got == [(1, 20, "B", 0.5), (2, 3, "c", None)]


# -- incremental reads (Iceberg incremental-scan / CDC analog) --------------


def _rows(df):
    return sorted((r["p"], r["k"], r["v"]) for r in df.collect())


def test_incremental_appends_read_only_new_files(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b"), (2, 3, "c")]), 4)
    cat.merge_write("t", _df(spark, [(0, 10, "x"), (3, 30, "y")]), replace_parts=())
    inc = cat.read_incremental("t", from_snapshot=0)
    assert _rows(inc) == [(0, 10, "x"), (3, 30, "y")]
    # unchanged partitions (1, 2) contribute ZERO files to the scan —
    # the manifest diff, not a data comparison, prunes them
    files = inc.inputFiles()
    assert files and all("p=1" not in f and "p=2" not in f for f in files)
    # appended partition 0: only the appended v-dir is read, not v0
    assert all("/v0/" not in f for f in files if "p=0" in f)


def test_incremental_rewritten_partition_yields_changed_rows(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    # copy-on-write replace of partition 1: one row updated, one inserted
    cat.merge_write(
        "t", _df(spark, [(1, 2, "B"), (1, 5, "n")]), replace_parts=[1]
    )
    inc = cat.read_incremental("t", from_snapshot=0)
    assert _rows(inc) == [(1, 2, "B"), (1, 5, "n")]
    # partition 0 untouched -> not scanned
    assert all("p=0" not in f for f in inc.inputFiles())


def test_incremental_unchanged_rows_in_rewrite_are_not_emitted(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a"), (0, 2, "b")]), 2)
    # rewrite carries row (0,1,'a') forward unchanged, updates (0,2)
    cat.merge_write("t", _df(spark, [(0, 1, "a"), (0, 2, "B")]), replace_parts=[0])
    inc = cat.read_incremental("t", from_snapshot=0)
    assert _rows(inc) == [(0, 2, "B")]


def test_incremental_between_intermediate_snapshots(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)  # snap 0
    cat.merge_write("t", _df(spark, [(1, 2, "b")]), replace_parts=())  # snap 1
    cat.merge_write("t", _df(spark, [(0, 3, "c")]), replace_parts=())  # snap 2
    assert _rows(cat.read_incremental("t", 0, to_snapshot=1)) == [(1, 2, "b")]
    assert _rows(cat.read_incremental("t", 1, to_snapshot=2)) == [(0, 3, "c")]
    # composition: read(0..2) == read(0..1) + read(1..2)
    assert _rows(cat.read_incremental("t", 0, to_snapshot=2)) == [
        (0, 3, "c"), (1, 2, "b"),
    ]


def test_incremental_same_snapshot_is_empty(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)
    inc = cat.read_incremental("t", 0, to_snapshot=0)
    assert inc.count() == 0
    assert [f.name for f in inc.schema.fields] == ["k", "v", "p"] or set(
        f.name for f in inc.schema.fields
    ) == {"p", "k", "v"}


def test_incremental_compare_cols_projects(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)
    cat.merge_write("t", _df(spark, [(0, 1, "A")]), replace_parts=[0])
    inc = cat.read_incremental("t", 0, compare_cols=["k", "v"])
    assert sorted((r["k"], r["v"]) for r in inc.collect()) == [(1, "A")]
    # restricting to an unchanged projection yields nothing
    inc_k = cat.read_incremental("t", 0, compare_cols=["k"])
    assert inc_k.count() == 0


def test_incremental_expired_from_snapshot_raises(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)
    cat.merge_write("t", _df(spark, [(1, 2, "b")]), replace_parts=())
    cat.merge_write("t", _df(spark, [(1, 3, "c")]), replace_parts=())
    cat.expire_snapshots("t", keep_last=1)
    with pytest.raises(KeyError):
        cat.read_incremental("t", from_snapshot=0)


def test_incremental_equals_full_read_from_empty_history(spark, cat):
    """Replaying create + every incremental must reproduce the current
    snapshot for append-only history (exactly the export-delta use)."""
    cat.create("t", _df(spark, [(0, 1, "a")]), 4)
    cat.merge_write("t", _df(spark, [(1, 2, "b"), (2, 3, "c")]), replace_parts=())
    cat.merge_write("t", _df(spark, [(3, 4, "d")]), replace_parts=())
    replayed = _rows(cat.read("t", snapshot=0).unionByName(
        cat.read_incremental("t", 0)
    ))
    assert replayed == _rows(cat.read("t"))


# -- rollback (Iceberg rollback_to_snapshot analog) --------------------------


def test_rollback_restores_old_snapshot_and_reuses_ids(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 4)                       # snap 0
    cat.merge_write("t", _df(spark, [(1, 2, "bad")]), replace_parts=())  # snap 1
    cat.merge_write("t", _df(spark, [(0, 3, "worse")]), replace_parts=())  # snap 2
    cat.rollback_to("t", 0)
    assert cat.current_snapshot("t") == 0
    assert _rows(cat.read("t")) == [(0, 1, "a")]
    # next commit reuses id 1 and must NOT resurrect the dropped rows
    cat.merge_write("t", _df(spark, [(2, 9, "good")]), replace_parts=())
    assert cat.current_snapshot("t") == 1
    assert _rows(cat.read("t")) == [(0, 1, "a"), (2, 9, "good")]


def test_rollback_deletes_orphaned_version_dirs(spark, cat, tmp_path):
    import os

    cat.create("t", _df(spark, [(0, 1, "a")]), 4)
    cat.merge_write("t", _df(spark, [(1, 2, "b")]), replace_parts=())
    cat.rollback_to("t", 0)
    pdir = os.path.join(str(tmp_path / "cat"), "t", "p=1")
    # partition 1 existed only in the dropped snapshot: its v-dir is gone
    assert not os.path.exists(pdir) or not os.listdir(pdir)


def test_rollback_unknown_snapshot_raises(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 2)
    with pytest.raises(KeyError):
        cat.rollback_to("t", 7)


def test_rollback_then_incremental_reads_stay_consistent(spark, cat):
    cat.create("t", _df(spark, [(0, 1, "a")]), 4)       # snap 0
    cat.merge_write("t", _df(spark, [(1, 2, "b")]), replace_parts=())  # snap 1
    cat.rollback_to("t", 0)
    cat.merge_write("t", _df(spark, [(3, 4, "c")]), replace_parts=())  # snap 1'
    assert _rows(cat.read_incremental("t", 0)) == [(3, 4, "c")]


# ---------------------------------------------------------------------------
# optimistic concurrency (Iceberg commit-protocol analog)
# ---------------------------------------------------------------------------


def test_concurrent_commit_loser_conflicts_not_lost_update(spark, tmp_path):
    """Two writers race a commit on the same base snapshot: the one whose
    CAS lands second must raise CommitConflictError — never silently
    overwrite the winner — and the winner's rows must survive. The loser's
    already-written data files are orphans expire_snapshots sweeps."""
    from kermit_spark.catalog import CommitConflictError

    root = str(tmp_path / "cat")
    c1 = SnapshotCatalog(spark, root)
    c2 = SnapshotCatalog(spark, root)
    c1.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)

    # interleave deterministically: while c2's commit is mid-write (after
    # loading its base snapshot), c1 lands a full commit
    real_write = SnapshotCatalog._write_partitions

    def sneaky_write(self, table, df, ver, align=True):
        real_write(self, table, df, ver, align=align)
        if self is c2:
            c1.overwrite_partitions("t", _df(spark, [(0, 10, "WINNER")]), [0])

    c2._write_partitions = sneaky_write.__get__(c2)
    with pytest.raises(CommitConflictError):
        c2.overwrite_partitions("t", _df(spark, [(1, 99, "LOSER")]), [1])

    got = sorted((r["p"], r["k"], r["v"]) for r in c1.read("t").collect())
    assert got == [(0, 10, "WINNER"), (1, 2, "b")]
    # distinct claimed versions: the loser's data landed in its own v-dir,
    # never the winner's; expire sweeps the unreferenced orphan
    removed = c1.expire_snapshots("t", keep_last=10)
    assert removed >= 1
    got2 = sorted((r["p"], r["k"], r["v"]) for r in c1.read("t").collect())
    assert got2 == got


def test_conflict_loser_can_retry_and_succeed(spark, tmp_path):
    from kermit_spark.catalog import CommitConflictError

    root = str(tmp_path / "cat2")
    c1 = SnapshotCatalog(spark, root)
    c2 = SnapshotCatalog(spark, root)
    c1.create("t", _df(spark, [(0, 1, "a"), (1, 2, "b")]), 4)
    fired = []
    real_write = SnapshotCatalog._write_partitions

    def sneaky_write(self, table, df, ver, align=True):
        real_write(self, table, df, ver, align=align)
        if self is c2 and not fired:
            fired.append(True)
            c1.overwrite_partitions("t", _df(spark, [(0, 10, "w")]), [0])

    c2._write_partitions = sneaky_write.__get__(c2)
    with pytest.raises(CommitConflictError):
        c2.overwrite_partitions("t", _df(spark, [(1, 99, "l")]), [1])
    # retry against fresh state (the documented recovery): now it lands,
    # preserving BOTH writers' effects
    c2.overwrite_partitions("t", _df(spark, [(1, 99, "l")]), [1])
    got = sorted((r["p"], r["k"], r["v"]) for r in c2.read("t").collect())
    assert got == [(0, 10, "w"), (1, 99, "l")]


def test_merge_write_commit_is_cas_guarded(spark, tmp_path):
    from kermit_spark.catalog import CommitConflictError

    root = str(tmp_path / "cat3")
    c1 = SnapshotCatalog(spark, root)
    c2 = SnapshotCatalog(spark, root)
    c1.create("t", _df(spark, [(0, 1, "a")]), 4)
    real_write = SnapshotCatalog._write_partitions

    def sneaky_write(self, table, df, ver, align=True):
        real_write(self, table, df, ver, align=align)
        if self is c2:
            c1.overwrite_partitions("t", _df(spark, [(0, 10, "w")]), [0])

    c2._write_partitions = sneaky_write.__get__(c2)
    with pytest.raises(CommitConflictError):
        c2.merge_write("t", _df(spark, [(1, 5, "new")]), replace_parts=[])
    got = sorted((r["p"], r["k"], r["v"]) for r in c1.read("t").collect())
    assert got == [(0, 10, "w")]

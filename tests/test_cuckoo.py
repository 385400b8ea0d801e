"""Cuckoo-filter URL-seen variant: membership, deletion, serialization,
and hypothesis property tests (no false negatives ever)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kermit_spark.cuckoo import CuckooFilter


def test_insert_contains_delete_roundtrip():
    f = CuckooFilter(1024)
    keys = np.arange(0, 2000, dtype=np.int64) * 7919
    f.insert(keys)
    assert f.contains(keys).all()
    # delete half; deleted keys (mostly) gone, kept keys all present
    f.delete(keys[:1000])
    assert f.contains(keys[1000:]).all()
    # fpp on unrelated keys stays small
    probe = np.arange(1, 20000, dtype=np.int64) * 104729 + 13
    fpp = f.contains(probe).mean()
    assert fpp < 0.05, fpp


def test_serialization_roundtrip():
    f = CuckooFilter(256)
    keys = np.arange(50, dtype=np.int64) * 31
    f.insert(keys)
    g = CuckooFilter.from_bytes(f.to_bytes(), 256)
    assert g.contains(keys).all()
    assert g.n_items == f.n_items


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=300, unique=True))
def test_no_false_negatives_property(keys):
    f = CuckooFilter(2048)
    arr = np.array(keys, dtype=np.int64)
    f.insert(arr)
    assert f.contains(arr).all()


@settings(max_examples=15, deadline=None)
@given(
    st.lists(st.integers(0, 2**40), min_size=2, max_size=200, unique=True),
)
def test_delete_keeps_remaining_property(keys):
    arr = np.array(keys, dtype=np.int64)
    half = len(arr) // 2
    f = CuckooFilter(2048)
    f.insert(arr)
    f.delete(arr[:half])
    # deletion must never remove entries for keys we did not delete
    assert f.contains(arr[half:]).all()


# -- partitioned-blob layer (distributed build/merge/probe) -----------------


def test_build_cuckoo_blobs_match_driver_filters(spark):
    from kermit_spark.cuckoo import CuckooSpec
    from kermit_spark.seen import build_blobs, collect_blobs

    rows = [(i % 4, i * 7919 + 13) for i in range(400)]
    df = spark.createDataFrame(rows, "p int, url_hash long")
    spec = CuckooSpec(n_buckets=1 << 10)
    blob_df = build_blobs(df, spec).persist()
    filters = collect_blobs(blob_df, spec)
    assert filters is not None
    n_items = {r["p"]: r["n_items"] for r in blob_df.collect()}
    blob_df.unpersist()
    assert set(filters) == {0, 1, 2, 3}
    for p, f in filters.items():
        keys = np.array([h for pp, h in rows if pp == p], dtype=np.int64)
        assert f.contains(keys).all()  # no false negatives
        assert n_items[p] == f.n_items


def test_merge_cuckoo_and_cogroup_probe(spark):
    from kermit_spark.cuckoo import CuckooSpec
    from kermit_spark.seen import build_blobs, merge_blobs, probe_cogroup

    spec = CuckooSpec(n_buckets=1 << 10)
    first = spark.createDataFrame([(i % 2, i) for i in range(100)], "p int, url_hash long")
    more = spark.createDataFrame([(i % 2, i) for i in range(100, 150)], "p int, url_hash long")
    blobs = merge_blobs(build_blobs(first, spec), more, spec)
    cands = spark.createDataFrame(
        [(i % 2, i) for i in range(0, 200, 10)], "p int, url_hash long"
    )
    tagged = {r["url_hash"]: r["maybe_seen"] for r in probe_cogroup(cands, blobs, spec).collect()}
    for h, seen in tagged.items():
        if h < 150:
            assert seen  # inserted keys: never a false negative
    assert not all(tagged[h] for h in range(150, 200, 10))  # mostly new


def test_driver_probe_matches_cogroup_probe(spark):
    """Both residencies' probes agree, for both kernels."""
    from kermit_spark.bloom import BloomSpec
    from kermit_spark.cuckoo import CuckooSpec
    from kermit_spark.seen import build_blobs, collect_blobs, probe_broadcast, probe_cogroup

    for spec in (CuckooSpec(n_buckets=1 << 10), BloomSpec(m_bits=1 << 10)):
        base = spark.createDataFrame([(i % 4, i * 31) for i in range(300)], "p int, url_hash long")
        blob_df = build_blobs(base, spec).persist()
        cands = spark.createDataFrame(
            [(i % 4, i * 31) for i in range(250, 400)], "p int, url_hash long"
        )
        via_cogroup = {
            (r["p"], r["url_hash"]): r["maybe_seen"]
            for r in probe_cogroup(cands, blob_df, spec).collect()
        }
        filters = collect_blobs(blob_df, spec)
        via_driver = {
            (r["p"], r["url_hash"]): r["maybe_seen"]
            for r in probe_broadcast(cands, filters).collect()
        }
        blob_df.unpersist()
        assert via_cogroup == via_driver


def test_insert_reports_unplaced_keys_instead_of_raising():
    """A full table reports the keys it could not place (the frontier then
    grows and rebuilds) instead of raising mid-commit."""
    f = CuckooFilter(4)  # 16 slots
    keys = np.arange(1, 101, dtype=np.int64) * 7919
    unplaced = f.insert(keys)
    assert unplaced >= 100 - 16
    assert f.n_items == 100 - unplaced == int(np.count_nonzero(f.table))

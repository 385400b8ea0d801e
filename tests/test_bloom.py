"""Partitioned Bloom URL-seen set (SURVEY §4.2): the safety property is
NO FALSE NEGATIVES — a URL the filter rejects must truly be absent, else the
URL-seen set silently diverges from the reference closure."""

import numpy as np

from kermit_spark.bloom import (
    BloomSpec,
    _probe_positions,
    _set_bits,
    _test_bits,
)
from kermit_spark.seen import build_blobs, merge_blobs, probe_cogroup

SPEC = BloomSpec(m_bits=1 << 14, k_hashes=7)


def test_numpy_kernel_roundtrip():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    bits = np.zeros(SPEC.m_bits >> 3, dtype=np.uint8)
    _set_bits(bits, _probe_positions(keys, SPEC.m_bits, SPEC.k_hashes))
    # every inserted key tests positive (no false negatives, ever)
    assert _test_bits(bits, _probe_positions(keys, SPEC.m_bits, SPEC.k_hashes)).all()


def test_fpp_reasonable():
    rng = np.random.default_rng(11)
    keys = rng.integers(-(2**62), 2**62, size=1000, dtype=np.int64)
    probe = rng.integers(-(2**62), 2**62, size=20000, dtype=np.int64)
    probe = np.setdiff1d(probe, keys)
    bits = np.zeros(SPEC.m_bits >> 3, dtype=np.uint8)
    _set_bits(bits, _probe_positions(keys, SPEC.m_bits, SPEC.k_hashes))
    fp = _test_bits(bits, _probe_positions(probe, SPEC.m_bits, SPEC.k_hashes)).mean()
    # 1000 keys in 16k bits = 0.49 bits/key load -> theoretical fpp ~2.3%
    assert fp < 0.10


def test_build_and_prefilter_no_false_negatives(spark):
    frontier = spark.createDataFrame(
        [(i % 4, i * 7919) for i in range(200)], "p int, url_hash long"
    )
    bloom = build_blobs(frontier, SPEC)
    # candidates: 100 present, 100 absent
    cands = spark.createDataFrame(
        [(i % 4, i * 7919) for i in range(100)]
        + [(i % 4, i * 7919 + 1) for i in range(100)],
        "p int, url_hash long",
    )
    tagged = probe_cogroup(cands, bloom, SPEC).collect()
    present = {(r["p"], r["url_hash"]): r["maybe_seen"] for r in tagged}
    for i in range(100):
        assert present[(i % 4, i * 7919)] is True  # all inserted -> maybe_seen


def test_prefilter_partition_without_blob_is_definitely_new(spark):
    bloom = build_blobs(
        spark.createDataFrame([(0, 123)], "p int, url_hash long"), SPEC
    )
    cands = spark.createDataFrame([(5, 999)], "p int, url_hash long")
    got = probe_cogroup(cands, bloom, SPEC).collect()
    assert got[0]["maybe_seen"] is False


def test_merge_is_incremental_union(spark):
    base = spark.createDataFrame([(0, 1), (0, 2), (1, 10)], "p int, url_hash long")
    bloom = build_blobs(base, SPEC)
    new = spark.createDataFrame([(0, 3), (2, 20)], "p int, url_hash long")
    merged = merge_blobs(bloom, new, SPEC)
    cands = spark.createDataFrame(
        [(0, 1), (0, 3), (1, 10), (2, 20)], "p int, url_hash long"
    )
    tagged = {(r["p"], r["url_hash"]): r["maybe_seen"] for r in probe_cogroup(cands, merged, SPEC).collect()}
    assert all(tagged.values()), tagged
    n = {r["p"]: r["n_items"] for r in merged.collect()}
    assert n == {0: 3, 1: 1, 2: 1}


def test_fill_stats_exact_popcount_and_estimates(spark):
    """fill_ratio is the exact popcount/m of the blob; est_fpp = fill^k (the
    blob's ACTUAL false-positive rate as built); est_keys inverts the
    expected-fill curve and lands within ~15% of the true cardinality."""
    import pytest

    from kermit_spark.seen import collect_blobs, fill_stats

    frontier = spark.createDataFrame(
        [(i % 2, i * 7919) for i in range(400)], "p int, url_hash long"
    )
    bloom = build_blobs(frontier, SPEC).persist()
    stats = {r["p"]: r for r in fill_stats(bloom, SPEC).collect()}
    for row in bloom.collect():
        p = row["p"]
        bits = np.frombuffer(row["filter"], dtype=np.uint8)
        exact_fill = int(np.unpackbits(bits).sum()) / SPEC.m_bits
        assert stats[p]["fill_ratio"] == pytest.approx(exact_fill, abs=0)
        assert stats[p]["est_fpp"] == pytest.approx(exact_fill**SPEC.k_hashes)
        assert stats[p]["est_keys"] == pytest.approx(200, rel=0.15)
        assert stats[p]["n_items"] == 200
    # the driver-side path over collected blobs agrees exactly
    driver = {p: f.fill_stats() for p, f in collect_blobs(bloom, SPEC).items()}
    for p, s in driver.items():
        assert s["fill_ratio"] == stats[p]["fill_ratio"]
        assert s["est_fpp"] == stats[p]["est_fpp"]
        assert s["est_keys"] == stats[p]["est_keys"]
    bloom.unpersist()


def test_fill_stats_empty_and_cuckoo_rows(spark):
    """An all-zero blob reports fill 0 / est 0; a cuckoo fingerprint row
    (k_hashes=0) reports slot load factor, not popcount."""
    from kermit_spark.cuckoo import CuckooFilter, CuckooSpec
    from kermit_spark.seen import fill_stats

    cf = CuckooFilter(n_buckets=64)
    cf.insert(np.arange(1, 41, dtype=np.int64))
    rows = [
        (0, bytes(SPEC.m_bits >> 3), 0, SPEC.m_bits, SPEC.k_hashes),
        (1, cf.table.tobytes(), 40, cf.n_buckets, 0),
    ]
    df = spark.createDataFrame(
        rows, "p int, filter binary, n_items long, m_bits long, k_hashes int"
    )
    # each kernel reads its own rows: the blob table of one frontier holds
    # one kind
    stats = {
        r["p"]: r
        for kernel, rows in ((SPEC, df.filter("k_hashes > 0")), (CuckooSpec(), df.filter("k_hashes = 0")))
        for r in fill_stats(rows, kernel).collect()
    }
    assert stats[0]["fill_ratio"] == 0.0
    assert stats[0]["est_keys"] == 0.0
    assert stats[0]["est_fpp"] == 0.0
    occupied = int(np.count_nonzero(cf.table))
    assert stats[1]["fill_ratio"] == occupied / cf.table.size
    assert stats[1]["est_keys"] == float(occupied)


def test_for_capacity_is_byte_aligned():
    """Blob buffers hold m>>3 bytes, so m MUST be a byte multiple — the
    auto-grow path computes ceil(peak*growth) which lands on odd values
    whenever the float cardinality estimate wins; an unaligned m would let
    probe positions in the last partial byte index past the buffer."""
    from kermit_spark.bloom import BloomSpec

    for n in (1, 7, 1001, 3_387_458, 13_549_829):
        spec = BloomSpec.for_capacity(n)
        assert spec.m_bits % 8 == 0, (n, spec.m_bits)
        assert spec.m_bits >= min(n * 10, 1 << 10)


def test_merge_bloom_respects_existing_blob_size(spark):
    """A resumed Frontier holds the DEFAULT spec even when the stored blobs
    were auto-grown: merge_blobs must OR under each existing blob's OWN
    (m, k) — using the passed spec's m would set positions modulo the
    wrong size and produce false NEGATIVES (duplicate URLs re-admitted)."""
    from pyspark.sql import functions as F

    from kermit_spark.bloom import BloomSpec
    from kermit_spark.seen import build_blobs, collect_blobs, merge_blobs, probe_broadcast

    rows = spark.range(0, 2000).select(
        F.lit(0).alias("p"), F.xxhash64("id").alias("url_hash")
    )
    grown = BloomSpec.for_capacity(500_000)       # auto-grown size
    blobs = build_blobs(rows, grown)
    extra = spark.range(2000, 4000).select(
        F.lit(0).alias("p"), F.xxhash64("id").alias("url_hash")
    )
    # merge with the DEFAULT spec (what a resumed Frontier would pass)
    merged = merge_blobs(blobs, extra, BloomSpec())
    row = merged.collect()[0]
    assert row["m_bits"] == grown.m_bits          # size preserved
    # no false negatives: every key (old and new) must probe maybe_seen
    all_keys = spark.range(0, 4000).select(
        F.lit(0).alias("p"), F.xxhash64("id").alias("url_hash")
    )
    tagged = probe_broadcast(all_keys, collect_blobs(merged, BloomSpec()))
    assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_build_bloom_per_partition_sizing(spark):
    """Auto-grow sizes each partition's blob for ITS OWN key count (host
    skew makes loads differ 10-100x); the heterogeneous set must carry
    per-row m and probe without false negatives."""
    from pyspark.sql import functions as F

    from kermit_spark.bloom import BloomSpec
    from kermit_spark.seen import build_blobs, collect_blobs, probe_broadcast

    # partition 0: 10k keys (hot), partition 1: 100 keys
    rows = spark.range(0, 10_100).select(
        F.when(F.col("id") < 10_000, 0).otherwise(1).alias("p"),
        F.xxhash64("id").alias("url_hash"),
    )
    sizes = {0: BloomSpec.for_capacity(40_000).m_bits,
             1: BloomSpec.for_capacity(400).m_bits}
    blobs = build_blobs(rows, BloomSpec(), {p: BloomSpec(m) for p, m in sizes.items()})
    got = {r["p"]: r["m_bits"] for r in blobs.collect()}
    assert got[0] == sizes[0] and got[1] == sizes[1]
    assert got[0] > got[1]                        # skew-proportional
    tagged = probe_broadcast(rows, collect_blobs(blobs, BloomSpec()))
    assert tagged.filter(~F.col("maybe_seen")).count() == 0

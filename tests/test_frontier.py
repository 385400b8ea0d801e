"""Port of the queue-system specs (QueueSystem.spec.coffee:10-54) plus the
politeness/dequeue invariants (SURVEY §2.3 Q1-Q9, §5 port plan):
  * 100 scheduled URLs -> 100 scheduled rows; re-scheduling dedups (Q1);
  * scheduled→visited/error transitions (Q2-Q4);
  * per-host budget never exceeded, deterministic rank (Q5/Q9);
  * first-matching-limit wins; unmatched host raises (core.queues.coffee:78).
"""

import pytest
from pyspark.sql import functions as F

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.frontier import (
    ERROR,
    SCHEDULED,
    VISITED,
    Frontier,
    Limit,
    Politeness,
    as_frontier_rows,
    dequeue,
)


@pytest.fixture
def frontier(spark, tmp_path):
    return Frontier(SnapshotCatalog(spark, str(tmp_path / "cat")), num_partitions=4)


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_schedule_100_urls(spark, frontier):
    urls = [f"http://h{i % 5}.test/p/{i}.html" for i in range(100)]
    frontier.init(_urls(spark, urls))
    assert frontier.counts() == {SCHEDULED: 100}
    assert frontier.has_work()


def test_reschedule_duplicates_silently_dropped(spark, frontier):
    frontier.init(_urls(spark, ["http://a.test/1", "http://a.test/2"]))
    n = frontier.schedule(
        _urls(spark, ["http://a.test/1", "http://a.test/3", "http://a.test/3"]), wave=1
    )
    assert n == 1  # only /3 is new; in-batch dup also collapsed
    assert frontier.counts() == {SCHEDULED: 3}


def test_status_transitions(spark, frontier):
    frontier.init(_urls(spark, ["http://a.test/1", "http://a.test/2", "http://b.test/1"]))
    rows = frontier.read().filter(F.col("url") != "http://b.test/1")
    updates = rows.select(
        "p", "url_hash", "url",
        F.when(F.col("url").endswith("1"), F.lit(VISITED)).otherwise(F.lit(ERROR)).alias("new_status"),
    )
    frontier.update_status(updates)
    counts = frontier.counts()
    assert counts == {SCHEDULED: 1, VISITED: 1, ERROR: 1}
    # error rows got a tries bump
    err = frontier.read().filter(F.col("status") == ERROR).first()
    assert err["tries"] == 1


def test_validators_merge_sticky(spark, frontier):
    """HTTP validators (etag/last_modified): null on first schedule, stored
    on visit, kept by later updates that carry none (a 304 revalidation or
    an error must never erase the validator the next conditional fetch
    needs), replaced when a fresh one arrives."""
    frontier.init(_urls(spark, ["http://a.test/1", "http://a.test/2"]))
    assert frontier.read().filter(F.col("etag").isNotNull()).count() == 0
    rows = frontier.read()
    # first visit stores validators
    frontier.update_status(
        rows.select(
            "p", "url_hash", "url", F.lit(VISITED).alias("new_status"),
            F.lit('W/"v1"').alias("new_etag"),
            F.lit("Mon, 01 Jan 2024 00:00:00 GMT").alias("new_last_modified"),
        )
    )
    fr = {r["url"]: r for r in frontier.read().collect()}
    assert all(r["etag"] == 'W/"v1"' for r in fr.values())
    # an update with null validators keeps the stored ones
    frontier.update_status(
        frontier.read().filter(F.col("url").endswith("1")).select(
            "p", "url_hash", "url", F.lit(VISITED).alias("new_status"),
            F.lit(None).cast("string").alias("new_etag"),
            F.lit(None).cast("string").alias("new_last_modified"),
        )
    )
    # a fresh validator replaces the stored one
    frontier.update_status(
        frontier.read().filter(F.col("url").endswith("2")).select(
            "p", "url_hash", "url", F.lit(VISITED).alias("new_status"),
            F.lit('W/"v2"').alias("new_etag"),
            F.lit(None).cast("string").alias("new_last_modified"),
        )
    )
    fr = {r["url"]: r for r in frontier.read().collect()}
    assert fr["http://a.test/1"]["etag"] == 'W/"v1"'  # kept
    assert fr["http://a.test/2"]["etag"] == 'W/"v2"'  # replaced
    assert fr["http://a.test/2"]["last_modified"] is not None  # kept


def test_reschedule_errors_retry_path(spark, frontier):
    frontier.init(_urls(spark, ["http://a.test/1"]))
    rows = frontier.read()
    frontier.update_status(
        rows.select("p", "url_hash", "url", F.lit(ERROR).alias("new_status"))
    )
    frontier.reschedule_errors(max_tries=2, wave=1)
    assert frontier.counts() == {SCHEDULED: 1}
    # second failure exhausts the budget: stays error
    rows = frontier.read()
    frontier.update_status(
        rows.select("p", "url_hash", "url", F.lit(ERROR).alias("new_status"))
    )
    frontier.reschedule_errors(max_tries=2, wave=2)
    assert frontier.counts() == {ERROR: 1}


def test_randomized_delay_deterministic_fraction(spark):
    """Q10: the defer coin is a pure function of (url, wave, seed) — the
    same rows defer on every evaluation, roughly ratio of them, and a
    different wave flips different coins."""
    from kermit_spark.frontier import RandomizedDelay

    elig = _eligible(spark, n_hosts=5, per_host=200)
    d = RandomizedDelay(ratio=0.3, seed=7)
    a = {r["url"] for r in elig.filter(d.defer_expr(1)).collect()}
    b = {r["url"] for r in elig.filter(d.defer_expr(1)).collect()}
    assert a == b  # deterministic
    assert 0.2 < len(a) / 1000 < 0.4  # ~ratio
    c = {r["url"] for r in elig.filter(d.defer_expr(2)).collect()}
    assert c != a  # fresh coin per wave


def test_schedule_dedup_bloom_path_matches_plain(spark, tmp_path):
    """The sub-threshold plain anti-join and the Bloom-prefiltered path must
    produce identical frontiers (the threshold is a cost switch, never a
    semantics switch)."""
    urls = [f"http://h{i % 5}.test/p/{i}.html" for i in range(50)]
    cand = [f"http://h{i % 5}.test/p/{i}.html" for i in range(25, 75)]
    results = []
    for thr in (0, 10**9):  # 0 forces the Bloom path; 10^9 forces plain
        fr = Frontier(
            SnapshotCatalog(spark, str(tmp_path / f"c{thr}")),
            num_partitions=4,
            bloom_min_frontier=thr,
        )
        fr.init(_urls(spark, urls))
        n = fr.schedule(_urls(spark, cand), wave=1)
        rows = sorted((r["url"], r["status"], r["wave"]) for r in fr.read().collect())
        results.append((n, rows))
    assert results[0] == results[1]
    assert results[0][0] == 25


def _range_urls(lo, hi):
    return [f"http://h{i % 3}.test/{i}" for i in range(lo, hi)]


def test_deferred_blob_maintenance_single_commit_per_wave(spark, tmp_path):
    """Above the Bloom threshold a wave is ONE snapshot commit: blob
    maintenance folds into the driver-held copy (zero url_seen writes) and
    only flush_bloom / the every-k auto-flush touches the table. Dedup
    stays exact across the deferred epochs, and a fresh instance after the
    flush agrees."""
    from kermit_spark.frontier import URL_SEEN_TABLE

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0, bloom_commit_every=100)
    fr.init(_urls(spark, _range_urls(0, 30)))
    seen0 = cat.current_snapshot(URL_SEEN_TABLE)
    for w, (lo, hi) in enumerate([(20, 50), (40, 70), (60, 90)], start=1):
        fr.schedule(_urls(spark, _range_urls(lo, hi)), wave=w)
    # three waves, zero blob commits
    assert cat.current_snapshot(URL_SEEN_TABLE) == seen0
    # the driver-held blobs track every epoch: everything is a known dup
    assert fr.schedule(_urls(spark, _range_urls(0, 90)), wave=9) == 0
    fr.flush_bloom()
    assert cat.current_snapshot(URL_SEEN_TABLE) > seen0
    # resume after clean shutdown: flushed blobs are current (no rebuild)
    fr2 = Frontier(SnapshotCatalog(spark, str(tmp_path / "cat")),
                   num_partitions=4, bloom_min_frontier=0)
    assert fr2.schedule(_urls(spark, _range_urls(0, 90)), wave=10) == 0
    assert fr2.schedule(_urls(spark, ["http://h0.test/brand-new"]), wave=11) == 1


def test_blob_crash_resume_rebuilds_and_stays_exact(spark, tmp_path):
    """A crash between deferred flushes loses only DERIVED state: the next
    instance sees synced_epoch < url_epoch, rebuilds the blobs from the
    frontier once, and dedup is exact again."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0, bloom_commit_every=100)
    fr.init(_urls(spark, _range_urls(0, 30)))
    fr.schedule(_urls(spark, _range_urls(20, 60)), wave=1)
    # no flush — simulate the crash by just starting over from the catalog
    fr_resume = Frontier(SnapshotCatalog(spark, str(tmp_path / "cat")),
                         num_partitions=4, bloom_min_frontier=0)
    assert fr_resume.schedule(_urls(spark, _range_urls(0, 60)), wave=2) == 0
    assert fr_resume.schedule(_urls(spark, _range_urls(60, 61)), wave=3) == 1


# driver_blob_max_bytes per residency: the default budget holds the toy
# blob sets on the driver; 1 byte keeps them table-resident
RESIDENCIES = {"driver": 512 << 20, "table": 1}


def _tiny_filter(kind):
    """Frontier kwargs for a deliberately undersized seen filter."""
    from kermit_spark.bloom import BloomSpec
    from kermit_spark.cuckoo import CuckooSpec

    if kind == "bloom":
        return {"bloom_spec": BloomSpec(m_bits=1 << 10, k_hashes=7)}
    return {"seen_filter": "cuckoo", "cuckoo_spec": CuckooSpec(n_buckets=256)}


def test_bloom_autogrows_on_saturation(spark, tmp_path):
    """A fixed-m Bloom saturates as waves OR keys in (fpp = fill^k climbs
    toward 1, turning the prefilter into a no-op at 10^10 scale), and a
    cuckoo table overflows. The health check must detect it in BOTH
    residencies, grow the spec, and rebuild from the frontier — with dedup
    exactness untouched on both sides of the rebuild."""
    from kermit_spark.bloom import BloomSpec

    tiny = BloomSpec(m_bits=1 << 10, k_hashes=7)
    for kind, res in [(k, r) for k in ("bloom", "cuckoo") for r in RESIDENCIES]:
        cat = SnapshotCatalog(spark, str(tmp_path / f"{kind}-{res}"))
        fr = Frontier(
            cat, num_partitions=2, bloom_min_frontier=0, bloom_commit_every=1,
            bloom_max_fpp=0.02, driver_blob_max_bytes=RESIDENCIES[res],
            **_tiny_filter(kind),
        )
        # cuckoo: ~1,250 new keys per partition into 1,024 slots overflow
        n = 800 if kind == "bloom" else 2500
        fr.init(_urls(spark, _range_urls(0, 50)))
        # bloom: ~375 keys/partition into 1024 bits -> fill ≈ 0.92, fpp ≈ 0.57
        fr.schedule(_urls(spark, _range_urls(50, n)), wave=1)
        if kind == "bloom":
            assert fr.bloom_spec.m_bits > tiny.m_bits
        else:
            assert fr.cuckoo_spec.n_buckets > 256
        stats = fr.seen_fill_stats()
        if kind == "bloom":
            # post-rebuild blobs are back at healthy fpp
            assert max(s["est_fpp"] for s in stats.values()) <= 0.02
        else:
            assert max(s["fill_ratio"] for s in stats.values()) <= 0.9
        # rebuild counted the true frontier keys (split across p by host hash)
        assert sum(s["n_items"] for s in stats.values()) == n
        # exactness across the rebuild: everything seen is still seen...
        assert fr.schedule(_urls(spark, _range_urls(0, n)), wave=2) == 0
        # ...and new URLs still land
        assert fr.schedule(_urls(spark, _range_urls(n, n + 20)), wave=3) == 20
        # a resumed instance agrees with the grown, committed blobs
        fr2 = Frontier(SnapshotCatalog(spark, str(tmp_path / f"{kind}-{res}")),
                       num_partitions=2, bloom_min_frontier=0,
                       driver_blob_max_bytes=RESIDENCIES[res],
                       seen_filter=kind)
        assert fr2.schedule(_urls(spark, _range_urls(0, n + 20)), wave=4) == 0


def test_half_full_cuckoo_is_not_rebuilt_at_flush(spark, tmp_path, monkeypatch):
    """Cuckoo's est_fpp is the structural 2·4/256 ≈ 0.031, above the default
    bloom_max_fpp of 0.02: the health check must judge a cuckoo table by
    its load factor, or every flush would rebuild a healthy filter."""
    from kermit_spark import seen
    from kermit_spark.cuckoo import CuckooSpec

    fr = Frontier(SnapshotCatalog(spark, str(tmp_path / "cat")), num_partitions=2,
                  bloom_min_frontier=0, bloom_commit_every=1, seen_filter="cuckoo",
                  cuckoo_spec=CuckooSpec(n_buckets=256))
    fr.init(_urls(spark, _range_urls(0, 50)))
    builds = []
    monkeypatch.setattr(seen, "build_blobs", lambda *a, **k: builds.append(1))
    # the health check runs after this wave's insert (bloom_commit_every=1)
    fr.schedule(_urls(spark, _range_urls(50, 768)), wave=1)
    fr.flush_bloom()
    loads = [s["fill_ratio"] for s in fr.seen_fill_stats().values()]
    assert 0.45 < max(loads) <= 0.5, loads
    assert builds == []
    assert fr.cuckoo_spec.n_buckets == 256


# -- dequeue / politeness ---------------------------------------------------


def _eligible(spark, n_hosts=3, per_host=20):
    urls = [
        (f"http://h{h}.test/p/{i}.html",)
        for h in range(n_hosts)
        for i in range(per_host)
    ]
    df = spark.createDataFrame(urls, "url string")
    return as_frontier_rows(df, num_partitions=4, wave=0)


def test_budget_never_exceeded_per_host(spark):
    sel = dequeue(_eligible(spark), Politeness((Limit(".*", 5),)))
    per_host = {r["host"]: r["count"] for r in sel.groupBy("host").count().collect()}
    assert per_host == {"h0.test": 5, "h1.test": 5, "h2.test": 5}
    assert sel.agg(F.max("rank")).first()[0] <= 5


def test_budget_smaller_than_supply_takes_all(spark):
    sel = dequeue(_eligible(spark, per_host=3), Politeness((Limit(".*", 100),)))
    assert sel.count() == 9


def test_first_matching_limit_decides(spark):
    pol = Politeness((Limit(r"h0\..*", 2), Limit(r"h0", 99), Limit(".*", 7)))
    sel = dequeue(_eligible(spark), pol)
    per_host = {r["host"]: r["count"] for r in sel.groupBy("host").count().collect()}
    assert per_host == {"h0.test": 2, "h1.test": 7, "h2.test": 7}


def test_unmatched_host_raises(spark):
    pol = Politeness((Limit(r"onlythis\.test", 5),))
    with pytest.raises(ValueError, match="no politeness limit"):
        dequeue(_eligible(spark), pol)


def test_max_concurrent_caps_budget(spark):
    # reference default: 5/s but max 5 concurrent (core.queues.coffee:28-34)
    sel = dequeue(_eligible(spark), Politeness((Limit(".*", 50, max_concurrent=4),)))
    per_host = {r["host"]: r["count"] for r in sel.groupBy("host").count().collect()}
    assert set(per_host.values()) == {4}


def test_dequeue_deterministic_and_rank_stable(spark):
    pol = Politeness((Limit(".*", 6),))
    a = sorted((r["host"], r["rank"], r["url"]) for r in dequeue(_eligible(spark), pol).collect())
    b = sorted((r["host"], r["rank"], r["url"]) for r in dequeue(_eligible(spark), pol).collect())
    assert a == b
    # ranks are dense 1..budget per host
    ranks = {}
    for host, rank, _ in a:
        ranks.setdefault(host, []).append(rank)
    assert all(sorted(v) == list(range(1, 7)) for v in ranks.values())


def test_priority_orders_before_depth(spark):
    rows = [
        ("http://a.test/low", 0.0, 0),
        ("http://a.test/high", 5.0, 3),
    ]
    df = spark.createDataFrame(rows, "url string, priority double, depth int")
    elig = as_frontier_rows(df, 4, wave=0)
    sel = dequeue(elig, Politeness((Limit(".*", 1),)))
    assert sel.first()["url"] == "http://a.test/high"


def test_global_cap(spark):
    sel = dequeue(
        _eligible(spark), Politeness((Limit(".*", 10),)), global_cap=12
    )
    assert sel.count() == 12


def test_global_cap_selects_deterministic_prefix(spark):
    """The cap takes the first rows under (rank, url_hash) — same set the
    old partitionless window produced, now via TakeOrdered."""
    elig = _eligible(spark)
    uncapped = dequeue(elig, Politeness((Limit(".*", 10),)))
    expect = {
        (r["url"], r["rank"])
        for r in sorted(uncapped.collect(), key=lambda r: (r["rank"], r["url_hash"]))[:12]
    }
    got = {
        (r["url"], r["rank"])
        for r in dequeue(elig, Politeness((Limit(".*", 10),)), global_cap=12).collect()
    }
    assert got == expect


def test_two_level_topk_equals_single_window(spark):
    """The sub-salted two-level selection must pick exactly the same set as a
    naive single window (it's an optimization, not a semantics change)."""
    from pyspark.sql.window import Window
    from kermit_spark.frontier import dequeue_order

    elig = _eligible(spark, n_hosts=4, per_host=37)
    pol = Politeness((Limit(".*", 9),))
    fast = {(r["host"], r["rank"], r["url"]) for r in dequeue(elig, pol, sub_salts=8).collect()}
    w = Window.partitionBy("host").orderBy(*dequeue_order())
    naive = {
        (r["host"], r["rank"], r["url"])
        for r in elig.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 9)
        .collect()
    }
    assert fast == naive


# -- reprioritize (PageRank-fed priorities) ----------------------------------


def test_reprioritize_wires_pagerank_into_priorities(spark, frontier):
    from kermit_spark.ops.graph import pagerank

    seeds = ["http://h0.test/a", "http://h1.test/b"]
    frontier.init(_urls(spark, seeds))
    # discovered children: a -> {c, d}, b -> {c}; c is the 2-in-link hub
    cands = spark.createDataFrame(
        [
            ("http://h0.test/c", "http://h0.test/a"),
            ("http://h0.test/d", "http://h0.test/a"),
            ("http://h0.test/c", "http://h1.test/b"),
        ],
        "url string, referer string",
    )
    frontier.schedule(cands, wave=1)
    # mark a visited so the untouched-priority branch is exercised too
    upd = (
        frontier.read()
        .filter(F.col("url") == "http://h0.test/a")
        .select("p", "url_hash", "url", F.lit(VISITED).alias("new_status"))
    )
    frontier.update_status(upd)
    props_before = frontier.catalog.snapshot_property("frontier")

    # the FULL link graph (what Crawler.reprioritize extracts from document
    # spans): both a->c and b->c survive here, unlike the frontier's
    # first-discovery referer tree, which keeps one parent per URL
    full_edges = spark.createDataFrame(
        [
            ("http://h0.test/a", "http://h0.test/c"),
            ("http://h0.test/a", "http://h0.test/d"),
            ("http://h1.test/b", "http://h0.test/c"),
        ],
        "referer string, url string",
    ).select(F.xxhash64("referer").alias("src"), F.xxhash64("url").alias("dst"))
    frontier.reprioritize(full_edges, num_iters=3)

    fr = frontier.read()
    # expected ranks from the (already independently verified) pagerank op
    # over the same graph — this test checks the WIRING: join on url_hash,
    # scheduled-only updates, carried-forward snapshot props
    want = {
        r["node"]: float(r["rank_fp"])
        for r in pagerank(full_edges, num_iters=3).collect()
    }
    rows = {r["url"]: r for r in fr.collect()}
    for u in ("http://h0.test/c", "http://h0.test/d"):
        r = rows[u]
        assert r["priority"] == want[r["url_hash"]]
    # hub c has two in-links, d one -> c must outrank d
    assert rows["http://h0.test/c"]["priority"] > rows["http://h0.test/d"]["priority"]
    # visited row 'a': priority untouched even though it is a graph node —
    # the guard is on status
    assert rows["http://h0.test/a"]["priority"] == 0.0
    # scheduled seed 'b' has no in-links: it gets exactly the teleport base
    assert rows["http://h1.test/b"]["priority"] == want[rows["http://h1.test/b"]["url_hash"]]
    assert rows["http://h1.test/b"]["priority"] < rows["http://h0.test/d"]["priority"]
    # membership stats carried forward (bloom sync depends on these)
    props_after = frontier.catalog.snapshot_property("frontier")
    for k in ("n_rows", "url_epoch"):
        assert props_after.get(k) == props_before.get(k)
    # and the hub is now dequeued first within its host
    got = dequeue(
        fr.filter(F.col("status") == SCHEDULED), Politeness((Limit(".*", 10),))
    )
    first_h0 = (
        got.filter(F.col("host") == "h0.test").orderBy("rank").first()
    )
    assert first_h0["url"] == "http://h0.test/c"


# -- eviction / re-crawl (bloom vs cuckoo seen-filter) ----------------------


@pytest.mark.parametrize("mode", ["bloom", "cuckoo"])
def test_evict_unseens_urls(spark, tmp_path, mode):
    """Frontier.evict removes matching rows AND un-sees them: the same URLs
    re-schedule as brand new, while everything else stays deduped. Same
    semantics under both probe filters (the filter is never membership
    truth)."""
    cat = SnapshotCatalog(spark, str(tmp_path / mode))
    fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0,
                  bloom_commit_every=100, seen_filter=mode)
    fr.init(_urls(spark, _range_urls(0, 30)))
    fr.schedule(_urls(spark, _range_urls(30, 60)), wave=1)
    h0 = [u for u in _range_urls(0, 60) if u.startswith("http://h0.test/")]

    n = fr.evict(F.col("host") == "h0.test")
    assert n == len(h0) == 20
    left = {r["url"] for r in fr.read().collect()}
    assert left == set(_range_urls(0, 60)) - set(h0)
    # evicted URLs are unseen again: full re-accept; the rest still dedup
    assert fr.schedule(_urls(spark, h0), wave=2) == len(h0)
    assert fr.schedule(_urls(spark, _range_urls(0, 60)), wave=3) == 0
    # row-count bookkeeping survived the round trip
    assert fr.read().count() == 60
    # no-op evict
    assert fr.evict(F.col("host") == "nosuch.test") == 0


def test_evict_keeps_rows_where_the_predicate_is_null(spark, frontier):
    """A predicate over a nullable column evicts only the rows where it is
    true; a row where it is NULL stays, and n_rows stays exact."""
    frontier.init(_urls(spark, _range_urls(0, 6)))
    frontier.schedule(
        spark.createDataFrame(
            [("http://h0.test/new", "http://h0.test/0")], "url string, referer string"
        ),
        wave=1,
    )
    assert frontier.evict(F.col("referer") == "http://h0.test/0") == 1
    left = {r["url"] for r in frontier.read().collect()}
    assert left == set(_range_urls(0, 6))
    assert frontier._frontier_stats()[0] == 6


def test_evict_cuckoo_deletes_in_place_without_rebuild(spark, tmp_path, monkeypatch):
    """The cuckoo payoff: evict maintains the driver-held filters by
    deleting fingerprints — no url_seen table write, no O(frontier)
    rebuild — and dedup stays exact across the eviction."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0,
                  bloom_commit_every=100, seen_filter="cuckoo")
    fr.init(_urls(spark, _range_urls(0, 40)))
    fr.schedule(_urls(spark, _range_urls(40, 50)), wave=1)  # warm driver blobs

    from kermit_spark import seen

    builds = 0
    orig = seen.build_blobs

    def counting(*args, **kwargs):
        nonlocal builds
        builds += 1
        return orig(*args, **kwargs)

    monkeypatch.setattr(seen, "build_blobs", counting)
    from kermit_spark.frontier import URL_SEEN_TABLE

    seen_snap = cat.current_snapshot(URL_SEEN_TABLE)
    assert fr.evict(F.col("host") == "h1.test") == 17
    # deferred flush: table untouched, no rebuild triggered
    assert cat.current_snapshot(URL_SEEN_TABLE) == seen_snap
    assert builds == 0
    # dedup exact THROUGH the held filters (no rebuild on schedule)
    assert fr.schedule(_urls(spark, _range_urls(0, 50)), wave=2) == 17
    assert builds == 0


def test_evict_bloom_marks_stale_then_rebuilds_once(spark, tmp_path, monkeypatch):
    """Bloom cannot delete: evict drops the held blobs and the next use
    pays exactly one rebuild — correctness unchanged."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0, bloom_commit_every=100)
    fr.init(_urls(spark, _range_urls(0, 40)))
    fr.schedule(_urls(spark, _range_urls(40, 50)), wave=1)

    from kermit_spark import seen

    builds = 0
    orig = seen.build_blobs

    def counting(*args, **kwargs):
        nonlocal builds
        builds += 1
        return orig(*args, **kwargs)

    monkeypatch.setattr(seen, "build_blobs", counting)
    assert fr.evict(F.col("host") == "h1.test") == 17
    assert fr.schedule(_urls(spark, _range_urls(0, 50)), wave=2) == 17
    assert builds == 1  # the one documented rebuild
    assert fr.schedule(_urls(spark, _range_urls(0, 50)), wave=3) == 0
    assert builds == 1  # and only one


def test_recrawl_flips_visited_and_resets_age_clock(spark, tmp_path):
    """Frontier.recrawl: matching VISITED rows go back to scheduled with
    wave reset; URL stays seen (dedup unchanged); scheduled/error rows and
    non-matching rows untouched."""
    fr = Frontier(SnapshotCatalog(spark, str(tmp_path / "cat")), num_partitions=4)
    fr.init(_urls(spark, _range_urls(0, 12)))  # wave 0
    rows = fr.read().filter(F.col("url") < "http://h0.test/9")  # subset
    fr.update_status(rows.select("p", "url_hash", "url", F.lit(VISITED).alias("new_status")))
    visited = {r["url"] for r in fr.read().filter(F.col("status") == VISITED).collect()}
    assert visited

    n = fr.recrawl(F.col("wave") <= 0, wave=5)
    assert n == len(visited)
    after = {r["url"]: (r["status"], r["wave"]) for r in fr.read().collect()}
    for u in visited:
        assert after[u] == (SCHEDULED, 5)  # flipped, clock reset
    for u, (st, w) in after.items():
        if u not in visited:
            assert (st, w) == (SCHEDULED, 0)  # untouched
    # still seen: re-scheduling the same URLs adds nothing
    assert fr.schedule(_urls(spark, _range_urls(0, 12)), wave=6) == 0
    # age predicate respects the reset clock: nothing older than wave 4 now
    assert fr.recrawl(F.col("wave") <= 4, wave=7) == 0


def test_recrawl_urls_flips_only_marked_visited_rows(spark, frontier):
    """Frontier.recrawl_urls: exactly the VISITED rows whose url is in the
    set flip to scheduled with the new wave; scheduled/error rows in the
    set, unmarked visited rows and unknown urls change nothing; a partition
    holding no flipped row keeps its version list."""
    from kermit_spark.frontier import FRONTIER_TABLE

    urls = [f"http://h{i % 6}.test/{i}" for i in range(24)]
    frontier.init(_urls(spark, urls))
    num = F.regexp_extract("url", r"/(\d+)$", 1).cast("int")
    frontier.update_status(
        frontier.read()
        .filter((num % 2 == 0) | (F.col("url") == "http://h1.test/1"))
        .select(
            "p", "url_hash", "url",
            F.when(num % 2 == 0, F.lit(VISITED)).otherwise(F.lit(ERROR)).alias("new_status"),
        )
    )
    before = {r["url"]: r.asDict() for r in frontier.read().collect()}
    target = before["http://h0.test/0"]["p"]
    assert len({r["p"] for r in before.values()}) > 1
    marked = [u for u, r in before.items() if r["p"] == target]
    marks = marked + ["http://h1.test/1", "http://nowhere.test/x", marked[0]]
    cat = frontier.catalog

    def versions():
        return cat._load_meta(FRONTIER_TABLE).snapshots[str(cat.current_snapshot(FRONTIER_TABLE))]

    vers_before = versions()
    n = frontier.recrawl_urls(_urls(spark, marks), wave=7)

    flipped = {u for u in marked if before[u]["status"] == VISITED}
    assert n == len(flipped) > 0
    after = {r["url"]: r.asDict() for r in frontier.read().collect()}
    assert after.keys() == before.keys()
    for u, row in after.items():
        want = dict(before[u])
        if u in flipped:
            want.update(status=SCHEDULED, wave=7)
        assert row == want, u
    vers_after = versions()
    assert vers_after[str(target)] != vers_before[str(target)]
    assert {k: v for k, v in vers_after.items() if k != str(target)} == {
        k: v for k, v in vers_before.items() if k != str(target)
    }
    # nothing left to flip: no commit
    snap = cat.current_snapshot(FRONTIER_TABLE)
    assert frontier.recrawl_urls(_urls(spark, marks), wave=8) == 0
    assert cat.current_snapshot(FRONTIER_TABLE) == snap


def test_changes_since_cdc_read(spark, frontier):
    """CDC read over the frontier: after a schedule + status flip, the
    incremental read returns exactly the new rows and the flipped rows,
    matching a brute-force diff of the two full snapshots."""
    from kermit_spark.frontier import FRONTIER_TABLE

    frontier.init(_urls(spark, [f"http://h{i % 3}.test/p/{i}" for i in range(12)]))
    snap0 = frontier.catalog.current_snapshot(FRONTIER_TABLE)
    # wave outcome: 2 URLs visited, 3 new discovered
    flip = frontier.read().filter(F.col("url").endswith("/1") | F.col("url").endswith("/2"))
    frontier.update_status(
        flip.select("p", "url_hash", "url", F.lit(VISITED).alias("new_status"))
    )
    frontier.schedule(_urls(spark, [f"http://h9.test/new/{i}" for i in range(3)]), wave=1)

    inc = frontier.changes_since(snap0)
    got = sorted((r["url"], r["status"]) for r in inc.collect())
    # brute-force oracle: full new snapshot minus full old snapshot
    cur = frontier.read().select("url", "status")
    old = frontier.catalog.read(FRONTIER_TABLE, snapshot=snap0).select("url", "status")
    want = sorted((r["url"], r["status"]) for r in cur.exceptAll(old).collect())
    assert got == want
    assert ("http://h9.test/new/0", SCHEDULED) in got
    assert ("http://h1.test/p/1", VISITED) in got
    # rows untouched by either commit are absent
    assert not any(u.endswith("/5") for u, _ in got)


def test_reprioritize_hits_scorer(spark, frontier):
    """scorer='hits' feeds authority scores into scheduled priorities
    through the same wiring; unknown scorers are rejected."""
    from kermit_spark.ops.graph import hits

    frontier.init(_urls(spark, ["http://h0.test/a"]))
    cands = spark.createDataFrame(
        [
            ("http://h0.test/c", "http://h0.test/a"),
            ("http://h0.test/d", "http://h0.test/a"),
            ("http://h0.test/c", "http://h0.test/d"),
        ],
        "url string, referer string",
    )
    frontier.schedule(cands, wave=1)
    edges = spark.createDataFrame(
        [
            ("http://h0.test/a", "http://h0.test/c"),
            ("http://h0.test/a", "http://h0.test/d"),
            ("http://h0.test/d", "http://h0.test/c"),
        ],
        "referer string, url string",
    ).select(F.xxhash64("referer").alias("src"), F.xxhash64("url").alias("dst"))
    frontier.reprioritize(edges, num_iters=2, scorer="hits")
    want = {
        r["node"]: float(r["auth_fp"]) for r in hits(edges, num_iters=2).collect()
    }
    rows = {r["url"]: r for r in frontier.read().collect()}
    for u in ("http://h0.test/c", "http://h0.test/d"):
        assert rows[u]["priority"] == want[rows[u]["url_hash"]]
    # two in-links beat one as authority
    assert rows["http://h0.test/c"]["priority"] > rows["http://h0.test/d"]["priority"]
    with pytest.raises(ValueError):
        frontier.reprioritize(edges, scorer="opic")


# ---------------------------------------------------------------------------
# change-rate recrawl scheduling
# ---------------------------------------------------------------------------


def test_recrawl_schedule_estimator(spark):
    from kermit_spark.frontier import recrawl_schedule

    rows = []
    # u0: changes every revisit (hash = wave) over waves 0..4
    rows += [("u0", w, f"h{w}") for w in range(5)]
    # u1: never changes over 5 fetches -> backoff 5, capped at max 4
    rows += [("u1", w, "same") for w in range(5)]
    # u2: changes every 2nd wave: versions 0,0,1,1,2
    rows += [("u2", w, f"v{w // 2}") for w in range(5)]
    # u3: single fetch -> min_interval
    rows += [("u3", 7, "x")]
    df = spark.createDataFrame(rows, "url string, wave long, content_hash string")
    out = {r["url"]: r for r in recrawl_schedule(
        df, current_wave=5, min_interval=1, max_interval=4).collect()}

    assert (out["u0"]["n_fetches"], out["u0"]["n_changes"]) == (5, 4)
    assert out["u0"]["interval_waves"] == 1 and out["u0"]["next_due"] == 5
    assert out["u0"]["overdue"]

    assert out["u1"]["n_changes"] == 0
    assert out["u1"]["interval_waves"] == 4  # 5//1 capped at max_interval
    assert out["u1"]["next_due"] == 8 and not out["u1"]["overdue"]

    assert out["u2"]["n_changes"] == 2 and out["u2"]["interval_waves"] == 1

    assert out["u3"]["n_fetches"] == 1 and out["u3"]["interval_waves"] == 1
    assert out["u3"]["last_wave"] == 7 and not out["u3"]["overdue"]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        recrawl_schedule(df, current_wave=5, min_interval=0)
    with _pytest.raises(ValueError):
        recrawl_schedule(df, current_wave=5, min_interval=3, max_interval=2)


def test_recrawl_schedule_partition_invariant_and_order_free(spark):
    """History arrives unordered and however partitioned; the schedule is
    identical (sort_array canonicalizes before the change scan)."""
    import random

    from kermit_spark.frontier import recrawl_schedule

    rows = [(f"u{i % 37}", w, f"v{(w // (1 + i % 3))}_{i % 37}")
            for i, w in ((i, i // 37) for i in range(370))]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    a = spark.createDataFrame(rows, "url string, wave long, content_hash string")
    b = spark.createDataFrame(shuffled, "url string, wave long, content_hash string").repartition(13)
    ra = sorted(map(tuple, recrawl_schedule(a, current_wave=10).collect()))
    rb = sorted(map(tuple, recrawl_schedule(b, current_wave=10).collect()))
    assert ra == rb and len(ra) == 37


# -- registrable-domain (eTLD+1) politeness grouping --------------------------


def test_registrable_domain_goldens(spark):
    from kermit_spark.functions.urls import registrable_domain

    cases = [
        ("www.example.com", "example.com"),
        ("example.com", "example.com"),
        ("a.b.c.example.com", "example.com"),
        ("shop.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("deep.shard.site.go.jp", "site.go.jp"),
        ("WWW.Example.COM", "example.com"),  # lowercased
        ("localhost", "localhost"),  # single label = own domain
        ("192.168.0.1", "192.168.0.1"),  # IPv4 literal = own domain
        ("h0.test", "h0.test"),  # two labels, unlisted suffix
        ("a.b.test:8080", "b.test:8080"),  # port preserved
        ("co.uk", "co.uk"),  # bare suffix: n<=2 short-circuit
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [r["d"] for r in df.select(registrable_domain("host").alias("d")).collect()]
    assert got == [d for _, d in cases]


def _subdomain_eligible(spark, n_sites=2, n_subs=4, per_host=10):
    urls = [
        (f"http://sh{s}.site{d}.co.uk/p/{i}.html",)
        for d in range(n_sites)
        for s in range(n_subs)
        for i in range(per_host)
    ]
    return as_frontier_rows(spark.createDataFrame(urls, "url string"), 4, wave=0)


def test_dequeue_by_domain_one_budget_per_site(spark):
    """4 subdomains × 10 URLs per site; per-DOMAIN budget 5 → each site
    contributes exactly 5 rows total (per-host grouping would give 20)."""
    from kermit_spark.functions.urls import registrable_domain

    elig = _subdomain_eligible(spark)
    sel = dequeue(
        elig, Politeness((Limit(".*", 5),)),
        politeness_key=registrable_domain(F.col("host")),
    )
    per_dom = {
        r["d"]: r["count"]
        for r in sel.groupBy(registrable_domain(F.col("host")).alias("d")).count().collect()
    }
    assert per_dom == {"site0.co.uk": 5, "site1.co.uk": 5}
    assert sel.agg(F.max("rank")).first()[0] == 5


def test_dequeue_by_domain_equals_host_when_domains_distinct(spark):
    """When every host is its own registrable domain the two groupings are
    the same selection — domain mode is a generalization, not a new order."""
    from kermit_spark.functions.urls import registrable_domain

    elig = _eligible(spark)  # h0.test/h1.test/h2.test — distinct domains
    pol = Politeness((Limit(".*", 5),))
    by_host = {(r["host"], r["rank"], r["url"]) for r in dequeue(elig, pol).collect()}
    by_dom = {
        (r["host"], r["rank"], r["url"])
        for r in dequeue(
            elig, pol, politeness_key=registrable_domain(F.col("host"))
        ).collect()
    }
    assert by_host == by_dom


def test_dequeue_by_domain_budget_pattern_matches_domain(spark):
    """The politeness pattern matches against the KEY (domain), so one rule
    can target a whole site regardless of subdomain shape."""
    from kermit_spark.functions.urls import registrable_domain

    elig = _subdomain_eligible(spark)
    pol = Politeness((Limit(r"site0\.co\.uk", 2), Limit(".*", 7)))
    sel = dequeue(elig, pol, politeness_key=registrable_domain(F.col("host")))
    per_dom = {
        r["d"]: r["count"]
        for r in sel.groupBy(registrable_domain(F.col("host")).alias("d")).count().collect()
    }
    assert per_dom == {"site0.co.uk": 2, "site1.co.uk": 7}


def test_dequeue_by_domain_host_caps_apply_per_host(spark):
    """host_budgets (robots Crawl-delay caps) stay PER HOST under domain
    grouping: a capped subdomain contributes ≤ cap rows inside its site's
    budget; the domain total still respects the group budget."""
    from kermit_spark.functions.urls import registrable_domain

    elig = _subdomain_eligible(spark, n_sites=1, n_subs=2, per_host=10)
    caps = spark.createDataFrame(
        [("sh0.site0.co.uk", 1)], "host string, budget_cap int"
    )
    sel = dequeue(
        elig, Politeness((Limit(".*", 6),)), host_budgets=caps,
        politeness_key=registrable_domain(F.col("host")),
    ).collect()
    assert len(sel) == 6  # domain budget still fully used
    per_host = {}
    for r in sel:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert per_host["sh0.site0.co.uk"] == 1  # capped host bounded
    assert per_host["sh1.site0.co.uk"] == 5  # remainder from uncapped host
    # the capped host's surviving row is its best by dequeue order
    best = min(
        (r for r in _subdomain_eligible(spark, 1, 2, 10).collect()
         if r["host"] == "sh0.site0.co.uk"),
        key=lambda r: (-r["priority"], r["depth"], r["wave"], r["url_hash"]),
    )
    kept = [r for r in sel if r["host"] == "sh0.site0.co.uk"][0]
    assert kept["url"] == best["url"]


def test_reprioritize_hosts_quality_feedback(spark, frontier):
    """reprioritize_hosts: scheduled rows take their host's score_fp as
    priority; hosts absent from the score table and non-scheduled rows keep
    theirs; snapshot props carry forward."""
    frontier.init(_urls(spark, [
        "http://good.test/a", "http://good.test/b",
        "http://junk.test/x", "http://other.test/z",
    ]))
    # mark one good-host row visited: it must keep its priority
    upd = (
        frontier.read()
        .filter(F.col("url") == "http://good.test/b")
        .select("p", "url_hash", "url", F.lit(VISITED).alias("new_status"))
    )
    frontier.update_status(upd)
    props_before = frontier.catalog.snapshot_property("frontier")

    scores = spark.createDataFrame(
        [("good.test", 9000), ("junk.test", 0)], "host string, score_fp long"
    )
    frontier.reprioritize_hosts(scores)

    rows = {r["url"]: r for r in frontier.read().collect()}
    assert rows["http://good.test/a"]["priority"] == 9000.0
    assert rows["http://junk.test/x"]["priority"] == 0.0
    # unscored host and the visited row untouched (init priority default)
    assert rows["http://other.test/z"]["priority"] == rows["http://good.test/b"]["priority"]
    props_after = frontier.catalog.snapshot_property("frontier")
    for k in ("n_rows", "url_epoch"):
        if k in props_before:
            assert props_after[k] == props_before[k]
    # quality-fed dequeue order: priority DESC puts the good host first
    order = [
        r["url"]
        for r in frontier.read()
        .filter(F.col("status") == SCHEDULED)
        .orderBy(F.desc("priority"), "url")
        .collect()
    ]
    assert order[0] == "http://good.test/a"
    assert set(order[1:]) == {"http://junk.test/x", "http://other.test/z"}


def test_crawler_reprioritize_by_quality(spark, tmp_path):
    """Crawler.reprioritize_by_quality end-to-end: after a wave, the host
    that served clean prose outranks the host that served junk in the
    scheduled frontier (its avg_score_e4; junk hosts are blocked to 0)."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness

    prose = "<p>" + "The quick brown fox jumps over the lazy dog. " * 8 + "</p>"
    junk = "<p>%$#@ ~~ ## !! @@ %% ^^ && ** (( )) __ ++ == [[ ]]</p>"
    rows = [
        ("http://good.test/", "good.test", 200, "text/html",
         f'<html><body>{prose}<a href="http://good.test/next.html">n</a></body></html>'),
        ("http://junk.test/", "junk.test", 200, "text/html",
         f'<html><body>{junk}<a href="http://junk.test/next.html">n</a></body></html>'),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, host string, status int, content_type string, body string"
    )
    cfg = CrawlConfig(
        num_partitions=4,
        politeness=Politeness((Limit(".*", 10),)),
        obey_robots=False,
        max_waves=1,
    )
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path / "c")), CorpusFetcher(corpus), cfg
    )
    crawler.seed(["http://good.test/", "http://junk.test/"])
    crawler.crawl(1)
    crawler.reprioritize_by_quality(min_docs=1)

    pri = {
        r["url"]: r["priority"]
        for r in crawler.frontier.read()
        .filter(F.col("status") == SCHEDULED)
        .collect()
    }
    assert pri["http://good.test/next.html"] > pri["http://junk.test/next.html"]
    assert pri["http://good.test/next.html"] > 0.0


def test_adaptive_host_delays_aimd_fold(spark):
    from datetime import datetime

    from kermit_spark.frontier import adaptive_host_delays

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # slow host: healthy, then three penalties (error/slow), then healthy
        ("a.com", t(1), "u1", 200, 100),
        ("a.com", t(2), "u2", 503, 100),
        ("a.com", t(3), "u3", 200, 5000),
        ("a.com", t(4), "u4", 404, 100),
        ("a.com", t(5), "u5", 200, 100),
        # healthy host: decays to the floor
        ("b.com", t(1), "u1", 200, 10),
        ("b.com", t(2), "u2", 200, 10),
        ("b.com", t(3), "u3", 200, 10),
        ("b.com", t(4), "u4", 200, 10),
    ]
    df = spark.createDataFrame(rows, "host string, ts timestamp, url string, status int, latency_ms long")
    got = {
        r["host"]: (r["n_fetches"], r["n_penalties"], r["delay_ms"])
        for r in adaptive_host_delays(
            df, init_delay_ms=1000, increase_ms=500, decrease_pct=50,
            min_delay_ms=100, max_delay_ms=60000, slow_ms=2000,
        ).collect()
    }

    # python mirror, same order, same integer ops
    def mirror(seq):
        d = 1000
        for bad in seq:
            d = min(d + 500, 60000) if bad else max((d * 50) // 100, 100)
        return d

    assert got["a.com"] == (5, 3, mirror([False, True, True, True, False]))
    assert got["b.com"] == (4, 0, mirror([False] * 4))
    # floors and caps
    assert got["b.com"][2] == 100

    # out-of-order input must not change the fold (sorted by ts, id)
    shuffled = spark.createDataFrame(list(reversed(rows)),
        "host string, ts timestamp, url string, status int, latency_ms long")
    got2 = {r["host"]: r["delay_ms"] for r in adaptive_host_delays(
        shuffled, init_delay_ms=1000, increase_ms=500, decrease_pct=50,
        min_delay_ms=100, max_delay_ms=60000, slow_ms=2000).collect()}
    assert got2["a.com"] == got["a.com"][2]


def test_plan_host_partitions_splits_hot_hosts_and_balances(spark):
    from kermit_spark.frontier import plan_host_partitions

    counts = spark.createDataFrame(
        [("mega.com", 2500), ("big.com", 1001), ("small1.com", 30),
         ("small2.com", 20), ("tiny.com", 1), ("empty.com", 0)],
        "host string, n_urls long",
    )
    plan = plan_host_partitions(counts, num_partitions=4, salt_threshold=1000).collect()
    by_host = {}
    for r in plan:
        by_host.setdefault(r["host"], []).append(r)

    # mega 2500 -> 3 slots of 834/833/833; big 1001 -> 2 slots 501/500
    assert sorted(r["slot_weight"] for r in by_host["mega.com"]) == [833, 833, 834]
    assert {r["n_slots"] for r in by_host["mega.com"]} == {3}
    assert sorted(r["slot_weight"] for r in by_host["big.com"]) == [500, 501]
    assert len(by_host["small1.com"]) == 1 and by_host["small1.com"][0]["slot_weight"] == 30
    assert by_host["empty.com"][0]["slot_weight"] == 0

    # no single partition owns more than one mega-slot before others get one
    # (weight-desc round-robin): the 5 heaviest slots land on 5 distinct
    # assignments across 4 partitions -> first 4 all different
    ordered = sorted(plan, key=lambda r: (-r["slot_weight"], r["host"], r["salt"]))
    assert [r["partition"] for r in ordered[:4]] == [0, 1, 2, 3]
    # partition loads within one max-slot-weight of each other
    loads = {}
    for r in plan:
        loads[r["partition"]] = loads.get(r["partition"], 0) + r["slot_weight"]
    assert max(loads.values()) - min(loads.values()) <= 834

    # salts are 0-based dense per host
    assert sorted(r["salt"] for r in by_host["mega.com"]) == [0, 1, 2]


def test_budgets_from_delays_floor_and_cap(spark):
    from kermit_spark.frontier import budgets_from_delays

    delays = spark.createDataFrame(
        [("fast.com", 3, 0, 100), ("slow.com", 9, 5, 60000), ("mid.com", 4, 1, 2500)],
        "host string, n_fetches long, n_penalties long, delay_ms long",
    )
    got = {r["host"]: r["budget"] for r in budgets_from_delays(delays, wave_seconds=30).collect()}
    assert got == {"fast.com": 300, "slow.com": 1, "mid.com": 12}
    capped = {r["host"]: r["budget"]
              for r in budgets_from_delays(delays, wave_seconds=30, max_budget=50).collect()}
    assert capped == {"fast.com": 50, "slow.com": 1, "mid.com": 12}


def test_adaptive_host_delays_continuation_matches_one_shot(spark):
    """fold(a ++ b, init) == fold(b, fold(a, init)) — the per-host
    init_delays continuation the crawler uses wave-over-wave is exactly
    the one-shot fold over the concatenated history."""
    from datetime import datetime

    from kermit_spark.frontier import adaptive_host_delays

    def rows(lo, hi):
        out = []
        for i in range(lo, hi):
            bad = (i % 3 == 0)
            out.append(("h.com", datetime(2024, 1, 1, 0, 0, i), f"u{i:03d}",
                        503 if bad else 200, 100))
        return out

    schema = "host string, ts timestamp, url string, status int, latency_ms long"
    kw = dict(init_delay_ms=1000, increase_ms=400, decrease_pct=70,
              min_delay_ms=100, max_delay_ms=60000, slow_ms=2000)
    one_shot = adaptive_host_delays(
        spark.createDataFrame(rows(0, 20), schema), **kw
    ).collect()[0]["delay_ms"]
    first = adaptive_host_delays(
        spark.createDataFrame(rows(0, 11), schema), **kw
    ).select("host", "delay_ms")
    cont = adaptive_host_delays(
        spark.createDataFrame(rows(11, 20), schema), init_delays=first, **kw
    ).collect()[0]["delay_ms"]
    assert cont == one_shot


def test_cache_freshness_parsing(spark):
    from kermit_spark.frontier import cache_freshness_s

    rows = [
        (1, {"cache-control": "max-age=600"}),
        (2, {"cache-control": "public, max-age=3600, must-revalidate"}),
        (3, {"cache-control": "s-maxage=7200, max-age=60"}),       # shared wins
        (4, {"cache-control": "no-cache, private"}),               # -> 0
        (5, {"cache-control": "no-store"}),                        # -> 0
        (6, {"cache-control": 'max-age="120"'}),                   # quoted form
        (7, {"expires": "Thu, 02 Jan 2025 03:00:00 GMT",
             "date": "Thu, 02 Jan 2025 00:00:00 GMT"}),            # 3h delta
        (8, {"expires": "Wed, 01 Jan 2025 00:00:00 GMT",
             "date": "Thu, 02 Jan 2025 00:00:00 GMT"}),            # expired -> 0
        (9, {"expires": "garbage", "date": "also garbage"}),       # -> null
        (10, {"content-type": "text/html"}),                       # -> null
        (11, {"cache-control": "smax-age=999"}),                   # no boundary hit
        # max-age beats the Expires pair when both present (RFC 9111 §4.2.1)
        (12, {"cache-control": "max-age=5",
              "expires": "Thu, 02 Jan 2025 03:00:00 GMT",
              "date": "Thu, 02 Jan 2025 00:00:00 GMT"}),
    ]
    df = spark.createDataFrame(rows, "id long, headers map<string,string>")
    got = {r["id"]: r["f"] for r in df.select("id", cache_freshness_s(F.col("headers")).alias("f")).collect()}
    assert got[1] == 600 and got[2] == 3600
    assert got[3] == 7200
    assert got[4] == 0 and got[5] == 0
    assert got[6] == 120
    assert got[7] == 3 * 3600
    assert got[8] == 0
    assert got[9] is None and got[10] is None
    assert got[11] is None
    assert got[12] == 5
    # pure JVM: no shuffle, no Python
    plan = (
        df.select(cache_freshness_s(F.col("headers")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_cache_floor_waves_latest_wins(spark):
    from kermit_spark.frontier import cache_floor_waves

    rows = [
        # u1: wave 0 said 1h, wave 2 (latest) says 30min -> floor over latest
        ("u1", 0, {"cache-control": "max-age=3600"}),
        ("u1", 2, {"cache-control": "max-age=1800"}),
        # u2: latest declared nothing -> null floor
        ("u2", 0, {"cache-control": "max-age=9999"}),
        ("u2", 1, {"content-type": "text/html"}),
        # u3: no-cache -> 0 freshness -> floor 0
        ("u3", 5, {"cache-control": "no-cache"}),
    ]
    df = spark.createDataFrame(rows, "url string, wave long, headers map<string,string>")
    got = {r["url"]: r for r in cache_floor_waves(df, seconds_per_wave=600).collect()}
    assert got["u1"]["freshness_s"] == 1800 and got["u1"]["floor_waves"] == 3
    assert got["u2"]["freshness_s"] is None and got["u2"]["floor_waves"] is None
    assert got["u3"]["floor_waves"] == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cache_floor_waves(df, seconds_per_wave=0)


def test_recrawl_schedule_respects_cache_floor(spark):
    from kermit_spark.frontier import cache_floor_waves, recrawl_schedule

    # u1 changes every fetch (estimator says interval 1) but the server
    # declares 5 waves of freshness; u2 has no floor -> estimator verdict
    hist = spark.createDataFrame(
        [("u1", w, f"h{w}") for w in range(4)]
        + [("u2", w, f"g{w}") for w in range(4)],
        "url string, wave long, content_hash string",
    )
    floors = cache_floor_waves(
        spark.createDataFrame(
            [("u1", 3, {"cache-control": "max-age=5000"})],
            "url string, wave long, headers map<string,string>",
        ),
        seconds_per_wave=1000,
    )
    base = {r["url"]: r for r in recrawl_schedule(hist, current_wave=4).collect()}
    got = {
        r["url"]: r
        for r in recrawl_schedule(
            hist, current_wave=4, interval_floors=floors
        ).collect()
    }
    assert base["u1"]["interval_waves"] == 1 and base["u1"]["overdue"]
    assert got["u1"]["interval_waves"] == 5            # floor wins, beyond estimate
    assert got["u1"]["next_due"] == 8 and not got["u1"]["overdue"]
    assert got["u2"] == base["u2"]                     # no floor -> unchanged
    # schema identical with and without floors (driver-contract stability)
    assert recrawl_schedule(hist, 4).columns == recrawl_schedule(
        hist, 4, interval_floors=floors
    ).columns


def test_priority_aging_prevents_starvation(spark):
    """Under pure (priority DESC) a constant influx of fresh high-priority
    URLs starves the long tail forever on a budget-1 host; aging_rate makes
    waiting rows gain priority per wave waited, so the old URL eventually
    outranks the fresh one — and rate 0 stays exactly the §2.8 order."""
    old = as_frontier_rows(
        spark.createDataFrame([("http://a.test/old", 1.0)], "url string, priority double"),
        4, wave=0,
    )
    new = as_frontier_rows(
        spark.createDataFrame([("http://a.test/new", 5.0)], "url string, priority double"),
        4, wave=10,
    )
    elig = old.unionByName(new)
    pol = Politeness((Limit(".*", 1),))
    assert dequeue(elig, pol).first()["url"] == "http://a.test/new"
    # old effective = 1 + 1·(10−0) = 11 > 5: the starving URL finally wins
    assert (
        dequeue(elig, pol, aging_rate=1, current_wave=10).first()["url"]
        == "http://a.test/old"
    )
    # rate 0 with a current_wave is a no-op
    assert (
        dequeue(elig, pol, aging_rate=0, current_wave=10).first()["url"]
        == "http://a.test/new"
    )


def test_bloom_cogroup_fallback_beyond_driver_cap(spark, tmp_path):
    """The 10^10-scale regime: a URL-seen blob set past the driver budget
    (driver_blob_max_bytes) must stay table-resident — schedule probes via
    the distributed cogroup path, commit merges via the distributed
    incremental merge — and produce EXACTLY the dedup result the
    driver-held path produces, for both kernels."""
    from pyspark.sql import functions as F

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.frontier import Frontier

    def urls(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(
                F.lit("http://h"), F.pmod(F.col("id"), F.lit(7)).cast("string"),
                F.lit(".test/p/"), F.col("id").cast("string"), F.lit(".html"),
            ).alias("url")
        )

    for kind in ("bloom", "cuckoo"):
        results = {}
        for mode, cap in (("driver", 512 << 20), ("cogroup", 1)):
            fr = Frontier(
                SnapshotCatalog(spark, str(tmp_path / f"{kind}-{mode}")), num_partitions=4,
                bloom_min_frontier=0,          # bloom active at toy scale
                driver_blob_max_bytes=cap,
                seen_filter=kind,
            )
            fr.init(urls(0, 2000))
            n1 = fr.schedule(urls(1000, 3000), wave=1)   # 50% overlap
            n2 = fr.schedule(urls(2500, 3500), wave=2)   # overlaps wave 1's new rows
            if mode == "cogroup":
                assert fr._blobs is None                  # never driver-held
            results[mode] = (
                n1, n2,
                sorted(r["url"] for r in fr.read().filter(F.col("wave") > 0).collect()),
            )
        assert results["cogroup"] == results["driver"]
        assert results["driver"][0] == 1000 and results["driver"][1] == 500


def test_trust_filter_mode_matches_exact_when_filter_healthy(spark, tmp_path):
    """exact_dedup=False (Heritrix BloomUriUniqFilter semantics): with a
    healthily-sized filter (no false positives at toy scale) the admitted
    URL set must equal the exact mode's — the switch changes cost shape
    (batch-sized vs O(frontier) anti-join), not healthy-path results."""
    results = {}
    for exact in (True, False):
        cat = SnapshotCatalog(spark, str(tmp_path / f"c{exact}"))
        fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0, exact_dedup=exact)
        fr.init(_urls(spark, _range_urls(0, 200)))
        n1 = fr.schedule(_urls(spark, _range_urls(100, 300)), wave=1)
        n2 = fr.schedule(_urls(spark, _range_urls(0, 300)), wave=2)
        rows = sorted(r["url"] for r in fr.read().collect())
        results[exact] = (n1, n2, rows)
    assert results[True] == results[False]
    assert results[True][0] == 100 and results[True][1] == 0


def test_trust_filter_mode_documents_bounded_loss_on_saturated_filter(spark, tmp_path):
    """The trade exact_dedup=False makes, demonstrated: a deliberately
    SATURATED tiny Bloom (fpp ~1) makes trust mode drop new URLs (they
    probe positive), while exact mode re-admits every one through the
    anti-join. This is the documented bounded-loss behavior — production
    keeps fpp at the auto-grow target (~1e-5), not 1.0."""
    from kermit_spark.bloom import BloomSpec

    tiny = BloomSpec(m_bits=1 << 10, k_hashes=7)  # saturates at ~200 keys
    lost, exact_ok = {}, {}
    for exact in (True, False):
        cat = SnapshotCatalog(spark, str(tmp_path / f"s{exact}"))
        fr = Frontier(cat, num_partitions=2, bloom_min_frontier=0,
                      bloom_spec=tiny, bloom_max_fpp=None, exact_dedup=exact)
        fr.init(_urls(spark, _range_urls(0, 2000)))
        n_new = fr.schedule(_urls(spark, _range_urls(2000, 2400)), wave=1)
        lost[exact] = 400 - n_new
    assert lost[True] == 0          # exact mode never loses a URL
    assert lost[False] > 0          # trust mode pays the (bounded) fp loss


def test_trust_filter_mode_never_duplicates_frontier_rows(spark, tmp_path):
    """Trust mode across a saturation + auto-grow window: a saturated
    filter DROPS new URLs (loss maximal at fpp~1 — the exact situation
    auto-grow exists to end), and once the rebuild restores a low fpp the
    dropped URLs are legitimately RE-ADMITTED on re-discovery (they never
    entered the frontier). What must NEVER happen in trust mode is a
    duplicate frontier row — the filter has no false negatives, so every
    probe-negative is genuinely new. Pin both properties for both kernels
    and both residencies (the exact-mode cells of the same matrix are
    test_bloom_autogrows_on_saturation). A cuckoo table does not drop more
    as it fills (its fp bound is structural); it overflows instead, and the
    grow must happen inside the overflowing wave: a filter short of a key
    would re-admit that key as a duplicate row."""
    for kind, res in [(k, r) for k in ("bloom", "cuckoo") for r in RESIDENCIES]:
        cat = SnapshotCatalog(spark, str(tmp_path / f"{kind}-{res}"))
        fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0,
                      bloom_max_fpp=0.02, exact_dedup=False,
                      driver_blob_max_bytes=RESIDENCIES[res], **_tiny_filter(kind))
        if kind == "bloom":
            fr.init(_urls(spark, _range_urls(0, 3000)))
            fr._ensure_blobs_current()
            fr.schedule(_urls(spark, _range_urls(2990, 3010)), wave=0)  # mostly dropped
            fr.flush_bloom()                                            # auto-grow fires
            assert fr.bloom_spec.m_bits > 1 << 10
            target = range(3000, 3010)
        else:
            fr.init(_urls(spark, _range_urls(0, 1000)))
            # ~1,000 new keys per partition into 2,048 slots built for
            # ~330: the wave's insert overflows and grows at once
            fr.schedule(_urls(spark, _range_urls(1000, 4000)), wave=0)
            assert fr.cuckoo_spec.n_buckets > 256
            target = range(1000, 4000)
        fr.schedule(_urls(spark, _range_urls(target[0] - 500, target[-1] + 101)), wave=1)  # re-offer + new
        urls = [r["url"] for r in fr.read().select("url").collect()]
        total, distinct = len(urls), len(set(urls))
        assert total == distinct                 # no duplicate rows, ever
        # and the re-offered URLs ended up admitted exactly once
        n_target = len(set(urls) & {f"http://h{i % 3}.test/{i}" for i in target})
        if kind == "bloom":
            assert n_target == len(target)
        else:
            # cuckoo trust loss stays within its structural fp bound
            assert len(target) - n_target <= len(target) * 2 * 4 / 256


def test_trust_filter_saturation_recovers_mid_crawl(spark, tmp_path):
    """Trust-mode liveness (review finding): a saturated filter makes every
    candidate probe-positive, so n_new==0 and the epoch-gated flush never
    runs — the auto-grow must fire from the zero-new wave itself, not
    only at crawl end, or every URL discovered for the rest of the crawl
    is silently dropped. After one all-dropped wave the NEXT offer of the
    same URLs must be admitted through the grown filter — whether the
    blobs are driver-held or table-resident."""
    from kermit_spark.bloom import BloomSpec

    for res, cap in RESIDENCIES.items():
        cat = SnapshotCatalog(spark, str(tmp_path / res))
        fr = Frontier(cat, num_partitions=4, bloom_min_frontier=0,
                      bloom_spec=BloomSpec(m_bits=1 << 10, k_hashes=7),
                      bloom_max_fpp=0.02, exact_dedup=False, driver_blob_max_bytes=cap)
        fr.init(_urls(spark, _range_urls(0, 12000)))  # fill 1.0: every bit set
        fr._ensure_blobs_current()
        m0 = fr.bloom_spec.m_bits
        # saturated: every genuinely-new candidate probes positive -> 0 new
        n1 = fr.schedule(_urls(spark, _range_urls(12000, 12200)), wave=1)
        assert n1 == 0
        # the zero-new wave itself must have triggered the saturation check
        assert fr.bloom_spec.m_bits > m0
        # next offer of the SAME URLs goes through the grown filter
        n2 = fr.schedule(_urls(spark, _range_urls(12000, 12200)), wave=2)
        assert n2 == 200
        assert fr.read().count() == 12200

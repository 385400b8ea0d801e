"""The URL frontier — a salted, host-partitioned priority queue over the
snapshot catalog.

Re-expresses the reference's QueueSystem/UrlStore (for parity review):
  * schedule + unique-index dedup  — /root/reference/src/kermit/QueueSystem.coffee:162,194-201 (Q1)
  * scheduled→processing CAS       — QueueSystem.coffee:172-184 (Q2)
  * visited                        — QueueSystem.coffee:205-209 (Q3)
  * reschedule (retry)             — QueueSystem.coffee:189-191 (Q4)
  * batched dequeue                — QueueSystem.coffee:214-216 (Q5)
  * per-pattern rate limits        — extensions/core.queues.coffee:28-34,69-100 (Q9)
  * per-phase counters             — QueueSystem.coffee:154-157 (A2)

Scale design (SURVEY §4):
  * partition key ``p = pmod(xxhash64(host), P)`` — all URLs of a host live in
    one bucket, so per-host politeness needs no extra shuffle and hot-host
    commits touch one partition;
  * dequeue is a **two-level top-k** to defuse hot-host skew: a first
    row_number window over (host, sub_salt) — sub_salt spreads a hot host's
    millions of rows over S sub-groups — caps each sub-group at the host
    budget, then a second window over (host) ranks the ≤ S×budget survivors.
    The second window's per-host input is bounded by S×budget regardless of
    how hot the host is, so no single task ever sorts a whole hot domain;
  * ordering is the deterministic contract of SURVEY §2.8:
    (priority DESC, depth ASC, wave ASC, url_hash ASC) — strictly stronger
    than the reference's timing-dependent interleaving, same BFS semantics;
  * dedup = seen-filter prefilter (seen.py over the bloom.py / cuckoo.py
    kernels) + exact anti-join on
    (p, url_hash, url) — url in the key so a 64-bit hash collision can never
    merge two distinct URLs. Below BLOOM_MIN_FRONTIER rows the plain
    anti-join alone is cheaper and the blobs pause (epoch-tracked rebuild on
    crossing) — a cost switch, never a semantics switch;
  * commits are replace-for-the-batch + fast-APPEND-for-discovery
    (catalog.merge_write): cost O(batch + new data), independent of the
    frontier size and of how many partitions discovery scatters into.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import seen
from .bloom import BloomSpec
from .catalog import SnapshotCatalog
from .cuckoo import CuckooSpec
from .functions.urls import host_of

FRONTIER_TABLE = "frontier"
URL_SEEN_TABLE = "url_seen"

# Below this many frontier rows the Bloom machinery (blob read + broadcast
# probe + reverse prefilter: ~4 extra jobs per wave) costs more than the
# plain exact anti-join it accelerates. The frontier row count is tracked in
# snapshot properties, so the switch is free; crossing the threshold
# triggers a one-time blob rebuild (epoch-tracked, see _ensure_bloom_synced).
BLOOM_MIN_FRONTIER = 1_000_000

# A saturated seen filter grows each partition to this multiple of ITS OWN
# observed key count (10 bits/key Bloom → fpp back to ≈0.8%; cuckoo load
# back to ~25%). Capacity quadruples per grow, so the O(frontier) rebuild
# amortizes.
SEEN_GROWTH = 4.0

# status lifecycle (UrlStore phases, QueueSystem.coffee:194-199 — plus 'error'
# which the reference models on the item, RequestItem.coffee:295-299)
SCHEDULED = "scheduled"
PROCESSING = "processing"
VISITED = "visited"
ERROR = "error"
# terminal: disallowed by robots.txt (north_rule Q12; no reference analog).
# Terminal rather than re-scheduled so a blocked URL never burns budget twice.
ROBOTS_BLOCKED = "robots_blocked"
# transient UPDATE MARKER, never a stored status: a 429/503 server-throttle
# outcome. commit_wave resolves it per row — back to 'scheduled' while the
# (bumped) tries stay under the throttle retry budget, 'error' once exhausted
# — so a politely-deferred URL is retried after the host backoff expires but
# a permanently-throttling host cannot loop forever.
THROTTLED_RETRY = "throttled_retry"

FRONTIER_COLS = [
    "p", "url_hash", "url", "host", "status",
    "priority", "depth", "referer", "wave", "tries",
    "etag", "last_modified",
]


def partition_of(host: Column, num_partitions: int) -> Column:
    return F.pmod(F.xxhash64(host), F.lit(num_partitions)).cast("int")


def as_frontier_rows(
    urls: DataFrame,
    num_partitions: int,
    wave: int,
    status: str = SCHEDULED,
) -> DataFrame:
    """Normalize a (url[, host, priority, depth, referer]) DataFrame into full
    frontier schema. Missing columns get defaults (seed rows: depth 0)."""
    defaults = {
        "host": host_of(F.col("url")),
        "priority": F.lit(0.0),
        "depth": F.lit(0),
        "referer": F.lit(None).cast("string"),
        "tries": F.lit(0),
        # HTTP validators, populated when the URL is first VISITED (from the
        # response's ETag / Last-Modified headers) and carried through
        # recrawl so a re-fetch can be conditional (If-None-Match /
        # If-Modified-Since → 304). Null for never-fetched rows; nullable
        # strings are ~free in parquet at frontier scale.
        "etag": F.lit(None).cast("string"),
        "last_modified": F.lit(None).cast("string"),
    }
    # one projection for every missing column: each withColumn re-analyses
    # the whole plan again
    df = urls.withColumns({c: e for c, e in defaults.items() if c not in urls.columns})
    return df.select(
        partition_of(F.col("host"), num_partitions).alias("p"),
        F.xxhash64(F.col("url")).alias("url_hash"),
        F.col("url"),
        F.col("host"),
        F.lit(status).alias("status"),
        F.col("priority").cast("double"),
        F.col("depth").cast("int"),
        F.col("referer").cast("string"),
        F.lit(wave).cast("int").alias("wave"),
        F.col("tries").cast("int"),
        F.col("etag").cast("string"),
        F.col("last_modified").cast("string"),
    )


@dataclass(frozen=True)
class Limit:
    """One politeness rule: first matching pattern decides (Q9 semantics,
    core.queues.coffee:69-100). ``budget`` = rate × wave-duration tokens per
    host per wave; ``max_concurrent`` caps in-flight fetches, which in wave
    execution means budget_effective = min(budget, max_concurrent × waves'
    fetch rounds) — we keep it as a separate cap like the reference."""

    pattern: str  # regex over the HOST (reference matches the URL; host is
    #               the politeness-relevant part and keeps matching cheap)
    budget: int
    max_concurrent: int | None = None

    @property
    def effective(self) -> int:
        if self.max_concurrent is None:
            return self.budget
        return min(self.budget, self.max_concurrent)


@dataclass(frozen=True)
class Politeness:
    """Reference defaults: 5 req/s, max 5 concurrent, catch-all pattern
    (core.queues.coffee:28-34); unmatched hosts are an error
    (core.queues.coffee:78 throws) — enforce_total() reproduces that."""

    limits: tuple[Limit, ...] = field(default=(Limit(".*", 5, 5),))

    def budget_expr(self, host: Column) -> Column:
        """First-match budget as a JVM-side CASE over rlike — no UDF."""
        expr = F.lit(None).cast("int")
        for lim in reversed(self.limits):
            expr = F.when(host.rlike(lim.pattern), F.lit(lim.effective)).otherwise(expr)
        return expr


@dataclass(frozen=True)
class RandomizedDelay:
    """Q10 anti-bot jitter, wave-batch analog (reference:
    ext.RandomizedDelay.coffee:8-41 delays in-flight fetches with
    probability ``ratio``). In wave execution, deferral IS delay: each wave
    a pseudo-random ``ratio`` of due URLs is pushed to a later wave. The
    coin is xxhash64(url_hash, wave, seed) — deterministic per (URL, wave),
    so the selection is identical across runs, resumes and cluster sizes
    (no nondeterministic UDFs on the frontier path, SURVEY §7)."""

    ratio: float = 0.1
    seed: int = 0

    def defer_expr(self, wave: int) -> Column:
        coin = F.pmod(
            F.xxhash64(F.col("url_hash"), F.lit(wave), F.lit(self.seed)),
            F.lit(10000),
        )
        return coin < F.lit(int(self.ratio * 10000))


def dequeue_order(aging_rate: int = 0, current_wave: int | None = None) -> list[Column]:
    """The deterministic ordering contract of SURVEY §2.8.

    ``aging_rate`` > 0 turns on priority AGING (starvation prevention —
    Heritrix cost-policy / OS-scheduler aging analog): the first sort key
    becomes priority + aging_rate·(current_wave − discovery wave), so a
    low-priority URL gains one priority unit per ``1/aging_rate`` waves it
    waits and eventually outranks a constant influx of fresh high-priority
    URLs — without aging, a hot host under budget pressure starves its
    long tail FOREVER under pure (priority DESC). Integer arithmetic, so
    the contract stays bit-reproducible; rate 0 (default) is exactly the
    §2.8 order. Later tie-break keys are unchanged."""
    eff = F.col("priority")
    if aging_rate and current_wave is not None:
        eff = eff + F.lit(int(aging_rate)) * (F.lit(int(current_wave)) - F.col("wave"))
    return [
        eff.desc(),
        F.col("depth").asc(),
        F.col("wave").asc(),
        F.col("url_hash").asc(),
    ]


def dequeue(
    eligible: DataFrame,
    politeness: Politeness,
    sub_salts: int = 16,
    global_cap: int | None = None,
    enforce_total: bool = True,
    host_budgets: DataFrame | None = None,
    politeness_key: Column | None = None,
    aging_rate: int = 0,
    current_wave: int | None = None,
) -> DataFrame:
    """Select ≤ budget(host) URLs per host, deterministically ordered.

    Two-level top-k (see module docstring). Returns the input columns plus
    ``rank`` (1-based within host) — (wave, host, rank) is the reproducible
    crawl order of SURVEY §2.8.

    ``global_cap``: optional cap on total dequeued per wave (maxWaiting analog,
    Crawler.coffee:260-262), applied deterministically after per-host ranking.

    ``host_budgets``: optional (host, budget_cap) rows — data-driven per-host
    tightening of the configured budget (the crawler derives these from
    robots Crawl-delay). ≤ one row per host; hosts absent keep the
    configured budget; the effective budget is min(configured, cap). Joined
    on host — the same key the level-1 window shuffles on, so the join adds
    no second partitioning of the eligible set.

    ``politeness_key``: optional expression replacing the HOST as the unit
    the budget and rank windows group on — pass
    ``registrable_domain(F.col("host"))`` for eTLD+1 grouping, so a site
    sharded over thousands of subdomains still gets ONE site budget. The
    budget pattern then matches against the key; host_budgets caps stay
    per-host (robots state is per-host) and bound each host's rows inside
    its domain group.

    ``aging_rate``/``current_wave``: priority aging for starvation
    prevention — see :func:`dequeue_order`. Both windows and the host-cap
    pre-rank use the same aged key, so the contract stays one consistent
    total order.
    """
    # default mode groups on the host column ITSELF — materializing a _pkey
    # copy there would widen every shuffle row by the host string for nothing
    if politeness_key is not None:
        df = eligible.withColumn("_pkey", politeness_key)
        kcol = "_pkey"
    else:
        df = eligible
        kcol = "host"
    budget = politeness.budget_expr(F.col(kcol))
    df = df.withColumn("_budget", budget)
    if host_budgets is not None:
        caps = host_budgets.select(
            F.col("host").alias("_b_host"), F.col("budget_cap").alias("_cap")
        )
        df = df.join(caps, df.host == caps._b_host, "left").drop("_b_host")
        if politeness_key is None:
            # key == host: the cap folds straight into the budget
            df = df.withColumn(
                "_budget",
                F.least(F.col("_budget"), F.coalesce(F.col("_cap"), F.col("_budget"))),
            ).drop("_cap")
        else:
            # key != host (domain grouping): a host cap bounds that HOST's
            # rows, not the whole group — rank per host first, then let the
            # group-level windows run on the survivors. One extra window,
            # paid only when both features are on.
            wh = Window.partitionBy("host").orderBy(*dequeue_order(aging_rate, current_wave))
            df = (
                df.withColumn("_hr", F.row_number().over(wh))
                .filter(F.col("_cap").isNull() | (F.col("_hr") <= F.col("_cap")))
                .drop("_hr", "_cap")
            )
    # reference: isAllowed throws if no limit matches (core.queues.coffee:78).
    # A catch-all pattern makes the probe statically unnecessary — skip the
    # extra job in that (default) case.
    has_catch_all = any(lim.pattern in (".*", "^.*$", ".*$") for lim in politeness.limits)
    if enforce_total and not has_catch_all:
        bad = df.filter(F.col("_budget").isNull()).limit(1).count()
        if bad:
            sample = df.filter(F.col("_budget").isNull()).select("host").first()
            raise ValueError(f"no politeness limit matches host {sample[0]!r}")

    # level 1: spread each key over sub-salt groups, cap each at budget
    df = df.withColumn(
        "_sub", F.pmod(F.col("url_hash"), F.lit(sub_salts)).cast("int")
    )
    w1 = Window.partitionBy(kcol, "_sub").orderBy(*dequeue_order(aging_rate, current_wave))
    df = (
        df.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col("_budget"))
        .drop("_r1", "_sub")
    )
    # level 2: exact per-key rank on the bounded survivor set
    w2 = Window.partitionBy(kcol).orderBy(*dequeue_order(aging_rate, current_wave))
    df = (
        df.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= F.col("_budget"))
        .drop("_budget", "_pkey")
    )
    if global_cap is not None:
        # deterministic global selection: hosts are interleaved by rank first
        # (fairness), ties broken by url_hash. orderBy+limit plans as
        # TakeOrderedAndProject — per-partition top-k then a bounded merge —
        # instead of the partitionless row_number window this used to be,
        # which funneled every dequeued row through one task (r1 finding #5).
        df = df.orderBy(F.col("rank").asc(), F.col("url_hash").asc()).limit(global_cap)
    return df


class Frontier:
    """Catalog-backed frontier operations. All mutations are snapshot commits
    touching only the partitions that changed."""

    def __init__(
        self,
        catalog: SnapshotCatalog,
        num_partitions: int = 32,
        bloom_spec: BloomSpec | None = None,
        bloom_min_frontier: int = BLOOM_MIN_FRONTIER,
        bloom_commit_every: int = 8,
        bloom_max_fpp: float | None = 0.02,
        seen_filter: str = "bloom",
        cuckoo_spec: CuckooSpec | None = None,
        driver_blob_max_bytes: int = 512 << 20,
        exact_dedup: bool = True,
    ):
        if seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', got {seen_filter!r}")
        self.catalog = catalog
        self.num_partitions = num_partitions
        self.bloom_min_frontier = bloom_min_frontier
        # probe-structure choice (north rule: "bloom/cuckoo URL-seen, cuckoo
        # fallback for deletions"), picked here once: the kernel is the spec
        # named by seen_filter, and seen.py runs either one. Bloom = default:
        # smaller blobs, vectorized OR-merge; matches reference semantics
        # where nothing is ever un-seen. Cuckoo = deletable fingerprints:
        # evict() removes keys in place (O(evicted)) where Bloom must mark
        # the blobs stale and pay one O(frontier) rebuild. Either way the
        # filter is a shuffle-reduction prefilter; the anti-join is
        # membership truth. A grow replaces the picked spec, so
        # ``bloom_spec`` / ``cuckoo_spec`` always size the next new blob.
        self.seen_filter = seen_filter
        self.bloom_spec = bloom_spec or BloomSpec()
        self.cuckoo_spec = cuckoo_spec or CuckooSpec()
        self._spec_attr = f"{seen_filter}_spec"
        # blob maintenance is DEFERRED: the driver already collects the blobs
        # for the broadcast probe each wave, so new keys are inserted into
        # that in-process copy (zero Spark jobs) and the url_seen table is
        # only written every ``bloom_commit_every`` epochs / at flush_bloom().
        # Crash between flushes ⇒ one O(frontier) rebuild at next use — the
        # blobs are derived state, the frontier table is membership truth.
        self.bloom_commit_every = bloom_commit_every
        # saturation guard: a fixed-m Bloom silently degrades as waves OR
        # more keys in (fpp = fill^k keeps climbing) — at 10^10-frontier
        # scale that turns the prefilter into a no-op and the exact
        # anti-join back into a full-frontier shuffle — and a cuckoo table
        # runs full. The health check (_check_health) runs every
        # ``bloom_commit_every`` epochs, at flush_bloom() and on a trust-mode
        # wave that admits nothing, in both residencies; a Bloom partition
        # whose ACTUAL fpp exceeds ``bloom_max_fpp`` (None = off), a cuckoo
        # partition past its load limit, or any key a cuckoo could not
        # place triggers one _grow_and_rebuild.
        self.bloom_max_fpp = bloom_max_fpp
        # driver-held blob budget: above this total the URL-seen set stays
        # table-resident and every probe/merge runs distributed (cogroup) —
        # at 10^10 keys × 10 bits the set is ~12.5 GB, far past any driver;
        # the explicit knob lets deployments size it to their driver heap
        # (and tests force the cogroup path at toy scale)
        self.driver_blob_max_bytes = driver_blob_max_bytes
        # batch-size ceiling for the broadcast semi-join reverse prune
        # (~16 B/key → 1.6 GB at the default); a larger injected batch
        # falls back to the unpruned anti-join rather than OOMing the
        # driver (see _dedup_candidates)
        self.broadcast_prune_max_rows = 100_000_000
        # exact_dedup=False = TRUST-THE-FILTER mode (Heritrix's
        # BloomUriUniqFilter semantics): a probe-positive candidate is
        # treated as seen WITHOUT the exact anti-join confirmation, so the
        # per-wave dedup cost is batch-sized at ANY frontier size — the
        # O(frontier) scan feeding the reverse prune/anti-join (the one
        # frontier-size-dependent term of a wave, measured ~6 s at 5x10^7
        # rows) disappears entirely. The price is bounded URL LOSS at the
        # filter's false-positive rate: with the saturation auto-grow
        # holding fpp ≤ bloom_max_fpp (post-grow measured 7e-06), a
        # 10^6-candidate wave wrongly drops ~7 genuinely-new URLs per
        # million — the standard large-crawler trade (Heritrix ships it as
        # the default wide-crawl uniq filter). Default True: exactness is
        # the reference-parity contract (never lose a URL), and every
        # oracle/test runs exact.
        self.exact_dedup = exact_dedup
        # seen-filter state: {p: filter} when driver-held, None when
        # table-resident (or not loaded); current as of url_epoch
        # _blobs_epoch (-1 = unknown). _checked_epoch is the epoch of the
        # last health check.
        self._blobs: dict | None = None
        self._blobs_epoch = -1
        self._checked_epoch = -1
        self._dirty_parts: set[int] = set()
        self._pending_cache = None  # intra-commit cache (see _dedup_candidates)

    @property
    def _spec(self):
        """The seen-filter kernel (``bloom_spec`` or ``cuckoo_spec``)."""
        return getattr(self, self._spec_attr)

    # -- lifecycle ---------------------------------------------------------

    def init(self, seed_urls: DataFrame, wave: int = 0) -> None:
        """Create frontier + url_seen from seed URLs (Crawler.crawl S1 entry:
        seeds go straight to scheduled)."""
        rows = as_frontier_rows(
            seed_urls, self.num_partitions, wave=wave
        ).dropDuplicates(["url_hash", "url"]).persist()
        n = rows.count()
        self.catalog.create(
            FRONTIER_TABLE, rows, self.num_partitions,
            properties={"n_rows": n, "url_epoch": 0},
        )
        # small frontier: dedup is a plain anti-join; blobs are built on
        # demand the first time the frontier crosses the threshold
        use_bloom = self._use_bloom(n)
        self.catalog.create(
            URL_SEEN_TABLE,
            seen.build_blobs(rows if use_bloom else rows.limit(0), self._spec),
            self.num_partitions,
            properties={"synced_epoch": 0 if use_bloom else -1},
        )
        rows.unpersist()

    def _use_bloom(self, n_rows: int | None) -> bool:
        # unknown size (legacy table without the stat) -> assume big: the
        # Bloom path is the safe default at scale
        return n_rows is None or n_rows >= self.bloom_min_frontier

    def _frontier_stats(self) -> tuple[int | None, int]:
        props = self.catalog.snapshot_property(FRONTIER_TABLE)
        n = props.get("n_rows")
        return (int(n) if n is not None else None), int(props.get("url_epoch", 0))

    def _ensure_blobs_current(self) -> dict | None:
        """Make the seen-filter state match the frontier's url_epoch and
        return the driver-held filters; None when the blobs exceed the
        driver cap (table-resident: the distributed cogroup path takes
        over). Stale committed blobs (sub-threshold waves, a crash between
        deferred flushes, another writer) trigger ONE O(frontier) rebuild,
        committed immediately and epoch-stamped."""
        _, epoch = self._frontier_stats()
        if self._blobs_epoch == epoch:
            return self._blobs
        synced = int(self.catalog.snapshot_property(URL_SEEN_TABLE).get("synced_epoch", -1))
        if synced != epoch:
            self._rebuild(epoch)
        self._hold(epoch)
        return self._blobs

    def _rebuild(self, epoch: int, sizes: dict | None = None) -> None:
        """Build every blob from the frontier table and commit it at
        ``epoch``."""
        self.catalog.overwrite_partitions(
            URL_SEEN_TABLE,
            seen.build_blobs(self.read(), self._spec, sizes),
            range(self.num_partitions),
            properties={"synced_epoch": epoch},
        )

    def _hold(self, epoch: int) -> None:
        """Adopt the committed blobs as the current state at ``epoch``:
        driver-held when they fit the budget, else table-resident."""
        self._blobs = seen.collect_blobs(
            self.catalog.read(URL_SEEN_TABLE), self._spec, self.driver_blob_max_bytes
        )
        self._blobs_epoch = self._checked_epoch = epoch
        self._dirty_parts = set()

    def _forget_blobs(self) -> None:
        """Drop the seen-filter state; the next above-threshold use reloads
        it, rebuilding once if the committed blobs are stale."""
        self._blobs = None
        self._blobs_epoch = -1

    def flush_bloom(self) -> None:
        """Run the seen-filter health check, then commit deferred driver-side
        blob maintenance to the url_seen table (partition-pruned: only dirty
        blobs are written). Runs every ``bloom_commit_every`` epochs and
        should be called at crawl end; a no-op before any seen-filter state
        exists.

        The health check runs even with NOTHING dirty: under
        ``exact_dedup=False`` a fully saturated filter admits nothing, so
        no blob ever goes dirty — gating the check on dirtiness would
        leave the filter saturated FOREVER, silently dropping every new
        URL. Driver-held filters are popcounted in process (no Spark job);
        table-resident blobs take one distributed fill-stats pass."""
        if self._blobs_epoch < 0:
            return
        if self._check_health() or not self._dirty_parts:
            return
        dirty = sorted(self._dirty_parts)
        df = self.catalog.spark.createDataFrame(
            [(p, *self._blobs[p].row()) for p in dirty], seen.BLOB_SCHEMA
        )
        self.catalog.overwrite_partitions(
            URL_SEEN_TABLE, df, dirty, properties={"synced_epoch": self._blobs_epoch}
        )
        self._dirty_parts = set()

    def _check_health(self) -> bool:
        """One health check for both kernels and both residencies: grow and
        rebuild when any partition is saturated. Returns whether it did."""
        self._checked_epoch = self._blobs_epoch
        stats = self.seen_fill_stats()
        if not any(self._spec.saturated(s, self.bloom_max_fpp) for s in stats.values()):
            return False
        self._grow_and_rebuild(stats)
        return True

    def _grow_and_rebuild(self, stats: dict[int, dict]) -> None:
        """Saturation response: grow each partition's blob to
        ``SEEN_GROWTH``× ITS OWN observed key count and rebuild the WHOLE
        blob set from the frontier table — membership truth, so the rebuild
        can never lose a key, and a cuckoo blob that could not place a key
        is replaced. Committed at the current url_epoch; the rebuilt blobs
        stay driver-resident when they fit the budget, so the next wave
        probes immediately.

        Sizing is PER PARTITION, not a uniform peak-sized spec: frontier
        partitions are host-salted, so a hot domain skews key counts
        10-100x — a uniform spec at growth×peak would cost
        peak-sized-blob × P driver/broadcast bytes (measured 540 MB at the
        10^7-row skewed leg vs ~70 MB per-partition). The kernel spec keeps
        the grown PEAK as the fallback for partitions that appear later;
        every probe/merge path reads each blob's own size, so the
        heterogeneous set is native."""

        def keys_of(s: dict) -> float:
            return max(s["n_items"], s["est_keys"] if math.isfinite(s["est_keys"]) else 0.0)

        def grown(keys: float):
            return self._spec.for_capacity(int(math.ceil(keys * SEEN_GROWTH)))

        sizes = {int(p): grown(keys_of(s)) for p, s in stats.items()}
        setattr(self, self._spec_attr, grown(max(keys_of(s) for s in stats.values())))
        _, epoch = self._frontier_stats()
        self._rebuild(epoch, sizes)
        self._hold(epoch)

    def seen_fill_stats(self) -> dict[int, dict]:
        """Per-partition saturation of the URL-seen structure: {p:
        {n_items, m_bits, k_hashes, fill_ratio, est_keys, est_fpp}}.
        Driver-held filters are counted in-process (no Spark job);
        otherwise one distributed pass over the blob table."""
        if self._blobs is not None:
            return {p: f.fill_stats() for p, f in self._blobs.items()}
        rows = seen.fill_stats(self.catalog.read(URL_SEEN_TABLE), self._spec).collect()
        return {r["p"]: {k: v for k, v in r.asDict().items() if k != "p"} for r in rows}

    def read(self) -> DataFrame:
        return self.catalog.read(FRONTIER_TABLE)

    def counts(self) -> dict[str, int]:
        """A2 counters: status -> count (metadata-cheap at small scale; at
        Iceberg scale this is a partition-stats read)."""
        rows = self.read().groupBy("status").count().collect()
        return {r["status"]: r["count"] for r in rows}

    def has_work(self) -> bool:
        """Q11 AutoShutdown predicate (Crawler.coffee:189 hasWork analog)."""
        return bool(self.read().filter(F.col("status") == SCHEDULED).limit(1).count())

    # -- mutations ---------------------------------------------------------

    def _dedup_candidates(self, candidates: DataFrame, wave: int, use_bloom: bool = True) -> DataFrame:
        """Q1 dedup pipeline (lazy): within-batch dedup → Bloom prefilter →
        exact anti-join for the maybe-seen remainder. Returns new frontier
        rows (status=scheduled). ``use_bloom=False`` (sub-threshold frontier)
        skips the Bloom probes — the exact anti-join alone is cheaper then."""
        rows = as_frontier_rows(candidates, self.num_partitions, wave=wave)
        # within-batch dedup: keep the best row per URL under the dequeue
        # order so discovery from multiple parents is deterministic — as a
        # min_by aggregation with a partial map-side combine. Over a struct
        # it plans as a partial + final SortAggregate (confirmed with
        # explain), i.e. it still sorts; making it hash-aggregable is
        # ROADMAP open item 2 (per-wave fixed cost). referer is the
        # final tiebreaker: two discoveries of the same URL at the same
        # (priority, depth, wave) differ only in referer, and without it the
        # surviving row would be nondeterministic. Struct comparison is
        # lexicographic with nulls first, matching asc_nulls_first.
        order_key = F.struct(
            (-F.col("priority")).alias("k1"),
            F.col("depth").alias("k2"),
            F.col("wave").alias("k3"),
            F.col("referer").alias("k4"),
        )
        rows = (
            rows.groupBy("p", "url_hash", "url")
            .agg(F.min_by(F.struct(*FRONTIER_COLS), order_key).alias("_r"))
            .select("_r.*")
        )

        if not use_bloom:
            frontier_keys = self.read().select("p", "url_hash", "url")
            return rows.join(frontier_keys, on=["p", "url_hash", "url"], how="left_anti")

        blobs = self._ensure_blobs_current()
        if blobs is not None:
            # broadcast probe from the driver-held filters keeps the
            # candidate batch un-shuffled (and skips a per-wave blob read)
            tagged = seen.probe_broadcast(rows, blobs)
        else:
            # blob set beyond the driver cap: cogroup probe, blob shipped
            # once per partition
            tagged = seen.probe_cogroup(rows, self.catalog.read(URL_SEEN_TABLE), self._spec)
        # persisted: materialized once by the prune-guard count, reused
        # for the final union (commit_wave unpersists after the commit)
        tagged = tagged.persist()
        self._pending_cache = tagged
        definitely_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        if not self.exact_dedup:
            # trust-the-filter mode (see __init__): probe-positive == seen.
            # No prune, no anti-join, no O(frontier) term — the wave's
            # dedup cost is the batch agg + probe, regardless of whether
            # the frontier holds 10^6 or 10^10 rows. URL loss bounded by
            # the filter's actual fpp (auto-grow-managed).
            return definitely_new
        maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        # reverse prefilter: prune the frontier side of the anti-join down
        # to rows that could match THIS batch — the exact anti-join then
        # compares ~batch-sized sides instead of frontier-sized ones. The
        # prune is an EXACT broadcast LEFT SEMI join on the batch's
        # (p, url_hash) keys, fully JVM/whole-stage-codegen: the batch is
        # budget-bounded (politeness caps fetches, max_outlinks caps
        # discovery), so its key set broadcasts at ~16 B/key — 8 MB per
        # 10^6 keys — while the frontier side streams through a hash-probe
        # with no shuffle and NO Python. (An earlier variant probed a
        # candidate-side Bloom via an Arrow-batched pandas UDF — that
        # shipped every frontier url_hash through Python per wave and
        # dominated the 10^7/5x10^7-row legs' wave wall; a Bloom's false
        # positives also fed the anti-join extra rows where the semi join
        # feeds exactly the matches. Production variant at 10^10: Iceberg
        # bucket partitioning + storage-partitioned joins remove the
        # remaining pruned-side shuffle entirely.)
        #
        # SIZE GUARD: schedule() is public API (RemoteControl injections,
        # sitemap seeding), so the batch is counted before the hint —
        # the count materializes the persisted `tagged` cache every later
        # job in this wave reuses, so it advances shared work rather than
        # adding a pass. A batch past `broadcast_prune_max_rows` falls
        # back to the unpruned anti-join (both ~frontier-sized sides, the
        # pre-r2 behavior) instead of force-broadcasting gigabytes into
        # the driver and every executor.
        frontier_keys = self.read().select("p", "url_hash", "url")
        if maybe.count() <= self.broadcast_prune_max_rows:
            frontier_keys = frontier_keys.join(
                F.broadcast(maybe.select("p", "url_hash")),
                on=["p", "url_hash"],
                how="left_semi",
            )
        survivors = maybe.join(
            frontier_keys,
            on=["p", "url_hash", "url"],
            how="left_anti",
        )
        return definitely_new.unionByName(survivors)

    def commit_wave(
        self,
        updates: DataFrame | None,
        candidates: DataFrame | None,
        wave: int,
        properties: dict | None = None,
        updates_parts: Iterable[int] | None = None,
        throttle_max_tries: int = 3,
        max_tries: int = 1,
    ) -> int:
        """ONE snapshot commit applying the whole wave outcome: status MERGE
        for fetched rows (Q2-Q4) + insert of deduped discovered URLs (Q1).

        Retries settle inside the merge (Q4): an ``ERROR`` or
        ``THROTTLED_RETRY`` (server answered 429/503) update bumps ``tries``
        and resolves to 'scheduled' while the bumped tries stay under the
        row's budget, 'error' after. The budget is ``max_tries`` for an
        error (1 = errors are terminal) and max(``throttle_max_tries``,
        ``max_tries``) for a throttle.

        Combining both into a single read-merge-write halves the per-wave
        commit cost (each separate mutation is a full read+join+write of the
        touched partitions); at 10^10 scale the commit is the dominant
        fixed cost of a wave, so this matters beyond job-count hygiene.

        ``updates``: (p, url_hash, url, new_status) rows; ``candidates``:
        (url[, host, priority, depth, referer]) rows. ``updates_parts``: the
        partition ids covered by ``updates`` when the caller already knows
        them (the crawler does — every update targets a partition of the
        dequeued batch) — passing it skips a distinct+collect job per wave.
        Returns n_new URLs.
        """
        prev_n, prev_epoch = self._frontier_stats()
        use_bloom = self._use_bloom(prev_n)
        new_rows = None
        if candidates is not None:
            new_rows = self._dedup_candidates(candidates, wave, use_bloom=use_bloom)
            if use_bloom:
                # reused below for the blob merge — cache across the two jobs
                new_rows = new_rows.persist()
        # updates may carry fresh HTTP validators (new_etag/new_last_modified,
        # from the wave's response headers); they merge sticky — a null new
        # value keeps the stored one, so a 304 revalidation or an error row
        # never erases a validator a conditional re-fetch still needs.
        has_validators = updates is not None and "new_etag" in updates.columns
        if updates is not None:
            vcols = ["new_etag", "new_last_modified"] if has_validators else []
            updates = updates.select("p", "url_hash", "url", "new_status", *vcols)

        # replace-set: partitions whose EXISTING rows change (status merge)
        if updates is None:
            replace_parts: set[int] = set()
        elif updates_parts is not None:
            replace_parts = {int(p) for p in updates_parts}
        else:
            updates = updates.persist()
            replace_parts = {r["p"] for r in updates.select("p").distinct().collect()}

        pieces = []
        if replace_parts:
            current = self.read().filter(F.col("p").isin(sorted(replace_parts)))
            # the status MERGE as ONE projection over FRONTIER_COLS (a chain
            # of withColumn calls re-analyses the deep wave plan each time)
            new_status = F.col("new_status")
            retry = new_status.isin(ERROR, THROTTLED_RETRY)
            tries = F.when(retry, F.col("tries") + 1).otherwise(F.col("tries"))
            budget = F.when(
                new_status == THROTTLED_RETRY,
                F.lit(max(throttle_max_tries, max_tries)),
            ).otherwise(F.lit(max_tries))
            merged_cols = {
                "tries": tries,
                "status": F.when(retry & (tries < budget), F.lit(SCHEDULED))
                .when(retry, F.lit(ERROR))
                .otherwise(F.coalesce(new_status, F.col("status"))),
            }
            if has_validators:
                merged_cols["etag"] = F.coalesce(F.col("new_etag"), F.col("etag"))
                merged_cols["last_modified"] = F.coalesce(
                    F.col("new_last_modified"), F.col("last_modified")
                )
            merged = current.join(updates, on=["p", "url_hash", "url"], how="left")
            pieces.append(
                merged.select(*(merged_cols.get(c, F.col(c)).alias(c) for c in FRONTIER_COLS))
            )
        obs = None
        if new_rows is not None:
            # n_new rides on the write job via an Observation — no pre-count
            obs = Observation()
            pieces.append(
                new_rows.observe(obs, F.count(F.lit(1)).alias("n_new")).select(*FRONTIER_COLS)
            )
        if not pieces:
            self._drop_pending_cache()
            return 0
        # both pieces are projected onto FRONTIER_COLS: a positional union
        out = pieces[0] if len(pieces) == 1 else pieces[0].union(pieces[1])

        observed = {}

        def n_new_of() -> int:
            if obs is None:
                return 0
            if "n_new" not in observed:
                try:
                    observed["n_new"] = int(obs.get["n_new"])
                except Exception:
                    # AQE's empty-relation propagation can elide the
                    # CollectMetrics node when the dedup output is provably
                    # empty (plain anti-join path, all candidates seen) —
                    # the metrics row never materializes and obs.get throws.
                    # Recount the plan: one cheap job, only on this rare path.
                    observed["n_new"] = new_rows.count()
            return observed["n_new"]

        def stats_props() -> dict:
            n = n_new_of()
            extra = {"url_epoch": prev_epoch + (1 if n else 0)}
            if prev_n is not None:
                extra["n_rows"] = prev_n + n
            return extra

        # ONE write job: replace the batch partitions (their rows were merged
        # with status changes), fast-APPEND everywhere discovery landed —
        # commit cost is O(batch + new data), independent of how many
        # partitions discovery scattered into
        _, written = self.catalog.merge_write(
            FRONTIER_TABLE, out, replace_parts,
            properties=dict(properties or {}), extra_properties=stats_props,
        )
        n_new = n_new_of()
        if new_rows is not None:
            if use_bloom and n_new:
                self._fold_new_keys(new_rows, written, prev_epoch)
            elif use_bloom and not self.exact_dedup:
                # trust-mode liveness: a SATURATED filter makes every
                # candidate probe-positive, so n_new stays 0 and the
                # epoch-gated check in _fold_new_keys never runs — without
                # this, saturation could only be caught at crawl end while
                # every discovered URL was being dropped in between. A
                # zero-new wave IS the saturation symptom, so check here.
                self.flush_bloom()
            new_rows.unpersist()
        if updates is not None:
            updates.unpersist()
        self._drop_pending_cache()
        return n_new

    def _fold_new_keys(self, new_rows: DataFrame, parts: Iterable[int], prev_epoch: int) -> None:
        """Insert a wave's new (p, url_hash) keys into the seen filter,
        moving it from ``prev_epoch`` to the next epoch. Driver-held: an
        in-process insert (no Spark job, no table write — flush_bloom
        commits every bloom_commit_every epochs; new_rows is cached from the
        frontier write, so the key pull is a read of cached blocks).
        Table-resident: a distributed merge committed at once, its
        unplaced-key count riding the write as an Observation. Stale state
        is left stale: the next above-threshold wave rebuilds once."""
        if self._blobs_epoch != prev_epoch:
            return
        keys = new_rows.select("p", "url_hash")
        if self._blobs is not None:
            pdf = keys.toPandas()
            part_ids = pdf["p"].to_numpy(np.int64)
            unplaced = seen.insert_inplace(
                self._blobs, part_ids, pdf["url_hash"].to_numpy(np.int64), self._spec
            )
            self._dirty_parts.update(int(p) for p in np.unique(part_ids))
        else:
            touched = sorted(parts)
            obs = Observation()
            merged = seen.merge_blobs(
                self.catalog.read(URL_SEEN_TABLE).filter(F.col("p").isin(touched)),
                keys,
                self._spec,
            )
            self.catalog.overwrite_partitions(
                URL_SEEN_TABLE,
                merged.observe(obs, F.sum("unplaced").alias("unplaced")).drop("unplaced"),
                touched,
                properties={"synced_epoch": prev_epoch + 1},
            )
            unplaced = int(obs.get["unplaced"] or 0)
        self._blobs_epoch = prev_epoch + 1
        if unplaced:
            # a filter short of a key has false negatives (duplicate rows
            # past the prefilter): never leave it in use
            self._grow_and_rebuild(self.seen_fill_stats())
        elif self._blobs_epoch - self._checked_epoch >= self.bloom_commit_every:
            self.flush_bloom()

    def _drop_pending_cache(self) -> None:
        if self._pending_cache is not None:
            self._pending_cache.unpersist()
            self._pending_cache = None

    def reprioritize(
        self,
        edges: DataFrame | None = None,
        num_iters: int = 3,
        damping_pct: int = 85,
        scorer: str = "pagerank",
    ) -> int:
        """Maintenance: recompute the dequeue priority of every SCHEDULED row
        from link importance — integer fixed-point PageRank (ops.graph.
        pagerank) over a (src, dst) link table keyed by url_hash. The
        reference exposes per-item priority but leaves scoring to user
        extensions (RequestItem.coffee:178-186); importance-ordered
        frontiers (OPIC/PageRank) are the standard at web scale, and the
        fixed-point arithmetic keeps the resulting crawl order
        bit-reproducible across runs, resumes and cluster sizes (the
        SURVEY §2.8 contract — float ranks would break it).

        ``edges``: (src long, dst long) url_hash pairs. Pass the FULL link
        graph from the documents table (Crawler.reprioritize does) — the
        frontier's own referer column is only the first-discovery TREE
        (within-batch dedup keeps one parent per URL), which flattens
        in-degree to ≤1 and carries no importance signal. When omitted,
        that tree is used as a last resort (documents table absent).

        Node identity is the 64-bit url_hash (xxhash64 of the URL — the
        same hash the frontier keys on, so parent and child ids agree). A
        64-bit collision could merge two URLs' rank mass; that can only
        perturb PRIORITY, never URL-seen membership, which always keys on
        (p, url_hash, url).

        Cost: O(frontier) read + full-table rewrite, like compact() — run
        it every k waves (CrawlConfig.reprioritize_every), not per wave.
        Rows without in-links (seeds, sitemap entries) keep their current
        priority; visited/error/blocked rows are untouched. Membership,
        n_rows and url_epoch are unchanged and carried forward, so the
        Bloom blobs stay in sync. Returns the new snapshot id.

        ``scorer``: ``"pagerank"`` (default; global importance) or
        ``"hits"`` (authority score from ops.graph.hits — favors pages many
        hubs point at; ``damping_pct`` unused). Both are integer
        fixed-point, so the ordering contract holds either way."""
        from .ops.graph import hits, pagerank

        fr = self.read()
        if edges is None:
            edges = fr.filter(F.col("referer").isNotNull()).select(
                F.xxhash64(F.col("referer")).alias("src"),
                F.col("url_hash").alias("dst"),
            )
        if scorer == "hits":
            ranks = hits(edges, num_iters=num_iters).select(
                "node", F.col("auth_fp").alias("rank_fp")
            )
        elif scorer == "pagerank":
            ranks = pagerank(edges, num_iters=num_iters, damping_pct=damping_pct)
        else:
            raise ValueError(f"unknown scorer {scorer!r} (pagerank|hits)")
        # rank_fp <= 10^12 < 2^53: the double cast below is exact, so the
        # deterministic-ordering promise survives the priority column's type
        self._rewrite(
            (F.col("status") == SCHEDULED) & F.col("rank_fp").isNotNull(),
            {"priority": F.col("rank_fp").cast("double")},
            parts=range(self.num_partitions),
            joined=ranks.withColumnRenamed("node", "url_hash"),
            on="url_hash",
        )
        return self.catalog.current_snapshot(FRONTIER_TABLE)

    def reprioritize_hosts(
        self, host_scores: DataFrame, broadcast_scores: bool = True
    ) -> int:
        """Focused-crawl maintenance (Chakrabarti et al. 1999's quality
        feedback, host-grained): set the dequeue priority of every SCHEDULED
        row from a per-HOST score table ``(host, score_fp long)`` — hosts
        whose fetched pages proved worth keeping get their queued URLs
        served first, junk hosts sink (score 0). Scores are integer
        fixed-point like :meth:`reprioritize` (and cast to double exactly,
        score_fp < 2^53), so the resulting crawl order stays
        bit-reproducible across runs, resumes and cluster sizes. Hosts
        absent from the table keep their current priority; visited/error
        rows are untouched; membership, n_rows and url_epoch carry forward.

        ``broadcast_scores``: the score table is usually domain-count-sized
        (≪ frontier) — broadcast by default; pass False at 10^8-host scale
        to let the planner shuffle-join on the host key instead.

        Same O(frontier) rewrite cost as reprioritize — run it every k
        waves, not per wave. Returns the new snapshot id."""
        scores = host_scores.select(
            F.col("host"), F.col("score_fp").cast("long").alias("_score_fp")
        )
        if broadcast_scores:
            scores = F.broadcast(scores)
        self._rewrite(
            (F.col("status") == SCHEDULED) & F.col("_score_fp").isNotNull(),
            {"priority": F.col("_score_fp").cast("double")},
            parts=range(self.num_partitions),
            joined=scores,
            on="host",
        )
        return self.catalog.current_snapshot(FRONTIER_TABLE)

    def schedule(self, candidates: DataFrame, wave: int, properties: dict | None = None) -> int:
        """Q1: insert candidate URLs not already seen (thin wrapper over
        commit_wave). Returns the number of newly scheduled URLs."""
        return self.commit_wave(None, candidates, wave, properties)

    def update_status(self, updates: DataFrame, properties: dict | None = None) -> int:
        """Q2/Q3/Q4: set status (and bump tries for errors) for the given
        (p, url_hash, url, new_status) rows. MERGE-style: only touched
        partitions are rewritten."""
        self.commit_wave(updates, None, wave=0, properties=properties)
        return self.catalog.current_snapshot(FRONTIER_TABLE)

    def evict(self, match: Column) -> int:
        """Re-crawl policy: REMOVE matching rows from the frontier so those
        URLs become *unseen* — re-discoverable and re-fetchable as if never
        crawled. This is the operation the north rule's "cuckoo fallback for
        deletions" exists for (the reference never un-sees a URL:
        UrlStore.reschedule only flips status, QueueSystem.coffee:189-191 —
        evict is the beyond-reference aging/re-crawl primitive).

        Copy-on-write and partition-pruned: only partitions containing
        matches are rewritten; ``url_epoch`` bumps so every derived
        structure notices. Probe-filter maintenance follows the filter's
        capability:

          * a deletable kernel (``seen_filter='cuckoo'``) with driver-held
            filters: evicted url_hash fingerprints are deleted IN PLACE —
            O(evicted), no rebuild; blobs flush on the normal deferred
            schedule.
          * otherwise (Bloom bitsets cannot delete, or table-resident
            blobs): the state goes stale and the next above-threshold use
            pays the one O(frontier) rebuild (_ensure_blobs_current) —
            correct either way, since the filter is only ever a prefilter
            and the anti-join is membership truth.

        Returns the number of rows evicted."""
        _, epoch = self._frontier_stats()
        delete_held = (
            self._spec.deletable and self._blobs is not None and self._blobs_epoch == epoch
        )
        if delete_held:
            # the evicted keys, pulled before the rewrite drops their rows
            pdf = self.read().filter(match).select("p", "url_hash").toPandas()
        n_evicted = self._rewrite(match)
        if not n_evicted:
            return 0
        if delete_held:
            part_ids = pdf["p"].to_numpy(np.int64)
            for part, keys in seen.by_partition(part_ids, pdf["url_hash"].to_numpy(np.int64)):
                self._blobs[part].delete(keys)
            self._blobs_epoch = epoch + 1
            self._dirty_parts.update(int(p) for p in np.unique(part_ids))
            if self._blobs_epoch - self._checked_epoch >= self.bloom_commit_every:
                self.flush_bloom()
        else:
            self._forget_blobs()
        return n_evicted

    def recrawl(self, match: Column, wave: int) -> int:
        """Re-crawl WITHOUT forgetting: matching VISITED rows flip back to
        scheduled with their ``wave`` reset to ``wave`` (restarting the age
        clock), keeping the URL seen — dedup semantics untouched, no probe-
        filter maintenance at all (the reference's reschedule is exactly
        this status flip, QueueSystem.coffee:189-191). Use evict() instead
        when the URL must be re-DISCOVERABLE (content gone, host reset).

        Partition-pruned copy-on-write like every frontier mutation; cost
        is one rewrite of the partitions containing aged rows, so run it at
        the policy cadence (CrawlConfig.recrawl_after_waves), not per wave.
        Returns the number of rows rescheduled."""
        return self._rewrite(
            match & (F.col("status") == VISITED),
            {"wave": F.lit(wave), "status": F.lit(SCHEDULED)},
        )

    def recrawl_urls(self, urls: DataFrame, wave: int) -> int:
        """Set-driven variant of ``recrawl``: flip the VISITED rows whose
        ``url`` appears in ``urls`` (any DataFrame with a url column — e.g.
        the overdue set from ``recrawl_schedule``) back to scheduled with
        the age clock reset, URL-seen membership untouched.

        Same partition-pruned copy-on-write as recrawl; the extra cost is
        one join keyed on url against the pruned partitions (the flip set
        itself bounds the shuffle). Run at policy cadence. Returns the
        number of rows rescheduled."""
        return self._rewrite(
            (F.col("status") == VISITED) & F.col("_mark").isNotNull(),
            {"wave": F.lit(wave), "status": F.lit(SCHEDULED)},
            joined=urls.select("url").distinct().withColumn("_mark", F.lit(True)),
            on="url",
        )

    def changes_since(self, from_snapshot: int) -> DataFrame:
        """Frontier rows added or changed since ``from_snapshot`` — the CDC
        read for downstream consumers (incremental training-data export,
        monitoring): new URLs appear as fresh ``scheduled`` rows, completed
        fetches as their flipped ``visited``/``error`` rows. Resolved from
        the catalog's file manifest (catalog.read_incremental), so untouched
        partitions cost zero IO — at 10^10-frontier scale a consumer reads
        O(wave delta) per poll, never O(frontier). Snapshot ids come from
        ``catalog.current_snapshot(FRONTIER_TABLE)`` before/after a crawl;
        history must be retained (see expire_snapshots)."""
        return self.catalog.read_incremental(FRONTIER_TABLE, from_snapshot)

    def reschedule_errors(self, max_tries: int, wave: int) -> int:
        """Q4 explicit retry sweep: every error row with tries < max_tries
        goes back to scheduled (UrlStore.reschedule; ResultVerification F10
        reschedules failed URLs the same way). A crawl's own errors never
        need it — commit_wave settles them against ``max_tries`` in the
        wave's merge — so the crawler runs it once per Crawler, for error
        rows a resumed frontier carries from a run with a lower budget.
        One counting job over the frontier; no commit when nothing
        matches. Returns the current snapshot id."""
        self._rewrite(
            (F.col("status") == ERROR) & (F.col("tries") < max_tries),
            {"status": F.lit(SCHEDULED)},
        )
        return self.catalog.current_snapshot(FRONTIER_TABLE)

    def _rewrite(
        self,
        match: Column,
        set_cols: dict[str, Column] | None = None,
        parts: Iterable[int] | None = None,
        joined: DataFrame | None = None,
        on: str | None = None,
    ) -> int | None:
        """The frontier's one copy-on-write row rewrite (every row change
        outside commit_wave's merge): rows where ``match`` holds take the
        ``set_cols`` values — or are DROPPED when ``set_cols`` is None — and
        only the partitions in ``parts`` are rewritten. Without ``parts``,
        one job counts the matches per partition, the rewrite covers
        exactly the partitions holding them, and no match means no commit.
        ``joined``: a caller frame left-joined on ``on`` before ``match``
        and ``set_cols`` are evaluated (URL marks, ranks, host scores).

        A drop changes membership: url_epoch bumps and n_rows shrinks, so
        derived seen-filter state notices (a drop always counts). A value
        rewrite leaves membership alone and carries the stats forward.
        Returns the number of matching rows; None when ``parts`` was given."""
        hit = F.coalesce(match, F.lit(False))

        def scope(df: DataFrame) -> DataFrame:
            return df if joined is None else df.join(joined, on, "left")

        n = None
        props = None
        if parts is None:
            per_part = scope(self.read()).filter(hit).groupBy("p").count().collect()
            n = sum(r["count"] for r in per_part)
            if not n:
                return 0
            parts = [r["p"] for r in per_part]
        parts = sorted(int(p) for p in parts)
        rows = scope(self.read().filter(F.col("p").isin(parts)))
        if set_cols is None:
            rows = rows.filter(~hit)
            prev_n, epoch = self._frontier_stats()
            props = {"url_epoch": epoch + 1}
            if prev_n is not None:
                props["n_rows"] = prev_n - n
        # one projection: every value is computed from the row BEFORE the
        # rewrite, so match may read a column it also sets (age policies
        # match on wave)
        new = set_cols or {}
        rows = rows.select(
            *(
                F.when(hit, new[c]).otherwise(F.col(c)).alias(c) if c in new else F.col(c)
                for c in FRONTIER_COLS
            )
        )
        self.catalog.overwrite_partitions(FRONTIER_TABLE, rows, parts, properties=props)
        return n


def recrawl_schedule(
    history: DataFrame,
    current_wave: int,
    min_interval: int = 1,
    max_interval: int = 16,
    url_col: str = "url",
    wave_col: str = "wave",
    hash_col: str = "content_hash",
    interval_floors: DataFrame | None = None,
) -> DataFrame:
    """Change-rate-driven re-crawl scheduling (the Cho & Garcia-Molina
    freshness policy, integerized): from the per-URL fetch HISTORY
    (url, wave, content_hash — one row per completed fetch), estimate how
    often each URL's content actually changes and derive the next wave it
    is due for a re-fetch. The reference crawls once and stops
    (kermit/README.md 'not: recurrent crawling jobs'); a production frontier
    must decide *when to come back*, and refetching everything every wave
    wastes the politeness budget on pages that never change.

    Estimator: ``interval = clamp(n_fetches // (n_changes+1), min, max)`` —
    the observed mean revisits-per-change with +1 Laplace smoothing. A URL
    that changed on every revisit gets interval 1; one never seen to change
    backs off linearly with its revisit count until ``max_interval``; a
    single-fetch URL (nothing known) gets ``min_interval`` (check soon).
    All arithmetic is integer, so the schedule is bit-reproducible across
    engines/partitionings (DuckDB-oracle-checkable).

    Returns (url, n_fetches, n_changes, interval_waves, last_wave,
    next_due, overdue) with ``overdue = current_wave >= next_due`` — feed
    the overdue set to ``Frontier.schedule`` (status=scheduled, rank by
    staleness) to close the loop.

    ``interval_floors`` (optional): a (url, floor_waves) frame — typically
    ``cache_floor_waves`` over the latest responses' Cache-Control/Expires
    headers — left-joined in; each URL's interval becomes
    ``max(estimated, floor_waves)`` AFTER the ``max_interval`` clamp, so a
    server-declared freshness lifetime may exceed the policy cap (that is
    the point: the server said the re-fetch is pointless until then). The
    output schema is identical with or without floors.

    Scale shape: ONE shuffle (hash agg on url with map-side partial
    collect_list); each URL's history array is bounded by its own fetch
    count, never corpus size, and the change-count scan over it is
    higher-order array algebra in the same projection — no window sort, no
    second exchange. content hashes are fixed-width digests, so shuffle
    rows are constant-size (the optional floors join adds one equi-join on
    the same url key — broadcast-eligible when the floor set is small)."""
    if min_interval < 1 or max_interval < min_interval:
        raise ValueError(
            f"need 1 <= min_interval <= max_interval; got {min_interval}, {max_interval}"
        )
    g = history.groupBy(F.col(url_col).alias("url")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(wave_col).cast("long").alias("w"),
                    F.col(hash_col).alias("h"),
                )
            )
        ).alias("_a")
    )
    n = F.size("_a").cast("long")
    changes = (
        F.when(
            n >= 2,
            F.size(
                F.filter(
                    F.sequence(F.lit(1).cast("long"), n - 1),
                    lambda i: F.get("_a", i.cast("int"))["h"]
                    != F.get("_a", (i - 1).cast("int"))["h"],
                )
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    interval = F.greatest(
        F.lit(min_interval).cast("long"),
        F.least(F.lit(max_interval).cast("long"), F.floor(n / (changes + 1))),
    )
    if interval_floors is not None:
        g = g.join(
            interval_floors.select(
                F.col("url"), F.col("floor_waves").alias("_floor")
            ),
            "url",
            "left",
        )
        interval = F.greatest(
            interval, F.coalesce(F.col("_floor"), F.lit(0).cast("long"))
        )
    last_wave = F.element_at("_a", -1)["w"]
    return g.select(
        "url",
        n.alias("n_fetches"),
        changes.alias("n_changes"),
        interval.alias("interval_waves"),
        last_wave.alias("last_wave"),
        (last_wave + interval).alias("next_due"),
        (F.lit(current_wave) >= last_wave + interval).alias("overdue"),
    )


# Cache-Control / Expires parsing constants (RFC 9111 §4.2.1 freshness).
# THE canonical patterns: the __spark_entry__ oracle derives its SQL from
# these, so directive parsing cannot drift between engine and oracle.
# Boundary (^|[,\s]) keeps max-age from matching inside s-maxage.
CC_MAXAGE_RE = r'(^|[,\s])max-age\s*=\s*"?(\d+)'
CC_SMAXAGE_RE = r'(^|[,\s])s-maxage\s*=\s*"?(\d+)'
CC_NOSTORE_RE = r"(^|[,\s])(no-store|no-cache)([,\s]|$)"
# HTTP-date (IMF-fixdate): Spark 4 refuses day-of-week letters in PARSE
# patterns, so the weekday prefix and trailing " GMT" are stripped first
# and the remainder parsed with this pattern (month names are English in
# both engines: Spark pins Locale.US, DuckDB %b is English-only).
HTTP_DATE_STRIP_RE = "^[A-Za-z]{3}, "
HTTP_DATE_FMT = "dd MMM yyyy HH:mm:ss"


def _http_date_unix(col: Column) -> Column:
    cleaned = F.regexp_replace(
        F.regexp_replace(col, HTTP_DATE_STRIP_RE, ""), " GMT$", ""
    )
    return F.unix_timestamp(F.try_to_timestamp(cleaned, F.lit(HTTP_DATE_FMT)))


def cache_freshness_s(headers: Column) -> Column:
    """Server-declared freshness lifetime in seconds from a response
    header map (RFC 9111 §4.2.1) — how long the server says the fetched
    copy stays fresh, i.e. the earliest sensible re-fetch:

      * ``no-store`` / ``no-cache`` → 0 (revalidate whenever the crawler
        likes — conditional GETs are already free here);
      * else ``s-maxage`` (the shared-cache bound — a crawl corpus is a
        shared cache) or ``max-age``, whichever is declared first in that
        precedence order;
      * else ``Expires - Date`` when both headers parse as HTTP-dates
        (clamped at 0 — an already-expired response is stale now);
      * null when the server declared nothing.

    Header keys must be lowercase (the fetchers normalize them). Pure
    JVM — regexp + date arithmetic in one codegen projection; the
    Expires/Date difference is timezone-free by construction."""
    cc = F.lower(F.coalesce(F.element_at(headers, "cache-control"), F.lit("")))
    s_maxage = F.regexp_extract(cc, CC_SMAXAGE_RE, 2).try_cast("long")
    max_age = F.regexp_extract(cc, CC_MAXAGE_RE, 2).try_cast("long")
    # greatest() skips nulls (would turn "no Expires pair" into 0), so the
    # stale-clamp applies only when both dates actually parsed
    raw_delta = _http_date_unix(F.element_at(headers, "expires")) - _http_date_unix(
        F.element_at(headers, "date")
    )
    delta = F.when(raw_delta.isNotNull(), F.greatest(raw_delta, F.lit(0).cast("long")))
    return F.when(cc.rlike(CC_NOSTORE_RE), F.lit(0).cast("long")).otherwise(
        F.coalesce(s_maxage, max_age, delta)
    )


def cache_floor_waves(
    fetches: DataFrame,
    seconds_per_wave: int,
    url_col: str = "url",
    wave_col: str = "wave",
    headers_col: str = "headers",
) -> DataFrame:
    """Per-URL minimum revisit interval (in waves) from the LATEST fetch's
    caching headers: ``ceil(freshness / seconds_per_wave)``. Feed the
    result to ``recrawl_schedule(interval_floors=...)`` so the change-rate
    estimator never schedules a re-fetch the server already declared
    pointless — the crawler-side reading of RFC 9111 freshness.

    Returns (url, freshness_s, floor_waves); both null when the latest
    response declared nothing (no constraint). Scale shape: directive
    parsing is map-side codegen; ONE hash agg on url whose max(struct)
    carries only (wave, freshness) longs — headers never shuffle."""
    if seconds_per_wave < 1:
        raise ValueError(f"need seconds_per_wave >= 1, got {seconds_per_wave}")
    per_row = fetches.select(
        F.col(url_col).alias("url"),
        F.col(wave_col).cast("long").alias("_w"),
        cache_freshness_s(F.col(headers_col)).alias("_f"),
    )
    # latest wave wins; freshness breaks (impossible-here) wave ties
    latest = per_row.groupBy("url").agg(
        F.max(F.struct(F.col("_w"), F.col("_f"))).alias("_m")
    )
    fresh = F.col("_m._f")
    return latest.select(
        "url",
        fresh.alias("freshness_s"),
        # exact for any real freshness (double-floor == integer div below
        # 2^53 seconds; the universe expires first)
        F.floor((fresh + F.lit(seconds_per_wave - 1)) / F.lit(seconds_per_wave))
        .cast("long")
        .alias("floor_waves"),
    )


def adaptive_host_delays(
    fetches: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts",
    id_col: str = "url",
    status_col: str = "status",
    latency_col: str = "latency_ms",
    slow_ms: int = 2000,
    init_delay_ms: int = 1000,
    increase_ms: int = 500,
    decrease_pct: int = 80,
    min_delay_ms: int = 100,
    max_delay_ms: int = 60000,
    init_delays: DataFrame | None = None,
) -> DataFrame:
    """AIMD adaptive politeness: derive each host's next-wave crawl delay
    from its OBSERVED fetch history, the way production crawlers (Heritrix
    retry/backoff politics, Nutch's adaptive fetch delay) tune politeness
    instead of fixing it — the reference exposes only static rate limits
    (core.queues.coffee:28-34); this is the feedback loop above them.

    Congestion-control semantics, integer-only so the result is
    bit-identical across engines and partitionings: walk the host's
    fetches in (ts, id) order; a PENALTY fetch (HTTP >= 400 or latency >=
    ``slow_ms``) bumps the delay additively (+``increase_ms``, capped at
    ``max_delay_ms``); a healthy fetch decays it multiplicatively
    (× ``decrease_pct``/100 with integer div, floored at
    ``min_delay_ms``). Additive-increase/multiplicative-decrease in delay
    space (the inverse of TCP's rate space) converges onto the fastest
    sustainable per-host pace and backs off sharply while a host degrades.

    Scale shape: ONE hash-shuffle on host (the same key the frontier
    partitions by), per-host sorted fold entirely inside JVM codegen
    (sort_array + aggregate over a BIGINT accumulator — no Python, no
    window). Per-host event lists are wave-budget-bounded, so collect_list
    stays politeness-budget-sized, never corpus-sized.

    Feed the result into per-host ``Limit`` budgets as
    budget = wave_seconds * 1000 div delay_ms.

    Output: (host, n_fetches, n_penalties, delay_ms).
    """
    if min_delay_ms < 1:
        raise ValueError("min_delay_ms must be >= 1")
    penalty = (F.col(status_col) >= 400) | (F.col(latency_col) >= slow_ms)
    evs = fetches.select(
        F.col(host_col).alias("host"),
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(id_col).alias("eid"),
            penalty.alias("bad"),
        ).alias("e"),
    )
    g = evs.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(F.col("e.bad").cast("long")).alias("n_penalties"),
        F.sort_array(F.collect_list("e")).alias("evs"),
    )
    # per-host continuation: a wave-over-wave caller passes the previous
    # delays as (host, delay_ms) and each host's fold starts from its own
    # stored state; hosts without a row start from init_delay_ms
    zero = f"CAST({init_delay_ms} AS BIGINT)"
    if init_delays is not None:
        g = g.join(
            F.broadcast(
                init_delays.select(
                    "host", F.col("delay_ms").cast("long").alias("_init")
                )
            ),
            "host",
            "left",
        )
        zero = f"coalesce(_init, {zero})"
    fold = F.expr(
        f"aggregate(evs, {zero}, (acc, e) -> "
        f"CASE WHEN e.bad THEN least(acc + {increase_ms}, CAST({max_delay_ms} AS BIGINT)) "
        f"ELSE greatest((acc * {decrease_pct}) div 100, CAST({min_delay_ms} AS BIGINT)) END)"
    )
    return g.select("host", "n_fetches", "n_penalties", fold.alias("delay_ms"))


def plan_host_partitions(
    host_counts: DataFrame,
    num_partitions: int,
    salt_threshold: int,
    host_col: str = "host",
    count_col: str = "n_urls",
) -> DataFrame:
    """Data-driven partition planning for hot-host skew — the explicit
    complement to the hash-based ``partition_of`` default: given the
    frontier's per-host URL counts, split every host whose load exceeds
    ``salt_threshold`` into ceil(n/threshold) SALT SLOTS (so no single
    task ever owns more than ~threshold of a mega-host's URLs), then
    assign all slots to partitions round-robin in weight-descending order
    (the LPT greedy's cheap cousin: heaviest slots spread first, so
    partition loads stay within one slot-weight of each other).

    At 10^10-frontier scale this is the difference between one straggler
    task fetching all of wikipedia.org and 32 tasks sharing it under the
    same per-host politeness budget. Fully deterministic: slot weights are
    integer splits (n div k, first n mod k slots one heavier), global slot
    order is (weight DESC, host ASC, salt ASC) — so the plan is
    bit-identical across engines and partitionings and can be recomputed
    (not stored) on resume.

    Route rows with: salt = pmod(xxhash64(url), n_slots[host]); partition
    from this plan broadcast-joined on (host, salt).

    Scale note: the final round-robin rank is a GLOBAL row_number — a
    single-task sort, deliberately: its input is the slot table
    (hosts + hot-host splits, ~10^7-10^8 rows at 10^10-URL frontier
    scale — single-digit GBs), not the frontier, and the plan runs once
    per crawl (or per reorganization), not per wave.

    Output: (host, salt, n_slots, slot_weight, partition).
    """
    if num_partitions < 1 or salt_threshold < 1:
        raise ValueError("num_partitions and salt_threshold must be >= 1")
    base = host_counts.select(
        F.col(host_col).alias("host"), F.col(count_col).cast("long").alias("n")
    )
    slots = base.select(
        "host",
        "n",
        F.expr(
            f"greatest(1, CAST(ceil(n / CAST({salt_threshold} AS DOUBLE)) AS INT))"
        ).alias("n_slots"),
    ).select(
        "host",
        "n_slots",
        F.posexplode(F.expr("sequence(1, n_slots)")).alias("salt", "_one"),
        F.expr("n div n_slots + CASE WHEN pmod(n, n_slots) > CAST(salt AS BIGINT) "
               "THEN 1 ELSE 0 END").alias("slot_weight"),
    ).drop("_one")
    from pyspark.sql.window import Window

    order = Window.orderBy(F.col("slot_weight").desc(), F.col("host").asc(), F.col("salt").asc())
    return slots.select(
        "host",
        F.col("salt").cast("int").alias("salt"),
        "n_slots",
        "slot_weight",
        ((F.row_number().over(order) - 1) % num_partitions).cast("int").alias("partition"),
    )


def budgets_from_delays(
    delays: DataFrame,
    wave_seconds: int,
    max_budget: int | None = None,
) -> DataFrame:
    """Convert :func:`adaptive_host_delays` output into the per-host budget
    table ``dequeue(host_budgets=...)`` consumes: a host that wants
    ``delay_ms`` between fetches gets floor(wave_ms / delay_ms) fetches
    per wave, floored at 1 (a degraded host still makes progress — the
    same never-starve rule the Crawl-delay cap uses), optionally capped."""
    if wave_seconds < 1:
        raise ValueError("wave_seconds must be >= 1")
    budget = F.greatest(F.lit(1), F.expr(f"CAST({wave_seconds * 1000} AS BIGINT) div delay_ms"))
    if max_budget is not None:
        budget = F.least(budget, F.lit(max_budget).cast("long"))
    return delays.select("host", budget.cast("int").alias("budget"))

"""The crawl driver — multi-wave fixpoint loop over the frontier.

Spark lifecycle replacement for the reference's event-loop machine
(SURVEY §3.3): each wave is one batch job

  read frontier snapshot → politeness dequeue (window top-k) → robots gate
  (on the dequeued batch) → fetch (corpus join / HTTP mapInPandas) → parse
  spans (pandas UDF) → write documents → read the stored documents
  partition back → discover + clean links → ONE frontier commit
  (visited/error/robots_blocked MERGE, retries settled in it, + Bloom-deduped
  new URLs) → lineage append

Termination is the AutoShutdown predicate (Q11, /root/reference/src/kermit/
extensions/ext.autoshutdown.coffee:8-36 + Crawler.coffee:189 hasWork): loop
until a wave selects nothing. Resume (S3, QueueSystem.coffee:17-34): the wave
counter and all queue state live in catalog snapshots, so a killed run
restarts from the last committed wave; the documents table is partitioned by
wave, making a re-run of a half-committed wave an idempotent overwrite.

Scale notes:
  * robots gating runs on the SELECTED batch (≤ Σ budgets), not the whole
    frontier — at 10^10 frontier entries a frontier-wide gate would join
    every scheduled row every wave. Blocked rows get the terminal status
    ``robots_blocked`` so a host's disallowed URLs cost budget at most once.
  * all wave mutations land in ONE frontier snapshot commit (see
    Frontier.commit_wave) — commit cost is the per-wave fixed cost.
  * per-wave job budget (the latency floor at small wave sizes),
    measured on a steady wave of the crawl_waves benchmark (10 jobs):
    dequeue — the per-host count collect that materializes the batch, plus
    the Crawl-delay caps' broadcast build when any host declares a delay;
    documents write — 3 broadcast builds (robots rules, fetch batch,
    dead-link anti-join) and the write job that fetches and parses (status
    counts ride on it via Observation); frontier commit — 3 broadcast
    builds and ONE merge write (n_new rides on it; error and throttle
    retries settle inside that merge, so max_tries > 1 adds no job).
    Nothing after the documents write reads the lazy docs frame: discovery,
    the status updates and the post-wave upkeep scan the p=<wave>
    partition just committed (no job to plan it; the fetch never re-runs),
    so no plan after the write re-analyzes the fetch → parse lineage, and
    docs needs no batch cache.
    Catalog reads run no job (schema from table metadata), the
    Crawl-delay flag rides the robots write, lineage is buffered in
    memory and written without Spark. Robots probes/fetches run only
    when unseen hosts appear, verification counts only when configured;
    the seen-filter jobs join only above the Bloom threshold.
  * the only driver-side collect of unbounded data is the distinct-host
    list of the dequeued batch (bounded by the politeness budget).

Commit ordering per wave: documents → frontier → lineage. A crash between
any two leaves the frontier still claiming the wave's batch as 'scheduled',
so the re-run recomputes the identical wave (dequeue is deterministic,
SURVEY §2.8) and overwrites the same partitions. The phases after the
documents write read that write's committed partition, so a re-run reads
its own overwrite.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import phases
from .bloom import BloomSpec
from .catalog import SnapshotCatalog
from .filters import TrapRules, UrlFilter
from .frontier import (
    ERROR,
    ROBOTS_BLOCKED,
    SCHEDULED,
    THROTTLED_RETRY,
    VISITED,
    Frontier,
    Politeness,
    RandomizedDelay,
    dequeue,
    partition_of,
)
from .functions.urls import clean_links, host_of
from .parse import discover_links, parse_documents
from .robots import robots_gate, robots_rules_from_fetch, sitemap_candidates_from_fetch

DOCUMENTS_TABLE = "documents"
ROBOTS_TABLE = "robots"


@dataclass(frozen=True)
class ResultVerification:
    """F10 (ext.resultverifyer.coffee:11-35): content predicates over fetched
    bodies. A row matching any ``good`` pattern passes outright; otherwise a
    row matching any ``bad`` pattern is a verification failure: its URL goes
    back to 'scheduled' (UrlStore.reschedule, QueueSystem.coffee:189-191) and
    the crawl loop STOPS after the wave — bad content means something is
    systematically wrong (blocked, captcha'd, mangled) and an operator must
    intervene before budget is burned.

    Verification runs BEFORE link discovery: links extracted from bad
    content are not trusted into the frontier."""

    good: tuple[str, ...] = ()
    bad: tuple[str, ...] = ()

    def bad_expr(self) -> F.Column | None:
        if not self.bad:
            return None
        bad = None
        for pat in self.bad:
            e = F.col("body").rlike(pat)
            bad = e if bad is None else (bad | e)
        for pat in self.good:
            bad = bad & ~F.col("body").rlike(pat)
        return bad & F.col("body").isNotNull()


@dataclass(frozen=True)
class ErrorBackoff:
    """Adaptive politeness: a host whose error rate in a wave reaches
    ``threshold`` gets its per-wave budget cut to
    max(min_budget, selected // factor) for ``cooldown_waves`` waves;
    repeated bad waves keep dividing by ``factor``. A recovered host's cap
    expires and the configured budget resumes.

    The reference's RateLimits are static (core.queues.coffee:28-34);
    production crawlers back off failing hosts dynamically — a host
    returning 5xx storms is either unhealthy (hammering it is impolite) or
    rate-limiting us (hammering it wastes budget). Caps ride the same
    ``host_budgets`` join as robots Crawl-delay, so the dequeue plan is
    unchanged; state is a driver dict bounded by ``max_hosts`` (counts come
    from the budget-bounded fetched batch, never a frontier scan)."""

    threshold: float = 0.5
    factor: int = 2
    min_budget: int = 1
    cooldown_waves: int = 4
    max_hosts: int = 100_000


@dataclass(frozen=True)
class AdaptivePoliteness:
    """AIMD politeness from OBSERVED per-fetch behavior (the feedback layer
    frontier.adaptive_host_delays provides, wired into the wave loop): after
    each wave the fetched batch's per-host outcomes — HTTP status plus the
    fetcher-measured latency (HttpFetcher stamps x-kermit-latency-ms into
    the response-header map; CorpusFetcher rows have none and count 0 ms) —
    fold into a per-host crawl delay (additive increase on errors/slow
    fetches, multiplicative decay otherwise), carried wave-over-wave via
    the fold's per-host init. Next wave, each DEGRADED host (delay above
    init — healthy hosts never pay a cap row) is budget-capped to
    floor(politeness_window_s * 1000 / delay_ms), riding the same
    host_budgets join as Crawl-delay/ErrorBackoff/Retry-After.

    Complements rather than replaces those: ErrorBackoff divides budgets on
    error-RATE waves, ServerBackoff obeys explicit 429/503 signals; this
    reacts to latency degradation too — the host that is slowing down but
    not yet failing. State: bounded driver dict host -> delay_ms (most-
    degraded kept on overflow); one small aggregation over the wave's
    stored, budget-bounded documents partition per wave."""

    slow_ms: int = 2000
    init_delay_ms: int = 1000
    increase_ms: int = 500
    decrease_pct: int = 80
    min_delay_ms: int = 100
    max_delay_ms: int = 60000
    max_budget: int | None = None
    max_hosts: int = 100_000


@dataclass(frozen=True)
class ServerBackoff:
    """Explicit server throttling (RFC 9110 §10.2.3 / RFC 6585): a host
    answering 429 Too Many Requests or 503 Service Unavailable is asking us
    to stop — not failing. With this policy on:

      * the throttled URLs go back to 'scheduled' (via the frontier's
        THROTTLED_RETRY marker; tries bump each time, terminal 'error'
        after max(``max_tries``, ``CrawlConfig.max_tries``) attempts)
        instead of dying as errors;
      * the HOST is excluded from dequeue (budget_cap 0 on the shared
        host_budgets join — no plan change) for a number of waves derived
        from the response's Retry-After header: delta-seconds values map
        to ceil(seconds / seconds_per_wave) waves, clamped to
        [1, max_backoff_waves]; missing/HTTP-date values use
        ``default_waves`` (date parsing needs the crawl's wall clock —
        wave arithmetic keeps resume/replay deterministic).

    Distinct from ErrorBackoff (rate-based budget *division* on generic
    failures): this is obedience to an explicit server signal, with full
    stand-down. State is a bounded driver dict (host → resume wave); the
    per-wave cost is one aggregation over the wave's stored, budget-bounded
    documents partition, only on waves that actually saw a 429/503."""

    statuses: tuple[int, ...] = (429, 503)
    seconds_per_wave: float = 60.0
    default_waves: int = 1
    max_backoff_waves: int = 8
    max_tries: int = 3
    max_hosts: int = 100_000


@dataclass(frozen=True)
class CrawlConfig:
    num_partitions: int = 32
    politeness: Politeness = field(default_factory=Politeness)
    url_filter: UrlFilter = field(default_factory=UrlFilter)
    max_waves: int = 20
    global_cap: int | None = None
    sub_salts: int = 16
    max_tries: int = 1  # 1 = no retry (reference default: errors are terminal
    #                     unless ResultVerification reschedules, F10)
    obey_robots: bool = True
    user_agent: str = "kermit-spark"
    # robots Crawl-delay → per-wave budget cap: a host asking for d seconds
    # between requests gets at most floor(politeness_window_s / d) URLs per
    # wave (min 1). The window is the wave-period assumption that converts
    # delay seconds into batch budget; 0 disables Crawl-delay handling.
    politeness_window_s: float = 60.0
    bloom: BloomSpec = field(default_factory=BloomSpec)
    # URL-seen probe structure: 'bloom' (default; smallest, no deletions —
    # matches reference semantics) or 'cuckoo' (deletable fingerprints:
    # Frontier.evict removes keys in place instead of forcing a blob
    # rebuild — pick this when running re-crawl/aging policies)
    seen_filter: str = "bloom"
    # True (default) = the URL-seen probe is a PREFILTER and the exact
    # anti-join is membership truth (reference parity: never lose a URL).
    # False = trust-the-filter dedup (Heritrix BloomUriUniqFilter
    # semantics): probe-positive == seen, no anti-join — per-wave dedup
    # cost becomes frontier-size-INDEPENDENT, at the price of dropping
    # genuinely-new URLs at the filter's false-positive rate (auto-grow
    # holds it at ~1e-5; ~10 lost per million discoveries). The knob a
    # 10^10-frontier deployment flips.
    exact_dedup: bool = True
    verification: ResultVerification | None = None
    # Q10: defer a deterministic pseudo-random fraction of due URLs per wave
    delay: RandomizedDelay | None = None
    # fold fast-appended frontier file sets every k waves (0 = only manual
    # Crawler.compact()); long crawls otherwise accumulate appended files in
    # partitions whose hosts are rarely dequeued
    compact_every: int = 0
    # retain only the last k snapshots per table when compacting (0 = keep
    # all). Long crawls otherwise accumulate one version dir per touched
    # partition per wave forever (catalog.expire_snapshots maintenance).
    expire_keep_last: int = 0
    # recompute scheduled-row priorities from link importance (integer
    # fixed-point PageRank over the referer graph, Frontier.reprioritize)
    # every k waves. 0 = never. An O(frontier) maintenance rewrite, so pick
    # k like a compaction cadence, not 1; ordering stays bit-reproducible.
    reprioritize_every: int = 0
    # raw-archive sink: when set, every wave's fetched rows (with bodies,
    # which the documents table does not keep) are written to
    # {warc_path}/wave=N/ as WARC/1.0 response records (kermit_spark.warc).
    # warc_date is the archive's WARC-Date — explicit, never wall-clock,
    # so re-runs produce identical archives.
    warc_path: str | None = None
    warc_date: str = "2000-01-01T00:00:00Z"
    # real-web HTML compliance: honor <base href> when resolving discovered
    # links and skip link discovery on <meta name=robots content=nofollow>
    # pages (robots_noindex rides the documents table for export filters).
    # Default off = reference parity: the reference honors neither.
    html_compliance: bool = False
    # per-partition fetch-outcome lineage rows (north_rule "per-partition
    # lineage"). Per-partition DEQUEUE counts are always recorded — they
    # fall out of the per-host collect the wave already does (zero extra
    # jobs). This flag adds ok/error breakdowns per partition: one small
    # aggregation job per wave over the stored documents partition.
    lineage_per_partition: bool = False
    # adaptive politeness: back off hosts with elevated error rates (one
    # batch-sized aggregation per wave when enabled). None = static budgets.
    error_backoff: ErrorBackoff | None = None
    # AIMD adaptive politeness from observed status+latency (see
    # AdaptivePoliteness). None = off.
    adaptive_politeness: AdaptivePoliteness | None = None
    # obey 429/503 + Retry-After: reschedule throttled URLs, stand the host
    # down for the server-requested number of waves. None = off (reference
    # behavior: any non-2xx is a terminal item error).
    server_backoff: ServerBackoff | None = None
    # politeness by registrable domain (eTLD+1) instead of host: a site
    # sharded over thousands of subdomains gets ONE site budget (the
    # production norm; Heritrix's queue-assignment-policy analog). False =
    # reference parity (core.queues.coffee keys per URL-host).
    politeness_by_domain: bool = False
    # priority aging (starvation prevention): dequeue ranks by
    # priority + rate·(current wave − discovery wave), so budget-starved
    # low-priority URLs eventually outrank fresh high-priority influx.
    # 0 = off (pure SURVEY §2.8 order — reference parity).
    priority_aging_rate: int = 0
    # 3xx handling when the fetcher SURFACES redirects (CorpusFetcher with a
    # location column; HttpFetcher follows silently like the reference's
    # request lib, so live crawls never see these rows): the Location target
    # — resolved against the source URL — is discovered at the SAME depth
    # (a redirect is the same logical page, not a deeper link) and rides the
    # normal dedup/admission path; the 3xx row itself counts as VISITED (the
    # fetch resolved; its outcome is the mapping). False = reference parity:
    # a surfaced 3xx is a terminal error.
    follow_redirects: bool = False
    # re-crawl freshness policy: visited rows older than k waves flip back
    # to scheduled (Frontier.recrawl — URL stays seen; wave clock resets on
    # flip so each URL re-fetches every ~k waves). 0 = off. With a policy
    # active the crawl is perpetual — bounded by max_waves, not hasWork.
    recrawl_after_waves: int = 0
    # crawler-trap defense (filters.TrapRules): URL-shape limits applied at
    # the same admission points as url_filter — trap URLs never enter the
    # frontier (discovery) and never burn budget (F5 second check). None =
    # off (reference behavior: no trap handling anywhere).
    trap_rules: TrapRules | None = None
    # DUST canonicalization (ops/dust.py): query-parameter keys known to be
    # content-irrelevant — mined from a previous crawl's (url, content_hash)
    # evidence by ops.dust.mine_irrelevant_params, or configured up front
    # (utm_*-style trackers) — are stripped from seed AND discovered URLs
    # before dedup, so alias families collapse to one frontier row instead
    # of exploding the URL-seen set (each session-id family is an
    # unbounded-variant trap TrapRules' shape limits cannot see). Empty =
    # off (reference parity: uri.clean keeps the query string intact,
    # tools.coffee:29-41).
    strip_query_params: list[str] = field(default_factory=list)
    # crawl scoping (Heritrix max-pages-per-host analog): cumulative cap on
    # URLs DEQUEUED per host across the whole crawl — a huge site cannot
    # monopolize the frontier however many waves run. Rides the same
    # host_budgets join as Crawl-delay/backoff (remaining = cap - attempted,
    # 0 filters the host out of the dequeue entirely). Attempt counts are a
    # frontier-side per-host aggregation joined into host_budgets — nothing
    # is collected to the driver, so the cap scales to 10^8-host frontiers,
    # and because frontier status+tries are the source of truth the count
    # is exact across error retries AND crawler resumes (see
    # _page_cap_budgets). None = unlimited (reference behavior).
    max_pages_per_host: int | None = None
    # per-PAGE discovery budget (Heritrix extractor max-outlinks analog):
    # only the first n discovery-kind (link/resource/media) spans per page,
    # in document order, become discovery candidates — resource/media refs
    # consume the same budget as anchors, so a machine-generated page with
    # 10^5 anchors or <img> tags cannot flood the dedup join. Applied as a
    # shuffle-free array slice before the explode. None = unlimited
    # (reference behavior).
    max_outlinks: int | None = None
    # magic-byte content sniffing (ops.media.sniff_mime) on fetched bodies:
    # routing and the documents table's content_type use the sniffed
    # EFFECTIVE type, so a server lying in Content-Type can neither hide an
    # HTML page's links (declared octet-stream → opaque media span) nor
    # feed binary to the span tokenizer. False = reference parity (header
    # trusted, extension fallback — core.streaming.coffee:59).
    sniff_content: bool = False
    # robots cache expiry: a host's rules older than k waves are re-fetched
    # through the same batch probe (RFC 9309 §2.4 bounds robots caching,
    # commonly at 24 h — the wave clock is the engine's time base, matching
    # recrawl_after_waves). The refreshed row REPLACES the old one, new
    # Crawl-delay/Sitemap declarations take effect, and newly-listed
    # sitemap URLs seed like any first fetch (dedup drops known ones).
    # 0 = never re-fetch (reference parity: fetch once, cache forever).
    robots_max_age_waves: int = 0
    # RFC 9309 §2.3.1.4 "unreachable" semantics: a 5xx robots.txt probe
    # means the host's policy is UNKNOWN and the crawler must assume
    # complete disallow (4xx stays allow-all per §2.3.1.3). With
    # robots_max_age_waves > 0 the host re-probes and recovers when the
    # server does; with fetch-once it stays conservatively blocked.
    # False = treat any non-200 as allow-all.
    robots_5xx_disallow: bool = True
    # NotificationCenter analog (ext.notifications.coffee:6-18): a
    # driver-side callable ``(event, payload)`` invoked on crawler
    # lifecycle events — 'crawler:start' {wave}, 'crawler:stop' {wave,
    # waves_run, reason}, and 'error' {wave, n_errors, urls} fired after
    # any wave whose fetches failed, carrying the failing URLs (the
    # reference notifies per item reaching its ERROR phase; here the wave
    # IS the batch, so one event per wave carries the batch's failures).
    # Only rows whose RESOLVED disposition is ERROR count — followed
    # redirects (VISITED) and 429/503 throttle retries (THROTTLED_RETRY)
    # are not failures and fire no event, matching the reference's
    # ERROR-phase-only semantics. (A throttle whose retry budget exhausts
    # settles to terminal 'error' inside commit_wave's distributed
    # resolution; that last attempt is still a throttle response at event
    # time and fires no event — the terminal state is queryable in the
    # frontier.)
    # The urls list is bounded by notify_max_urls; n_errors is always the
    # full count. None = off (zero extra jobs — the default path pays
    # nothing). Exceptions from the callback propagate AFTER the wave's
    # frontier commit, so a crashing handler never loses queue state.
    on_event: Callable[[str, dict], None] | None = None
    # cap on URLs carried by one 'error' event payload: the collect is
    # bounded by the politeness budget already (docs is the dequeued
    # batch), this bounds the driver list even for huge budgets
    notify_max_urls: int = 1000

    def admit_expr(self, url) -> F.Column:
        """url_filter AND trap defense — the combined admission predicate."""
        e = self.url_filter.expr(url)
        if self.trap_rules is not None:
            e = e & self.trap_rules.expr(url)
        return e


@dataclass
class WaveStats:
    wave: int
    n_selected: int
    n_blocked: int
    n_fetched_ok: int
    n_errors: int
    n_new_urls: int
    wall_s: float
    n_verify_failed: int = 0
    stop_requested: bool = False
    # conditional re-fetch: rows revalidated with 304 Not Modified (counted
    # as visits; their stored documents remain authoritative)
    n_not_modified: int = 0
    # Jain's fairness index over the wave's per-host dequeue counts
    # (metrics.fairness_stats formula, computed driver-side from the
    # per-host collect the wave already does — zero extra jobs). 1.0 =
    # every dequeued host served equally; -> 1/n = one host hogged the
    # batch. None when nothing was dequeued.
    jain_fairness: float | None = None


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        fetcher,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.fetcher = fetcher
        self.config = config or CrawlConfig()
        self.frontier = Frontier(
            catalog, self.config.num_partitions, self.config.bloom,
            seen_filter=self.config.seen_filter,
            exact_dedup=self.config.exact_dedup,
        )
        # driver-side cache of hosts KNOWN to have robots state. Filled
        # lazily from the hosts this run actually touches (never a full
        # robots-table collect — at 10^8 distinct hosts that would be GBs of
        # driver strings); capped so a pathological run can't grow it
        # unboundedly. Cache misses fall through to a batch-sized anti-join
        # probe against the robots table — same semantics, bounded memory.
        # host -> fetched_wave of its robots row (age answers staleness
        # driver-side in the common case; value unused when expiry is off)
        self._robots_hosts: dict[str, int] = {}
        # host → (p, fetched_wave) of hosts whose last robots probe was a
        # 5xx outage; None = not yet rebuilt from the table (resume).
        # Bounded by _OUTAGE_LEDGER_MAX; overflow spills to table scans
        # (see _ensure_robots) — the robots table is the source of truth.
        self._outage_hosts: dict[str, tuple[int, int]] | None = None
        self._outage_overflow = False
        # True once this session has verified (or migrated) the robots
        # table's schema — see _normalize_robots_schema
        self._robots_schema_ok = False
        self._last_requeued = 0  # rows requeued by the latest outage recovery
        # commit_wave settles each wave's own errors against max_tries; error
        # rows a resumed frontier carries from a lower budget get one
        # reschedule_errors sweep per Crawler (crawl()). seed() sets it: a
        # fresh frontier holds no error rows.
        self._errors_swept = False
        # None = unknown (probe the robots table on next use); False skips
        # the Crawl-delay join entirely — the common case pays nothing
        self._has_crawl_delays: bool | None = None
        # cached (host, budget_cap) rows — delays-only, ≪ robots table;
        # invalidated whenever new robots rows are fetched
        self._delay_caps: DataFrame | None = None
        # lineage rows buffered in the driver, flushed once per crawl()/read
        # — observability data, not queue state; buffering removes one small
        # write job per wave from the fixed cost.
        self._lineage_buffer: list[tuple] = []
        # adaptive error backoff state: host -> (budget_cap, expires_wave).
        # Driver-held and bounded (ErrorBackoff.max_hosts); derived from the
        # budget-bounded fetched batch each wave, never a frontier scan.
        self._backoff: dict[str, tuple[int, int]] = {}
        # server-throttle stand-down state: host -> resume wave (the first
        # wave the host may be dequeued again). Bounded like _backoff.
        self._server_backoff: dict[str, int] = {}
        # AIMD delay state: host -> delay_ms (AdaptivePoliteness). Bounded.
        self._adaptive_delay: dict[str, int] = {}
        # Tri-state "has any URL ever been attempted" flag gating the
        # max_pages_per_host frontier aggregation: False = provably fresh
        # (seed() just ran — the agg would be an empty result, skip the
        # per-wave frontier-sized job), None = unknown (resume — one cheap
        # limit(1) probe resolves it), True = attempts exist.
        self._any_attempts: bool | None = None

    # -- setup -------------------------------------------------------------

    def seed(self, urls: list[str] | DataFrame) -> None:
        """S1/S2 entry: seed URLs become the initial scheduled frontier."""
        if not isinstance(urls, DataFrame):
            urls = self.spark.createDataFrame([(u,) for u in urls], "url string")
        filtered = urls.filter(self.config.admit_expr(F.col("url")))
        if self.config.strip_query_params:
            # same DUST canonicalization as discovery — seeds and discovered
            # URLs must agree on canonical form or the seen-set splits
            from .ops.dust import strip_params

            filtered = strip_params(filtered, self.config.strip_query_params)
        self.frontier.init(filtered, wave=0)
        # a freshly-seeded frontier is all SCHEDULED/tries=0: the page-cap
        # aggregation has nothing to count until the first wave runs
        self._any_attempts = False
        self._errors_swept = True

    @property
    def last_wave(self) -> int:
        """Wave of the last committed frontier snapshot (resume point)."""
        props = self.catalog.snapshot_property("frontier")
        return int(props.get("wave", -1))

    def has_work(self) -> bool:
        return self.frontier.has_work()

    # -- robots ------------------------------------------------------------

    _ROBOTS_CACHE_MAX = 2_000_000  # hosts; ~100 MB of driver strings at worst
    # outage-ledger cap: hosts currently in 5xx outage (~60 MB worst case);
    # past it the robots table drives re-probes directly (overflow spill)
    _OUTAGE_LEDGER_MAX = 500_000

    def _normalize_robots_schema(self) -> None:
        """One-time schema-evolution guard before writing into an EXISTING
        robots table: a table created before the ``server_error`` outage
        column existed must be backfilled BEFORE new-schema rows are
        fast-appended next to its legacy files — the plain catalog read
        takes the legacy schema stamp, so the column would silently vanish,
        losing the 5xx outage markers a resumed crawl needs to re-probe
        all-blocked hosts.

        Detection is manifest-only (the creation-time schema stamp), so
        current-schema tables pay ZERO file IO here. Legacy tables pay one
        mergeSchema read + full-table copy-on-write rewrite, then the
        refreshed stamp makes every later session skip the probe. NULLs in
        ``server_error`` (rows from legacy files mixed in by a pre-fix
        session) normalize to False — unknown history is not an outage."""
        if self._robots_schema_ok:
            return
        stamp = self.catalog.schema_stamp(ROBOTS_TABLE)
        if stamp is not None and "server_error" not in stamp:
            stored = self.catalog.read(ROBOTS_TABLE, merge_schema=True)
            err = (
                F.coalesce(F.col("server_error"), F.lit(False))
                if "server_error" in stored.columns
                else F.lit(False)
            )
            self.catalog.overwrite_partitions(
                ROBOTS_TABLE, stored.withColumn("server_error", err)
            )
            self.catalog.refresh_schema_stamp(ROBOTS_TABLE)
        self._robots_schema_ok = True

    def _ensure_robots(
        self, hosts: list[tuple[int, str]], wave: int = 0
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """Fetch+parse robots.txt for (p, host) pairs not yet covered — or
        covered by rules older than ``robots_max_age_waves`` — and return
        (rules table, sitemap candidate URLs or None). With expiry off
        (default) a host is fetched once ever; with it on, a stale host
        re-fetches through the same probe and its row is REPLACED, so new
        Disallow/Crawl-delay/Sitemap declarations take effect. Sitemap
        <loc> entries of every (re)fetched host become depth-0 candidates
        merged into this wave's single frontier commit.

        Membership is resolved in two steps: the driver cache (host →
        fetched_wave) answers for hosts this run has already touched
        (steady state: zero Spark jobs); cache misses are probed against
        the robots table — a batch-sized join, never a scan-and-collect of
        all hosts."""
        sitemap_cands: DataFrame | None = None
        max_age = self.config.robots_max_age_waves

        def _fresh(fw: int) -> bool:
            return max_age <= 0 or wave - fw < max_age

        if max_age > 0:
            # outage ledger (host → (p, fetched_wave) of 5xx-probed hosts):
            # an all-blocked outage host has no scheduled rows, so it never
            # re-enters a dequeue batch on its own — the ledger forces its
            # expiry re-probe anyway. Lazily rebuilt on resume from the
            # stored server_error column; empty (and cost-free) whenever
            # expiry is off.
            #
            # BOUND: hosts CURRENTLY in 5xx outage, not all hosts — normally
            # a sliver of the frontier, but a hostile workload (crawling a
            # million erroring hosts) could inflate it, so the dict is
            # capped at _OUTAGE_LEDGER_MAX (~60 MB of driver strings worst
            # case). SPILL: the robots table's server_error column is the
            # source of truth; when the cap trips, re-probe candidates come
            # from a bounded table scan each robots wave instead of the
            # (incomplete) dict — same semantics, one extra bounded read,
            # only in the overflow regime.
            if self._outage_hosts is None:
                self._outage_hosts = {}
                if self.catalog.exists(ROBOTS_TABLE):
                    stored0 = self.catalog.read(ROBOTS_TABLE)
                    if "server_error" in stored0.columns:
                        rows0 = (
                            stored0.filter(
                                F.coalesce(F.col("server_error"), F.lit(False))
                            )
                            .select("p", "host", "fetched_wave")
                            .limit(self._OUTAGE_LEDGER_MAX + 1)
                            .collect()
                        )
                        if len(rows0) > self._OUTAGE_LEDGER_MAX:
                            self._outage_overflow = True
                            rows0 = rows0[: self._OUTAGE_LEDGER_MAX]
                        self._outage_hosts = {
                            r["host"]: (r["p"], r["fetched_wave"]) for r in rows0
                        }
            in_batch = {h for _, h in hosts}
            extra_outage: list[tuple[int, str]] = []
            if self._outage_overflow and self.catalog.exists(ROBOTS_TABLE):
                # overflow: the dict is a PARTIAL cache, so re-probe
                # candidates come straight from the table — never routed
                # through the (full) dict, which would starve table-only
                # hosts of re-probes forever. Oldest fetched_wave first
                # (TakeOrdered, bounded): re-probed hosts get a fresh
                # fetched_wave and rotate to the back, so every outage
                # host is eventually reached even when >cap hosts error
                # persistently. When the storm has drained to <=cap the
                # whole set is absorbed back into the dict and overflow
                # mode ENDS — the extra bounded scan is paid only while
                # the population is actually over the cap.
                rows_of = (
                    self.catalog.read(ROBOTS_TABLE)
                    .filter(F.coalesce(F.col("server_error"), F.lit(False)))
                    .select("p", "host", "fetched_wave")
                    .orderBy("fetched_wave")
                    .limit(self._OUTAGE_LEDGER_MAX + 1)
                    .collect()
                )
                if len(rows_of) <= self._OUTAGE_LEDGER_MAX:
                    self._outage_hosts = {
                        r["host"]: (r["p"], r["fetched_wave"]) for r in rows_of
                    }
                    self._outage_overflow = False
                else:
                    extra_outage = [
                        (r["p"], r["host"])
                        for r in rows_of
                        if not _fresh(r["fetched_wave"])
                        and r["host"] not in in_batch
                        and r["host"] not in self._outage_hosts
                    ]
            hosts = (
                list(hosts)
                + [
                    (p, h)
                    for h, (p, fw) in self._outage_hosts.items()
                    if not _fresh(fw) and h not in in_batch
                ]
                + extra_outage
            )
        unknown = [
            (p, h)
            for p, h in hosts
            if h not in self._robots_hosts or not _fresh(self._robots_hosts[h])
        ]
        missing = unknown
        stale_hosts: set[str] = set()
        outage_stale: set[str] = set()
        if unknown and self.catalog.exists(ROBOTS_TABLE):
            probe = self.spark.createDataFrame(unknown, "p int, host string")
            stored = self.catalog.read(ROBOTS_TABLE)
            err_col = (
                F.col("server_error")
                if "server_error" in stored.columns
                else F.lit(False)
            )
            have = stored.select(
                "host", "fetched_wave", F.coalesce(err_col, F.lit(False)).alias("server_error")
            )
            got, outage_hosts = {}, set()
            for r in probe.join(have, "host", "inner").collect():
                got[r["host"]] = r["fetched_wave"]
                if r["server_error"]:
                    outage_hosts.add(r["host"])
            missing = [
                (p, h) for p, h in unknown if h not in got or not _fresh(got[h])
            ]
            stale_hosts = {h for h, fw in got.items() if not _fresh(fw)}
            covered = {h: fw for h, fw in got.items() if _fresh(fw)}
            # stale hosts whose LAST probe was a 5xx outage: if the re-probe
            # below succeeds, their robots_blocked rows flip back to
            # scheduled (RFC 9309 §2.3.1.4 — disallow only WHILE unreachable)
            outage_stale = stale_hosts & outage_hosts
            if len(self._robots_hosts) < self._ROBOTS_CACHE_MAX:
                self._robots_hosts.update(covered)
        if missing:
            to_fetch = self.spark.createDataFrame(missing, "p int, host string").select(
                "p",
                F.xxhash64(F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt"))).alias("url_hash"),
                F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt")).alias("url"),
                "host",
                F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("referer"),
                F.lit(-1).alias("wave"),
                F.lit(0).alias("rank"),
            )
            fetched = self.fetcher.fetch(to_fetch)
            new_rules = robots_rules_from_fetch(
                fetched,
                self.config.user_agent,
                wave=wave,
                server_error_disallow=self.config.robots_5xx_disallow,
            )
            # whether any written row declares a Crawl-delay rides the robots
            # write as an Observation, so the dequeue needs no probe job
            delay_obs = Observation()

            def observed(df: DataFrame) -> DataFrame:
                return df.observe(
                    delay_obs, F.max(F.col("crawl_delay").isNotNull()).alias("any_delay")
                )

            created = not self.catalog.exists(ROBOTS_TABLE)
            if created:
                self.catalog.create(ROBOTS_TABLE, observed(new_rules), self.config.num_partitions)
                self._robots_schema_ok = True
            elif not stale_hosts:
                # pure inserts (the probe above guarantees these hosts have
                # no row yet) → fast-APPEND file sets: commit cost O(new
                # hosts). A read+union+overwrite would rewrite every touched
                # partition — O(all hosts stored there) per robots-fetch
                # wave, a full-table rewrite at 10^8 hosts.
                self._normalize_robots_schema()
                self.catalog.merge_write(ROBOTS_TABLE, observed(new_rules), replace_parts=())
            else:
                # expiry refresh: stale hosts' rows must be REPLACED (host
                # is unique in the table). Copy-on-write merge of just their
                # partitions — surviving hosts carried forward, stale rows
                # anti-joined out, refreshed + brand-new rows unioned in.
                self._normalize_robots_schema()
                stale_parts = sorted(
                    {p for p, h in missing if h in stale_hosts}
                )
                stale_df = self.spark.createDataFrame(
                    [(h,) for h in sorted(stale_hosts)], "host string"
                )
                survivors = (
                    self.catalog.read(ROBOTS_TABLE)
                    .filter(F.col("p").isin(stale_parts))
                    .join(stale_df, "host", "left_anti")
                    .select(*new_rules.columns)
                )
                self.catalog.merge_write(
                    ROBOTS_TABLE,
                    observed(survivors.unionByName(new_rules)),
                    replace_parts=stale_parts,
                )
            if max_age > 0:
                # outage bookkeeping + recovery (one partition-pruned
                # batch-sized read, only on waves that fetched robots AND
                # only with expiry on — the default path pays nothing).
                just_fetched = sorted({h for _, h in missing})
                flags = {
                    r["host"]: bool(r["server_error"])
                    for r in self.catalog.read(ROBOTS_TABLE)
                    .filter(F.col("host").isin(just_fetched))
                    .select(
                        "host",
                        F.coalesce(F.col("server_error"), F.lit(False)).alias(
                            "server_error"
                        ),
                    )
                    .collect()
                }
                p_of = {h: p for p, h in missing}
                for h, err in flags.items():
                    if err:
                        if (
                            h in self._outage_hosts
                            or len(self._outage_hosts) < self._OUTAGE_LEDGER_MAX
                        ):
                            self._outage_hosts[h] = (p_of[h], wave)
                        else:
                            # cap: the table keeps the marker; overflow mode
                            # re-probes straight from it
                            self._outage_overflow = True
                    else:
                        self._outage_hosts.pop(h, None)
                # hosts whose previous probe was 5xx and whose re-probe now
                # yields a REAL verdict get their robots_blocked rows
                # requeued — they were blocked by unreachability, not by
                # declared policy; the next dequeue re-gates them under the
                # fresh rules. A re-probe that is 5xx again leaves the rows
                # blocked (one recovery attempt per expiry period, no spin).
                recovered = sorted(
                    h for h in outage_stale if not flags.get(h, True)
                )
                if recovered:
                    host_parts = sorted({p_of[h] for h in recovered})
                    self._last_requeued = self.frontier._rewrite(
                        F.col("p").isin(host_parts)
                        & F.col("host").isin(recovered)
                        & (F.col("status") == ROBOTS_BLOCKED),
                        {"status": F.lit(SCHEDULED)},
                    )
            if len(self._robots_hosts) < self._ROBOTS_CACHE_MAX:
                self._robots_hosts.update({h: wave for _, h in missing})
            any_delay = bool(delay_obs.get["any_delay"])
            if any_delay or created:
                # a delay was written, or the write saw the whole table
                self._has_crawl_delays = any_delay
            elif stale_hosts and self._has_crawl_delays:
                # the replaced rows may have been the only delayed ones:
                # unknown, so the next dequeue probes
                self._has_crawl_delays = None
            if self._delay_caps is not None:
                self._delay_caps.unpersist()
                self._delay_caps = None
            # Sitemap: URLs of the just-fetched hosts → depth-0 candidates.
            # Read back from the committed table (no recompute of the robots
            # fetch).
            just = sorted({h for _, h in missing})
            sm = (
                self.catalog.read(ROBOTS_TABLE)
                .filter(F.col("host").isin(just))
                .filter(F.size("sitemaps") > 0)
                .select("p", "host", F.explode("sitemaps").alias("sm_url"))
            )
            to_fetch = sm.select(
                "p",
                F.xxhash64(F.col("sm_url")).alias("url_hash"),
                F.col("sm_url").alias("url"),
                "host",
                F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("referer"),
                F.lit(-1).alias("wave"),
                F.lit(0).alias("rank"),
            )
            # persisted AND materialized here (one small job), while the
            # sitemap fetch cache is live: ``raw`` feeds both the index-
            # expansion branch and the page union, and deferring evaluation
            # to the wave's frontier commit re-ran the whole corpus-join
            # fetch chain from scratch — by commit time the wave's own batch
            # fetch() has evicted CorpusFetcher's per-call cache (fetch.py
            # keeps only the latest). Measured on the sf0.1 bench: wave 1
            # went 24s → 93s from exactly this recompute. The count also
            # tells the driver whether any sitemapindex exists, so the
            # SECOND fetch layer (child sitemaps) — another multi-stage
            # corpus join + Arrow parse, a fixed multi-second floor even for
            # zero rows — is built only when a host actually declares one.
            raw = sitemap_candidates_from_fetch(self.fetcher.fetch(to_fetch)).persist()
            by_kind = {
                bool(r["is_index"]): int(r["count"])
                for r in raw.groupBy("is_index").agg(F.count("*").alias("count")).collect()
            }
            pages = raw.filter(~F.col("is_index"))
            if by_kind.get(True, 0):
                # one level of sitemapindex expansion — spec-complete (an
                # index must not list other index files, sitemaps.org).
                child_fetch = clean_links(
                    raw.filter(F.col("is_index")), F.col("sitemap_url"), F.col("loc")
                ).select(
                    partition_of(host_of(F.col("url")), self.config.num_partitions).alias("p"),
                    F.xxhash64(F.col("url")).alias("url_hash"),
                    "url",
                    host_of(F.col("url")).alias("host"),
                    F.lit(0).alias("depth"),
                    F.lit(None).cast("string").alias("referer"),
                    F.lit(-1).alias("wave"),
                    F.lit(0).alias("rank"),
                )
                raw1 = sitemap_candidates_from_fetch(self.fetcher.fetch(child_fetch))
                pages = pages.unionByName(
                    raw1.filter(~F.col("is_index"))  # double nesting: spec-invalid, dropped
                )
            if by_kind.get(False, 0) or by_kind.get(True, 0):
                sitemap_cands = clean_links(
                    pages,
                    F.col("sitemap_url"),
                    F.col("loc"),
                    F.col("sitemap_url").alias("referer"),
                    F.lit(0).alias("depth"),
                ).withColumn("priority", F.lit(0.0))
                # materialize the (small) candidate set and truncate lineage
                # so the frontier commit sees a plain scan instead of the
                # fetch chain; partition-distributed — no driver collect.
                sitemap_cands = sitemap_cands.localCheckpoint(eager=True)
            raw.unpersist()
        if self.catalog.exists(ROBOTS_TABLE):
            return self.catalog.read(ROBOTS_TABLE), sitemap_cands
        return None, sitemap_cands

    def _crawl_delay_caps(self) -> DataFrame | None:
        """(host, budget_cap) rows derived from robots Crawl-delay, or None
        when no host declares one (the steady-state answer is a driver-side
        flag — no Spark job, no join added to the dequeue)."""
        cfg = self.config
        if not cfg.obey_robots or cfg.politeness_window_s <= 0:
            return None
        if self._has_crawl_delays is None:
            self._has_crawl_delays = self.catalog.exists(ROBOTS_TABLE) and bool(
                self.catalog.read(ROBOTS_TABLE)
                .filter(F.col("crawl_delay").isNotNull())
                .limit(1)
                .count()
            )
        if not self._has_crawl_delays:
            return None
        if self._delay_caps is None:
            # cache the delays-only projection so steady-state waves don't
            # re-scan the robots table (it only changes on fetch waves,
            # which invalidate this cache)
            self._delay_caps = (
                self.catalog.read(ROBOTS_TABLE)
                .filter(F.col("crawl_delay").isNotNull())
                .select(
                    "host",
                    F.greatest(
                        F.lit(1),
                        F.floor(F.lit(cfg.politeness_window_s) / F.col("crawl_delay")),
                    )
                    .cast("int")
                    .alias("budget_cap"),
                )
                .persist()
            )
        return self._delay_caps

    def _page_cap_budgets(self) -> DataFrame | None:
        """(host, budget_cap) rows for max_pages_per_host: remaining quota
        per already-attempted host (0 filters an exhausted host out of the
        dequeue). Hosts never attempted carry no row — they keep the
        configured budget.

        The counts stay ON the frontier as a per-host aggregation that
        rides the host_budgets join — NOTHING is collected to the driver,
        so a 10^7-10^8-host frontier costs a distributed agg, not a
        multi-GB driver dict (Heritrix keeps the analogous queue budgets
        on the queues themselves). Because frontier status is the source
        of truth, a resumed crawl needs no rebuild and the count is EXACT
        across retries: each row's cumulative dequeues =
        ``tries`` (every errored/throttled dequeue bumped it) plus one if
        the row currently holds a non-scheduled, non-error terminal state
        (visited / robots_blocked / redirected — dequeued once beyond any
        recorded failures; an 'error' row's dequeues are exactly its
        tries)."""
        cap = self.config.max_pages_per_host
        if cap is None:
            return None
        # Fresh-crawl short-circuit: until some URL has been attempted the
        # aggregation below is provably empty, so a seeded-this-session
        # crawl skips the per-wave frontier-sized job entirely. On resume
        # the flag is unknown — ONE limit(1) probe (metadata-cheap vs the
        # groupBy) resolves it for the rest of the session; run_wave flips
        # it to True after the first non-empty dequeue.
        if self._any_attempts is False:
            return None
        if self._any_attempts is None:
            attempted = (F.col("tries") > 0) | (
                ~F.col("status").isin(SCHEDULED, ERROR)
            )
            self._any_attempts = bool(
                self.frontier.read().filter(attempted).limit(1).count()
            )
            if not self._any_attempts:
                return None
        attempts = F.col("tries") + F.when(
            ~F.col("status").isin(SCHEDULED, ERROR), F.lit(1)
        ).otherwise(F.lit(0))
        return (
            self.frontier.read()
            .select("host", attempts.alias("attempts"))
            .groupBy("host")
            .agg(F.sum("attempts").alias("n"))
            .filter(F.col("n") > 0)
            .select(
                "host",
                F.greatest(F.lit(cap) - F.col("n"), F.lit(0))
                .cast("int")
                .alias("budget_cap"),
            )
        )

    def _error_backoff_caps(self, wave: int) -> DataFrame | None:
        """(host, budget_cap) rows for hosts currently under error backoff;
        None when the feature is off or no cap is active (the steady-state
        answer costs no Spark job)."""
        if self.config.error_backoff is None or not self._backoff:
            return None
        rows = [(h, cap) for h, (cap, exp) in self._backoff.items() if exp >= wave]
        if not rows:
            return None
        return self.spark.createDataFrame(rows, "host string, budget_cap int")

    def _server_backoff_caps(self, wave: int) -> DataFrame | None:
        """(host, 0) rows for hosts standing down after a 429/503 —
        Retry-After obedience is a FULL stop, not a budget cut."""
        if self.config.server_backoff is None or not self._server_backoff:
            return None
        rows = [(h, 0) for h, resume in self._server_backoff.items() if resume > wave]
        if not rows:
            return None
        return self.spark.createDataFrame(rows, "host string, budget_cap int")

    def _update_server_backoff(self, wave: int, docs: DataFrame) -> None:
        """Post-wave Retry-After bookkeeping: one aggregation over the
        stored, budget-bounded docs batch, host → resume wave. Numeric
        (delta-seconds) Retry-After values convert to waves; HTTP-date or
        absent values use the configured default."""
        sb = self.config.server_backoff
        throttled = docs.filter(F.col("status").isin(*sb.statuses))
        ra = (
            F.max(F.element_at(F.col("headers"), "retry-after").cast("double"))
            if "headers" in docs.columns
            else F.lit(None).cast("double")
        )
        hit = throttled.groupBy("host").agg(ra.alias("ra")).collect()
        for r in hit:
            if r["ra"] is not None and r["ra"] >= 0:
                import math

                waves = min(
                    sb.max_backoff_waves,
                    max(1, math.ceil(r["ra"] / sb.seconds_per_wave)),
                )
            else:
                waves = sb.default_waves
            resume = wave + 1 + waves
            if resume > self._server_backoff.get(r["host"], 0):
                self._server_backoff[r["host"]] = resume
        if len(self._server_backoff) > sb.max_hosts:
            self._server_backoff = {
                h: v for h, v in self._server_backoff.items() if v > wave
            }
            if len(self._server_backoff) > sb.max_hosts:
                keep = sorted(self._server_backoff.items(), key=lambda kv: -kv[1])
                self._server_backoff = dict(keep[: sb.max_hosts])

    def _tick_server_backoff(self) -> bool:
        """Advance the stand-down clock by one idle tick (used when an empty
        wave cannot advance the committed wave number). Returns True when a
        stand-down was still active — i.e. the empty wave may be explained
        by throttled hosts and the crawl should wait rather than stop."""
        if self.config.server_backoff is None or not self._server_backoff:
            return False
        wave = self.last_wave + 1
        active = any(resume > wave for resume in self._server_backoff.values())
        if not active:
            return False
        # waiting is only useful while something is still scheduled — a
        # drained frontier should terminate immediately, stand-down or not
        if not self.frontier.has_work():
            return False
        self._server_backoff = {
            h: resume - 1 for h, resume in self._server_backoff.items()
        }
        return True

    def _update_error_backoff(self, wave: int, docs: DataFrame, per_host) -> None:
        """Post-wave backoff bookkeeping: hosts at/above the error-rate
        threshold get (further) budget cuts with a fresh cooldown. One
        aggregation over the stored, budget-bounded docs batch."""
        eb = self.config.error_backoff
        sel_by_host: dict[str, int] = {}
        for r in per_host:
            sel_by_host[r["host"]] = sel_by_host.get(r["host"], 0) + r["count"]
        outcome = (
            docs.groupBy("host")
            .agg(
                F.sum(
                    F.when(~F.col("status").isin(200, 304), 1).otherwise(0)
                ).alias("err"),
                F.count(F.lit(1)).alias("tot"),
            )
            .collect()
        )
        for r in outcome:
            if r["tot"] and r["err"] / r["tot"] >= eb.threshold:
                prev = self._backoff.get(r["host"])
                base = (
                    prev[0]
                    if prev is not None and prev[1] >= wave
                    else sel_by_host.get(r["host"], r["tot"])
                )
                cap = max(eb.min_budget, base // eb.factor)
                self._backoff[r["host"]] = (cap, wave + eb.cooldown_waves)
        if len(self._backoff) > eb.max_hosts:
            self._backoff = {h: v for h, v in self._backoff.items() if v[1] >= wave}
            if len(self._backoff) > eb.max_hosts:
                keep = sorted(self._backoff.items(), key=lambda kv: -kv[1][1])
                self._backoff = dict(keep[: eb.max_hosts])

    def _adaptive_politeness_caps(self) -> DataFrame | None:
        """(host, budget_cap) for hosts the AIMD fold currently marks
        degraded (delay above init). Healthy hosts carry no row — the cap
        table stays proportional to the degraded set, not the crawl."""
        ap = self.config.adaptive_politeness
        if ap is None or not self._adaptive_delay:
            return None
        window_ms = int(self.config.politeness_window_s * 1000)
        rows = []
        for h, d in self._adaptive_delay.items():
            if d <= ap.init_delay_ms:
                continue
            b = max(1, window_ms // max(d, 1))
            if ap.max_budget is not None:
                b = min(b, ap.max_budget)
            rows.append((h, int(b)))
        if not rows:
            return None
        return self.spark.createDataFrame(rows, "host string, budget_cap int")

    def _update_adaptive_politeness(self, docs: DataFrame) -> None:
        """Post-wave AIMD bookkeeping: fold the batch's per-host outcomes
        into the delay state, each host continuing from its stored delay
        (frontier.adaptive_host_delays init_delays)."""
        from .frontier import adaptive_host_delays

        ap = self.config.adaptive_politeness
        lat = (
            F.element_at(F.col("headers"), "x-kermit-latency-ms").cast("long")
            if "headers" in docs.columns
            else F.lit(None).cast("long")
        )
        evs = docs.select(
            "host",
            "url",
            "status",
            F.coalesce(lat, F.lit(0)).cast("long").alias("latency_ms"),
        )
        init_df = None
        if self._adaptive_delay:
            init_df = self.spark.createDataFrame(
                [(h, d) for h, d in self._adaptive_delay.items()],
                "host string, delay_ms long",
            )
        delays = adaptive_host_delays(
            evs, ts_col="url", id_col="url",
            slow_ms=ap.slow_ms, init_delay_ms=ap.init_delay_ms,
            increase_ms=ap.increase_ms, decrease_pct=ap.decrease_pct,
            min_delay_ms=ap.min_delay_ms, max_delay_ms=ap.max_delay_ms,
            init_delays=init_df,
        ).collect()
        for r in delays:
            self._adaptive_delay[r["host"]] = int(r["delay_ms"])
        if len(self._adaptive_delay) > ap.max_hosts:
            keep = sorted(self._adaptive_delay.items(), key=lambda kv: -kv[1])
            self._adaptive_delay = dict(keep[: ap.max_hosts])

    # -- one wave ----------------------------------------------------------

    def run_wave(self) -> WaveStats:
        t0 = time.time()
        wave = self.last_wave + 1
        cfg = self.config

        # INITIAL→SPOOLED: admission (status + URL filter; F5 second check)
        admitted = self.frontier.read().filter(
            (F.col("status") == SCHEDULED) & cfg.admit_expr(F.col("url"))
        )
        eligible = admitted
        if cfg.delay is not None:
            # Q10 RandomizedDelay: deferred rows stay 'scheduled' and are
            # reconsidered next wave with a fresh coin
            eligible = admitted.filter(~cfg.delay.defer_expr(wave))

        # SPOOLED→READY: politeness dequeue (Q5/Q8/Q9; robots Crawl-delay
        # caps — fetched in an earlier wave — and error-backoff caps tighten
        # per-host budgets; both ride the same single host_budgets join)
        cap_sources = [
            c
            for c in (
                self._crawl_delay_caps(),
                self._error_backoff_caps(wave),
                self._adaptive_politeness_caps(),
                self._server_backoff_caps(wave),
                self._page_cap_budgets(),
            )
            if c is not None
        ]
        if len(cap_sources) > 1:
            merged = cap_sources[0]
            for c in cap_sources[1:]:
                merged = merged.unionByName(c)
            host_budgets = merged.groupBy("host").agg(
                F.min("budget_cap").alias("budget_cap")
            )
        else:
            host_budgets = cap_sources[0] if cap_sources else None
        pkey = None
        if cfg.politeness_by_domain:
            from .functions.urls import registrable_domain

            pkey = registrable_domain(F.col("host"))

        def select(rows: DataFrame):
            batch = dequeue(
                rows,
                cfg.politeness,
                sub_salts=cfg.sub_salts,
                global_cap=cfg.global_cap,
                host_budgets=host_budgets,
                politeness_key=pkey,
                aging_rate=cfg.priority_aging_rate,
                current_wave=wave,
            ).persist()
            # one action materializes the batch AND yields host list + count.
            # host_budgets (e.g. a declared Crawl-delay) join as a broadcast
            # whose build is one more job; a shuffle join on host would save
            # it but collapse the level-1 window's (host, sub_salt) hot-host
            # spread.
            return batch, batch.groupBy("p", "host").count().collect()

        selected, per_host = select(eligible)
        n_selected = sum(r["count"] for r in per_host)
        if n_selected == 0 and cfg.delay is not None:
            # every remaining URL drew the defer coin (the coin is a pure
            # function of (url, wave), so re-running this wave can't change
            # it) — fall back to the undelayed selection so deferral never
            # stalls the crawl; genuinely-empty frontiers still terminate
            selected.unpersist()
            selected, per_host = select(admitted)
            n_selected = sum(r["count"] for r in per_host)
        batch_parts = sorted({r["p"] for r in per_host})
        if n_selected == 0:
            selected.unpersist()
            return WaveStats(wave, 0, 0, 0, 0, 0, time.time() - t0)
        # this wave dequeues ≥1 URL → page-cap attempts exist from now on
        self._any_attempts = True

        # robots gate (Q12) on the dequeued batch. No count action here:
        # n_blocked falls out of the fetch-side observed counts below
        # (n_selected - rows reaching parse - verify failures).
        blocked_updates = None
        to_fetch = selected
        sitemap_cands = None
        if cfg.obey_robots:
            hosts = [(r["p"], r["host"]) for r in per_host]
            rules, sitemap_cands = self._ensure_robots(hosts, wave=wave)
            if rules is not None:
                allowed = robots_gate(selected, rules).persist()
                blocked_updates = selected.join(
                    allowed.select("p", "url_hash", "url"),
                    on=["p", "url_hash", "url"],
                    how="left_anti",
                ).select("p", "url_hash", "url", F.lit(ROBOTS_BLOCKED).alias("new_status"))
                to_fetch = allowed

        # READY→FETCHING→FETCHED: fetch stage (S5/S8)
        fetched = self.fetcher.fetch(to_fetch)

        # result verification (F10) — before discovery, so links from bad
        # content never enter the frontier
        verify_updates = None
        verify_cache = None  # hold the persisted DF so it can be unpersisted
        n_verify_failed = 0
        if cfg.verification is not None:
            bad_expr = cfg.verification.bad_expr()
            if bad_expr is not None:
                verify_cache = fetched.withColumn("_verify_bad", bad_expr).persist()
                fetched = verify_cache
                bad_rows = fetched.filter(F.col("_verify_bad"))
                n_verify_failed = bad_rows.count()
                if n_verify_failed:
                    verify_updates = bad_rows.select(
                        "p", "url_hash", "url", F.lit(SCHEDULED).alias("new_status")
                    )
                    fetched = fetched.filter(~F.coalesce(F.col("_verify_bad"), F.lit(False)))
                fetched = fetched.drop("_verify_bad")

        # optional raw-archive sink: the fetched rows (bodies included, which
        # the documents table does NOT keep — it stores spans) go to one
        # WARC directory per wave, Heritrix-style. Requires caching fetched
        # so archiving + parsing don't fetch twice; the cache is released
        # right after the documents write materializes. Idempotent per wave
        # (overwrite), so crash-resume behaves like the documents write.
        warc_cached = None
        if cfg.warc_path:
            from .warc import write_warc

            warc_cached = fetched.persist()
            write_warc(warc_cached, f"{cfg.warc_path}/wave={wave}", date=cfg.warc_date)
            fetched = warc_cached

        # FETCHED→COMPLETE: parse spans + store documents (X1-X5, S7);
        # documents table is partitioned by WAVE (append-only write pattern;
        # idempotent overwrite on wave re-run after a crash). Status counts
        # ride on the write job via an Observation — no separate count job.
        obs = Observation()
        docs = parse_documents(
            fetched,
            html_meta=cfg.html_compliance,
            sniff_content=cfg.sniff_content,
        ).observe(
            obs,
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("status") == 304, 1).otherwise(0)).alias("n_notmod"),
            F.sum(F.when(~F.col("status").isin(200, 304), 1).otherwise(0)).alias("n_err"),
        )
        # align=False: the write covers ONE partition value (the wave) — an
        # aligned write would funnel every document through a single task's
        # parquet encoder; unaligned, each of the T parse tasks writes its
        # own file into p=<wave>/ in parallel
        docs_out = docs.withColumnRenamed("p", "host_p").withColumn("p", F.lit(wave))
        if self.catalog.exists(DOCUMENTS_TABLE):
            self.catalog.overwrite_partitions(DOCUMENTS_TABLE, docs_out, [wave], align=False)
        else:
            self.catalog.create(DOCUMENTS_TABLE, docs_out, cfg.num_partitions, align=False)
        if warc_cached is not None:
            warc_cached.unpersist()
        # every later phase reads the committed partition back, not the lazy
        # frame, so no plan re-analyzes (or re-runs) the fetch → parse
        # lineage. The schema is the one just written: the table's stamp may
        # predate new columns. A fully robots-blocked wave reads back empty.
        docs = (
            self.catalog.read_partitions(DOCUMENTS_TABLE, [wave], docs_out.schema)
            .drop("p")
            .withColumnRenamed("host_p", "p")
        )

        metrics = obs.get
        n_ok = int(metrics["n_ok"] or 0)
        n_err = int(metrics["n_err"] or 0)
        n_notmod = int(metrics["n_notmod"] or 0)
        # every selected row is exactly one of: parsed (ok/304/err),
        # verification-failed, or robots-blocked — so blocked needs no count
        # of its own. The derivation assumes the fetcher is row-preserving; a
        # fetcher that duplicates rows (e.g. duplicate URLs in a corpus)
        # would drive this negative, so clamp and warn instead of recording
        # garbage.
        n_blocked = n_selected - n_ok - n_err - n_notmod - n_verify_failed
        if n_blocked < 0:
            import logging

            logging.getLogger(__name__).warning(
                "wave %d: fetcher emitted more rows than selected "
                "(selected=%d ok=%d err=%d not_modified=%d verify_failed=%d) — "
                "clamping n_blocked to 0; check for duplicate corpus URLs",
                wave, n_selected, n_ok, n_err, n_notmod, n_verify_failed,
            )
            n_blocked = 0

        # discovery (X3): spans → cleaned candidate URLs → filter (F5 first
        # application point); dedup happens inside commit_wave (Q1).
        # Sitemap <loc> candidates (depth 0) from hosts whose robots arrived
        # this wave ride the same commit — within-batch dedup's depth
        # ordering makes a sitemap row win over a same-wave link discovery.
        candidates = discover_links(
            docs,
            honor_base=cfg.html_compliance,
            honor_nofollow=cfg.html_compliance,
            max_outlinks=cfg.max_outlinks,
        ).filter(cfg.admit_expr(F.col("url")))
        if sitemap_cands is not None:
            candidates = candidates.unionByName(
                sitemap_cands.filter(cfg.admit_expr(F.col("url")))
            )
        redirect_followed = None
        if cfg.follow_redirects and "headers" in docs.columns:
            # surfaced 3xx: Location target (resolved against the source,
            # RFC 9110 §10.2.2) becomes a same-depth discovery
            loc = F.element_at(F.col("headers"), "location")
            redirect_followed = F.col("status").between(300, 399) & loc.isNotNull()
            redirects = (
                clean_links(
                    docs.filter(redirect_followed),
                    F.col("url"),
                    loc,
                    F.col("url").alias("referer"),
                    "depth",
                )
                .withColumn("priority", F.lit(0.0))
                .filter(cfg.admit_expr(F.col("url")))
            )
            candidates = candidates.unionByName(redirects)

        # COMPLETE/ERROR/ROBOTS_BLOCKED disposition (Q2-Q4, P3/P7) + new URLs
        # (Q1) — ONE frontier snapshot commit
        # a 304 revalidation is a successful visit (content unchanged); fresh
        # response validators (ETag/Last-Modified) ride the same merge so the
        # NEXT re-fetch of these URLs can be conditional. commit_wave merges
        # them sticky (coalesce(new, old)) — error rows and validator-less
        # responses never erase a stored validator.
        hdr = F.col("headers") if "headers" in docs.columns else F.lit(None).cast(
            "map<string,string>"
        )
        disposition = F.when(F.col("status").isin(200, 304), F.lit(VISITED))
        if redirect_followed is not None:
            # a followed redirect is a resolved fetch, not a failure
            disposition = disposition.when(redirect_followed, F.lit(VISITED))
        if cfg.server_backoff is not None:
            # 429/503 = server throttle, not failure: THROTTLED_RETRY marker
            # (commit_wave resolves to scheduled-or-error by tries budget)
            disposition = disposition.when(
                F.col("status").isin(*cfg.server_backoff.statuses),
                F.lit(THROTTLED_RETRY),
            )
        updates = docs.select(
            F.col("p"),
            F.col("url_hash"),
            F.col("url"),
            disposition.otherwise(F.lit(ERROR)).alias("new_status"),
            F.element_at(hdr, "etag").alias("new_etag"),
            F.element_at(hdr, "last-modified").alias("new_last_modified"),
        )
        if blocked_updates is not None:
            updates = updates.unionByName(blocked_updates, allowMissingColumns=True)
        if verify_updates is not None:
            updates = updates.unionByName(verify_updates, allowMissingColumns=True)
        if cfg.strip_query_params:
            # DUST canonicalization: collapse alias families BEFORE dedup so
            # the seen-set (Bloom + anti-join) never learns throwaway variants
            from .ops.dust import strip_params

            candidates = strip_params(candidates, cfg.strip_query_params)
        # updates cover exactly the dequeued batch -> their partitions are
        # known driver-side already (batch_parts); no distinct+collect job
        n_new = self.frontier.commit_wave(
            updates, candidates, wave=wave, properties={"wave": wave},
            updates_parts=batch_parts,
            throttle_max_tries=(
                cfg.server_backoff.max_tries if cfg.server_backoff else 3
            ),
            max_tries=cfg.max_tries,
        )

        wall = time.time() - t0
        self._append_lineage(wave, n_selected, n_blocked, n_ok, n_err, n_new, wall)
        if n_notmod:
            self._lineage_buffer.append(
                (wave, phases.COMPLETE, "not_modified", None, n_notmod, wall)
            )
        # per-partition lineage (north_rule): dequeue split is free — it is
        # the per_host collect aggregated driver-side; fetch outcomes are an
        # opt-in aggregation over the stored documents partition
        part_sel: dict[int, int] = {}
        for r in per_host:
            part_sel[r["p"]] = part_sel.get(r["p"], 0) + r["count"]
        self._lineage_buffer += [
            (wave, phases.READY, "dequeue_part", p, n, wall)
            for p, n in sorted(part_sel.items())
        ]
        if cfg.error_backoff is not None:
            self._update_error_backoff(wave, docs, per_host)
        if cfg.adaptive_politeness is not None:
            self._update_adaptive_politeness(docs)
        if cfg.server_backoff is not None:
            self._update_server_backoff(wave, docs)
        if cfg.on_event is not None and n_err:
            # ext.notifications ERROR-phase analog: one event per wave with
            # the failing URLs (docs is the stored, budget-bounded batch;
            # the limit bounds the payload, n_errors stays exact).
            # The reference NotificationCenter fires only for items that
            # actually reach the ERROR phase — so followed redirects (a
            # resolved VISITED) and 429/503 throttle outcomes (scheduled
            # THROTTLED_RETRY, not failures) are excluded, mirroring the
            # disposition expression committed above. n_err (> 0 gate) is a
            # superset pre-check; the exact event count recomputes here.
            true_error = ~F.col("status").isin(200, 304)
            if redirect_followed is not None:
                true_error = true_error & ~F.coalesce(
                    redirect_followed, F.lit(False)
                )
            if cfg.server_backoff is not None:
                true_error = true_error & ~F.col("status").isin(
                    *cfg.server_backoff.statuses
                )
            err_rows = docs.filter(true_error).select("url")
            n_true_err = err_rows.count()
            if n_true_err:
                err_urls = [
                    r["url"]
                    for r in err_rows.limit(cfg.notify_max_urls).collect()
                ]
                self._notify(
                    "error",
                    {"wave": wave, "n_errors": n_true_err, "urls": err_urls},
                )
        if cfg.lineage_per_partition:
            pp = (
                docs.groupBy("p")
                .agg(
                    F.sum(F.when(F.col("status").isin(200, 304), 1).otherwise(0)).alias("ok"),
                    F.sum(
                        F.when(~F.col("status").isin(200, 304), 1).otherwise(0)
                    ).alias("err"),
                )
                .collect()
            )
            self._lineage_buffer += [
                (wave, phases.COMPLETE, "store_part", r["p"], r["ok"], wall) for r in pp
            ] + [
                (wave, phases.ERROR, "fetch_error_part", r["p"], r["err"], wall) for r in pp
            ]
        selected.unpersist()
        if verify_cache is not None:
            verify_cache.unpersist()
        if to_fetch is not selected:
            to_fetch.unpersist()
        jain = None
        if per_host:
            # same half-up-at-1e6 convention as metrics.fairness_stats; a
            # host maps to exactly one partition, so (p, host) rows ARE the
            # per-host counts
            _s = float(sum(r["count"] for r in per_host))
            _q = float(sum(r["count"] * r["count"] for r in per_host))
            _n = float(len(per_host))
            if _q > 0:
                jain = int((_s * _s) / (_n * _q) * 1e6 + 0.5) / 1e6
        return WaveStats(
            wave, n_selected, n_blocked, n_ok, n_err, n_new, wall,
            n_verify_failed=n_verify_failed,
            stop_requested=n_verify_failed > 0,
            n_not_modified=n_notmod,
            jain_fairness=jain,
        )

    def _append_lineage(
        self, wave: int, n_sel: int, n_blocked: int, n_ok: int, n_err: int, n_new: int, wall: float
    ) -> None:
        """A1: per-wave, per-stage metrics ledger (north_rule per-partition
        lineage; the per-partition split lives in the documents/frontier
        partition stats). Buffered in the driver and flushed once per
        crawl()/read — observability data, not queue state: a crash loses at
        most the unflushed buffer, never queue correctness, and the per-wave
        fixed cost drops by one write job."""
        self._lineage_buffer += [
            (wave, phases.READY, "dequeue", None, n_sel, wall),
            (wave, phases.CANCELED, "robots_blocked", None, n_blocked, wall),
            (wave, phases.FETCHED, "fetch", None, n_ok + n_err, wall),
            (wave, phases.COMPLETE, "store", None, n_ok, wall),
            (wave, phases.ERROR, "fetch_error", None, n_err, wall),
            (wave, phases.SPOOLED, "discovered_new", None, n_new, wall),
        ]

    def _notify(self, event: str, payload: dict) -> None:
        """Fire the configured lifecycle callback (NotificationCenter
        analog, ext.notifications.coffee:6-18). No-op when unconfigured."""
        if self.config.on_event is not None:
            self.config.on_event(event, payload)

    def flush_lineage(self) -> None:
        """Append the buffered lineage rows as ONE parquet file, written by
        pyarrow in this process — a few hundred rows need no Spark job. The
        file lands under a hidden name (Spark readers skip ``.``-prefixed
        files) and is renamed into place, so ``lineage()`` never sees a
        partial file."""
        if not self._lineage_buffer:
            return
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("wave", pa.int32()), ("phase", pa.string()), ("stage", pa.string()),
            ("part", pa.int32()), ("n", pa.int64()), ("wall_s", pa.float64()),
        ])
        cols = zip(*self._lineage_buffer)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
        out = self._lineage_path()
        os.makedirs(out, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(out, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, name))
        self._lineage_buffer = []

    def _lineage_path(self) -> str:
        return os.path.join(self.catalog.root, "lineage_log")

    # -- the loop ----------------------------------------------------------

    def crawl(self, max_waves: int | None = None, remote=None) -> list[WaveStats]:
        """Run waves until one selects nothing (Q11 hasWork analog — a wave
        that selects zero URLs can never schedule new ones) or the cap hits.

        ``remote``: an optional control.RemoteControl — its buffered
        schedule requests merge into the frontier at each wave boundary and
        its stop command ends the loop after the current wave (S11)."""
        cap = max_waves if max_waves is not None else self.config.max_waves
        stats: list[WaveStats] = []
        # Pin the Arrow batch size for the wave loop when the caller's
        # session still has Spark's default (10000 rows): ~10 kB bodies make
        # ~100 MB Arrow batches per task through the parse UDF, and
        # concurrent tasks then churn GBs of off-heap allocations (measured
        # 5-7x slower span-parse; see session.py, which sets 512 for
        # sessions the engine builds itself). An explicit non-default caller
        # setting is respected; the original value is restored on exit.
        _ab_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        _ab_orig = self.spark.conf.get(_ab_key, None)
        _ab_pin = _ab_orig in (None, "10000")
        if _ab_pin:
            self.spark.conf.set(_ab_key, "512")
        stop_reason = "exception"  # overwritten on every non-raising exit
        try:
            # inside the try: a raising start-callback must still restore
            # the pinned Arrow conf, flush lineage/blobs, and fire stop
            self._notify("crawler:start", {"wave": self.last_wave + 1})
            if not self._errors_swept and self.config.max_tries > 1:
                self.frontier.reschedule_errors(self.config.max_tries, self.last_wave + 1)
            self._errors_swept = True
            # Under a recrawl policy the crawl is perpetual: an empty wave is
            # an idle TICK (the virtual clock `last_wave + 1 + idle` keeps
            # advancing so visited rows still age while the frontier is
            # drained), not termination. Every iteration — fetching or idle —
            # consumes cap, so the loop always terminates. Without a policy
            # the classic Q11 hasWork semantics are unchanged.
            idle = 0
            ticks = 0
            while ticks < cap:
                ticks += 1
                if remote is not None:
                    remote.drain_schedules(wave=self.last_wave + 1)
                if self.config.recrawl_after_waves:
                    clock = self.last_wave + 1 + idle
                    self.frontier.recrawl(
                        F.col("wave") <= clock - self.config.recrawl_after_waves,
                        wave=clock,
                    )
                s = self.run_wave()
                if s.n_selected == 0:
                    if self.config.recrawl_after_waves:
                        idle += 1
                        continue
                    if self._tick_server_backoff():
                        # every scheduled host is standing down (429/503
                        # Retry-After): an empty wave is a WAIT, not
                        # termination. The wave number can't advance (nothing
                        # committed), so advance the backoff clock instead —
                        # each idle tick consumes cap, keeping the loop
                        # bounded.
                        continue
                    if (
                        self.config.obey_robots
                        and self.config.robots_max_age_waves > 0
                    ):
                        # robots-outage wait: hosts whose robots probe was a
                        # 5xx may have had ALL their URLs blocked, leaving
                        # nothing scheduled — an empty wave then idles the
                        # virtual clock forward and re-probes them at expiry
                        # (outage ledger inside _ensure_robots). Each tick
                        # consumes cap, so the loop stays bounded even if
                        # the server never recovers.
                        idle += 1
                        self._last_requeued = 0
                        _, sm = self._ensure_robots(
                            [], wave=self.last_wave + 1 + idle
                        )
                        if sm is not None:
                            # a recovered host's refreshed Sitemap seeds like
                            # any other robots fetch — no wave commit here,
                            # so push through the schedule entry directly
                            self.frontier.schedule(
                                sm.filter(self.config.admit_expr(F.col("url"))),
                                wave=self.last_wave + 1,
                            )
                        if self._last_requeued or self._outage_hosts:
                            continue
                    stop_reason = "drained"
                    break
                stats.append(s)
                if s.stop_requested:
                    # F10: verification failure stops the crawler
                    stop_reason = "verification_failed"
                    break
                if remote is not None and remote.stop_requested:
                    stop_reason = "remote_stop"
                    break
                if self.config.compact_every and len(stats) % self.config.compact_every == 0:
                    self.compact()
                if (
                    self.config.reprioritize_every
                    and len(stats) % self.config.reprioritize_every == 0
                ):
                    self.reprioritize()
            else:
                stop_reason = "max_waves"
        finally:
            # conf restore is unconditional and first — nothing below may
            # leave the caller's session pinned
            if _ab_pin:
                if _ab_orig is None:
                    self.spark.conf.unset(_ab_key)
                else:
                    self.spark.conf.set(_ab_key, _ab_orig)
            # stop_reason is "exception" EXACTLY when the try body raised
            # (every non-raising exit overwrites it) — more reliable than
            # sys.exc_info(), which is also non-None when crawl() itself
            # runs inside a caller's except handler. While the original
            # crawl exception is propagating, a secondary failure from the
            # cleanup below (flushes run Spark jobs that will often fail
            # against the same broken session, and the stop callback is
            # user code) must not REPLACE it; on a clean exit any cleanup
            # failure surfaces normally.
            try:
                self.flush_lineage()
                # commit any deferred driver-side url_seen blob maintenance
                # so a clean shutdown resumes without the O(frontier)
                # rebuild
                self.frontier.flush_bloom()
                self._notify(
                    "crawler:stop",
                    {
                        "wave": self.last_wave,
                        "waves_run": len(stats),
                        "reason": stop_reason,
                    },
                )
            except Exception:
                if stop_reason != "exception":
                    raise
        return stats

    # -- outputs -----------------------------------------------------------

    def evict(self, match) -> int:
        """Forget matching URLs (rows removed AND un-seen → re-discoverable;
        Frontier.evict — cuckoo seen_filter deletes fingerprints in place,
        Bloom pays one epoch-tracked blob rebuild)."""
        return self.frontier.evict(match)

    def recrawl(self, match) -> int:
        """Reschedule matching visited URLs without forgetting them
        (Frontier.recrawl; the age clock restarts at the next wave). For
        the automated per-wave policy use CrawlConfig.recrawl_after_waves."""
        return self.frontier.recrawl(match, wave=self.last_wave + 1)

    def adaptive_recrawl(
        self,
        min_interval: int = 1,
        max_interval: int = 16,
        respect_cache_headers: bool = False,
        seconds_per_wave: int = 3600,
    ) -> int:
        """Change-rate-driven re-crawl: estimate each URL's revisit interval
        from the engine's OWN fetch history (frontier.recrawl_schedule over
        per-URL content hashes — md5 of the span payload from the documents
        table; a 304 revalidation row forward-fills the previous hash, i.e.
        counts as an observed no-change revisit) and flip exactly the
        OVERDUE visited URLs back to scheduled for the next wave.

        The fixed-clock policy (CrawlConfig.recrawl_after_waves) re-fetches
        everything of the same age; this one spends the politeness budget
        where content actually churns — static pages back off to
        ``max_interval`` waves, fast-changing ones come due every wave.
        Run at policy cadence, then crawl() again. Returns the number of
        URLs rescheduled.

        ``respect_cache_headers=True`` additionally folds the servers' OWN
        freshness declarations in (RFC 9111: Cache-Control max-age /
        s-maxage / no-cache, Expires-Date): each URL's revisit interval is
        floored at ``ceil(freshness / seconds_per_wave)`` from its latest
        response's headers (frontier.cache_floor_waves), so the estimator
        never re-fetches what the server declared still fresh — even past
        ``max_interval``. No-op when the fetcher captured no headers."""
        from pyspark.sql.window import Window

        from .frontier import cache_floor_waves, recrawl_schedule

        next_wave = self.last_wave + 1
        w = (
            Window.partitionBy("url")
            .orderBy("wave")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        hash_raw = F.when(F.col("status") != 304, F.md5(F.to_json("spans")))
        hist = (
            self.documents()
            .select(
                "url",
                F.col("wave").cast("long").alias("wave"),
                F.last(hash_raw, ignorenulls=True).over(w).alias("content_hash"),
            )
            .filter(F.col("content_hash").isNotNull())
        )
        floors = None
        if respect_cache_headers and "headers" in self.documents().columns:
            floors = cache_floor_waves(
                self.documents().select("url", "wave", "headers"),
                seconds_per_wave=seconds_per_wave,
            )
        sched = recrawl_schedule(
            hist,
            current_wave=next_wave,
            min_interval=min_interval,
            max_interval=max_interval,
            interval_floors=floors,
        )
        return self.frontier.recrawl_urls(
            sched.filter(F.col("overdue")), wave=next_wave
        )

    def rollback_to_wave(self, wave: int) -> int:
        """Bad-wave recovery across ALL crawl state: restore the frontier to
        its state at the end of ``wave`` (catalog.rollback_to) and drop
        the later waves' document partitions, so a subsequent crawl() — same
        process or a fresh one — re-runs from wave+1 as if the bad waves
        never happened (fix the config first; that is the point). The
        target is the newest snapshot whose ``wave`` property is ≤ ``wave``:
        every commit carries that property forward, so the target is the end
        of ``wave`` plus any commits made before wave+1 started (remote or
        streamed schedule requests, maintenance, the one resume sweep a
        Crawler makes before its first wave). Error retries settle inside
        the wave's own commit and add no snapshot between waves.

        Consistency notes, each deliberate:
          * url_seen blobs may retain the rolled-back URLs — a stale
            SUPERSET is safe because the filter is a prefilter, never
            membership truth (the anti-join against the restored frontier
            re-admits them); the driver-held copy is reset so the next wave
            re-syncs from the epoch-tracked table.
          * the robots table keeps rows fetched during rolled-back waves:
            robots state is host metadata, not crawl output, and re-running
            the waves would fetch the same rules again.
          * the lineage ledger keeps the rolled-back waves' rows — it is an
            append-only observability record; re-run waves append fresh
            rows with the same wave numbers (the ts column disambiguates).

        Returns the frontier snapshot id rolled back to. Raises
        ``ValueError`` when no retained frontier snapshot is at or before
        ``wave`` (history expired — see expire_keep_last)."""
        from .frontier import FRONTIER_TABLE

        target = None
        for s in sorted(self.catalog.snapshots(FRONTIER_TABLE), reverse=True):
            w = int(self.catalog.snapshot_property(FRONTIER_TABLE, s).get("wave", -1))
            if w <= wave:
                target = s
                break
        if target is None:
            raise ValueError(
                f"no retained frontier snapshot at or before wave {wave} "
                "(expired? raise expire_keep_last)"
            )
        self.catalog.rollback_to(FRONTIER_TABLE, target)
        if self.catalog.exists(DOCUMENTS_TABLE):
            stale = [p for p in self.catalog.partitions(DOCUMENTS_TABLE) if p > wave]
            if stale:
                empty = self.catalog.read(DOCUMENTS_TABLE).limit(0).filter(F.lit(False))
                self.catalog.overwrite_partitions(
                    DOCUMENTS_TABLE, empty, stale, align=False
                )
        # reset driver-held seen-filter state; next wave re-syncs/rebuilds
        self.frontier._forget_blobs()
        return target

    def documents(self) -> DataFrame:
        return self.catalog.read(DOCUMENTS_TABLE)

    def latest_documents(self) -> DataFrame:
        """One row per URL: the newest CONTENTFUL fetch (re-crawl aware).
        A 304 revalidation row carries no spans — the earlier 200 row stays
        authoritative; a changed page's fresh 200 row supersedes the old
        one. Hash aggregation (max_by on wave), no window sort — one shuffle
        on url_hash."""
        docs = self.documents().filter(F.col("status") == 200)
        cols = [c for c in docs.columns]
        return (
            docs.groupBy("url_hash", "url")
            .agg(F.max_by(F.struct(*cols), F.col("wave")).alias("_d"))
            .select("_d.*")
        )

    def export_wet(self, path: str, date: str = "2000-01-01T00:00:00Z") -> None:
        """Export the crawl's extracted text as Common Crawl-style .wet
        conversion records (one per newest contentful fetch of each URL —
        re-crawl aware via latest_documents). Completes the archive triple:
        warc_path captures raw responses live; this and export_wat derive
        the conversion/metadata faces from the documents table post-hoc."""
        from .warc import write_wet

        write_wet(self.latest_documents(), path, date=date)

    def export_wat(self, path: str, date: str = "2000-01-01T00:00:00Z") -> None:
        """Export fetch metadata + ordered outlinks as .wat metadata
        records (see export_wet)."""
        from .warc import write_wat

        write_wat(self.latest_documents(), path, date=date)

    def replay_documents(self, path: str, **parse_kwargs) -> DataFrame:
        """Re-extraction replay INTO THIS CRAWL: parse an archived .warc
        tree back into rows of this crawl's documents table, with the
        partition column ``p`` derived under THIS crawl's
        ``config.num_partitions`` — the detail a caller of the free
        function ``warc.documents_from_warc`` can silently get wrong (its
        default of 32 disagrees with any other live partitioning and the
        'drop-in rows of the same documents table' claim breaks).
        ``parse_kwargs`` pass through to parse_documents (html_meta /
        sniff_content) — replay with better extraction settings than the
        original crawl had."""
        from .warc import documents_from_warc

        return documents_from_warc(
            self.spark, path,
            num_partitions=self.config.num_partitions,
            **parse_kwargs,
        )

    def lineage(self) -> DataFrame:
        self.flush_lineage()
        return self.spark.read.parquet(self._lineage_path())

    def reprioritize(self, num_iters: int = 3) -> None:
        """Recompute scheduled-row dequeue priorities from link importance
        (integer fixed-point PageRank, ops.graph.pagerank) over the FULL
        link graph — every (document → outlink) edge extracted from the
        fetched documents' spans (X3), cleaned exactly like discovery.
        The frontier's own referer column would NOT do: within-batch dedup
        keeps one parent per URL, so it is the first-discovery tree with
        in-degree ≤ 1 — no importance signal. Parallel edges are kept
        (a page linking twice passes 2/outdeg of its mass — deterministic
        link-multiplicity weighting; a distinct() here would add an
        edge-set-sized shuffle for no ordering benefit)."""
        edges = None
        if self.catalog.exists(DOCUMENTS_TABLE):
            # same discovery policy as the crawl: the outlink budget caps
            # the edge extraction too, or a 10^5-anchor spam page floods
            # the PageRank shuffle the cap exists to prevent
            links = discover_links(self.documents(), max_outlinks=self.config.max_outlinks)
            edges = links.select(
                F.xxhash64(F.col("referer")).alias("src"),
                F.xxhash64(F.col("url")).alias("dst"),
            )
        self.frontier.reprioritize(edges, num_iters=num_iters)

    def reprioritize_by_quality(self, min_docs: int = 1) -> None:
        """Focused crawling: recompute scheduled priorities from the CONTENT
        quality of what each host has already served — the
        RefinedWeb/C4-style domain rollup (ops.text.domain_quality_rollup)
        over the fetched documents' text spans, host-grained. Priority =
        the host's avg_score_e4 (integer fixed-point); hosts the rollup
        BLOCKS (mostly-junk) drop to 0 and only dequeue after every scored
        host. The reference has no content-driven scheduling (priority is
        user-set, RequestItem.coffee:178-186); at 100 TB this is the
        feedback loop that spends fetch budget on hosts yielding
        training-quality text instead of boilerplate farms. No-op before
        any documents exist."""
        from .ops.text import domain_quality_rollup

        if not self.catalog.exists(DOCUMENTS_TABLE):
            return
        text = F.array_join(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        )
        docs_text = self.documents().select(F.col("host"), text.alias("text"))
        rollup = domain_quality_rollup(
            docs_text, group_col="host", text_col="text", min_docs=min_docs
        )
        scores = rollup.select(
            "host",
            F.when(F.col("blocked"), F.lit(0))
            .otherwise(F.col("avg_score_e4"))
            .cast("long")
            .alias("score_fp"),
        )
        self.frontier.reprioritize_hosts(scores)

    def compact(self) -> None:
        """Maintenance: fold fast-appended frontier file sets back to one
        set per partition (catalog.compact). Run between crawls on
        long-lived frontiers; data and snapshot stats are unchanged.
        With ``expire_keep_last`` set, old snapshot versions past the
        retention window are deleted afterwards (expire_snapshots)."""
        from .frontier import FRONTIER_TABLE, URL_SEEN_TABLE

        self.catalog.compact(FRONTIER_TABLE)
        if self.catalog.exists(ROBOTS_TABLE):
            # robots rows are fast-appended per fetch wave; fold them too
            self.catalog.compact(ROBOTS_TABLE)
        keep = self.config.expire_keep_last
        if keep:
            for table in (FRONTIER_TABLE, URL_SEEN_TABLE, DOCUMENTS_TABLE, ROBOTS_TABLE):
                if self.catalog.exists(table):
                    self.catalog.expire_snapshots(table, keep_last=keep)

    def url_seen_urls(self) -> DataFrame:
        """The URL-seen set (SURVEY §2.8 contract #3): every URL ever
        scheduled/processed/visited, by canonical URL."""
        return self.frontier.read().select("url", "status", "wave", "depth")

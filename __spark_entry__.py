"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship crawl: it synthesizes a closed web corpus from the
sf0.001 ``documents`` table (each row becomes a page whose body interleaves
its text with deterministic links to other docs), seeds the frontier, runs
crawl waves through the full engine (robots → politeness dequeue → fetch →
span parse → Bloom-dedup → frontier merge) and returns the crawled documents.

``queries``/``oracle_sql`` expose the SURVEY §2 operator surface plus the
training-data pipeline ops (dedup / similarity / text analysis / multimodal
plumbing) over the driver testdata tables. Every oracle-checked query CALLS
THE kermit_spark LIBRARY (frontier.dequeue, Frontier.schedule, robots_gate,
ops.dedup/*, ops.text/*, ops.media.frame_sample, streaming batch ops,
metrics) with parameters whose semantics a DuckDB ANSI-SQL oracle can state
independently — the correctness gate certifies the engine code, not inline
re-implementations. Engine-only pipelines (full crawl wave, numpy-plane
LSH, stubbed media decode) are rows-only entries.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------------------
# build-once index caches (bench steady-state discipline, r3 VERDICT #2)
#
# The three index-backed queries (dedup_incremental, dedup_minhash_stream,
# ann_ivf_index) certify BOTH the build and the search path — but production
# builds an index once and amortizes it over many increments, so a bench
# that re-times the build on every run hides search-path regressions inside
# build noise. Within one process the FIRST call builds (so a single
# correctness run still exercises the build exactly as before); later calls
# reuse the persisted index and time only the steady-state search.
# bench.py runs these queries twice and reports cold (build+search) and
# warm (search-only) phases separately.
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[tuple, str] = {}

#: shared index parameters — single source for the query functions AND the
#: cache keys, so a parameter tweak can never silently reuse an index built
#: under different settings
_MINHASH_PARAMS = dict(k=5, num_hashes=8, num_bands=2, stride=4, max_bucket=50)
_IVF_PARAMS = dict(n_centroids=16)

#: which persisted index each index-backed query probes (kind, params) —
#: bench.py uses this via index_is_cached to label cold vs warm runs
_QUERY_INDEX = {
    "dedup_incremental": ("minhash", _MINHASH_PARAMS),
    "dedup_minhash_stream": ("minhash", _MINHASH_PARAMS),
    "ann_ivf_index": ("ivf", _IVF_PARAMS),
}


def _index_key(kind: str, sf_dir: str, params: dict | None) -> tuple:
    return (kind, sf_dir, tuple(sorted((params or {}).items())))


def index_is_cached(name: str, sf_dir: str) -> bool:
    """True when the persisted index the named query probes is already
    built in this process — a run timed now measures search only, not the
    one-time build (dedup_incremental and dedup_minhash_stream share the
    minhash index, so whichever runs second is warm from the start)."""
    kind, params = _QUERY_INDEX[name]
    return _index_key(kind, sf_dir, params) in _INDEX_CACHE


def _cached_index_dir(kind: str, sf_dir: str, build, params: dict | None = None) -> str:
    """Return a tmpdir holding the persisted index for (kind, sf_dir,
    params), building it via ``build(tmpdir)`` on first use. The build
    PARAMETERS are part of the key — two callers with different signature
    settings must never share an index (searches against signatures built
    under the wrong k/num_hashes would return wrong results, silently).
    Dirs live for the process (atexit-cleaned) — NOT across processes, so
    the driver's correctness gate always exercises a fresh build."""
    key = _index_key(kind, sf_dir, params)
    if key not in _INDEX_CACHE:
        tmp = tempfile.mkdtemp(
            prefix=f"kermit_idx_{kind}_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
        )
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        build(tmp)
        _INDEX_CACHE[key] = tmp
    return _INDEX_CACHE[key]


# ---------------------------------------------------------------------------
# flagship: crawl a corpus synthesized from the documents table
# ---------------------------------------------------------------------------


def _corpus_from_documents(spark: SparkSession, sf_dir: str, n_hosts: int = 8) -> DataFrame:
    """Turn the testdata documents table into a closed crawlable site graph:
    doc i lives at http://d{doc_id % n_hosts}.test/doc/{doc_id}.html and links
    to docs (i*7+1) % N and (i*13+3) % N — deterministic, no RNG."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    d = F.col("doc_id")
    host = F.concat(F.lit("d"), F.pmod(d, F.lit(n_hosts)).cast("string"), F.lit(".test"))
    url_of = lambda key: F.concat(  # noqa: E731
        F.lit("http://d"), F.pmod(key, F.lit(n_hosts)).cast("string"),
        F.lit(".test/doc/"), key.cast("string"), F.lit(".html"),
    )
    t1 = F.pmod(d * 7 + 1, F.lit(n))
    t2 = F.pmod(d * 13 + 3, F.lit(n))
    body = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p>"),
        F.lit('<a href="'), url_of(t1), F.lit('">next</a>'),
        F.lit('<a href="'), url_of(t2), F.lit('">related</a>'),
        F.lit("</body></html>"),
    )
    return docs.select(
        url_of(d).alias("url"),
        host.alias("host"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        body.alias("body"),
    )


def _run_crawl(spark: SparkSession, sf_dir: str, waves: int, budget: int) -> "object":
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness

    corpus = _corpus_from_documents(spark, sf_dir).cache()
    root = tempfile.mkdtemp(prefix="kermit_entry_", dir=os.environ.get("KERMIT_BENCH_TMPDIR"))
    cfg = CrawlConfig(
        num_partitions=8,
        politeness=Politeness((Limit(r".*", budget),)),
        max_waves=waves,
        obey_robots=True,
    )
    crawler = Crawler(spark, SnapshotCatalog(spark, root), CorpusFetcher(corpus), cfg)
    crawler.seed(["http://d0.test/doc/0.html"])
    crawler.crawl(waves)
    return crawler


def entry(spark: SparkSession) -> DataFrame:
    """Flagship crawl on /root/testdata/sf0.001; returns crawled documents
    with interleaved spans. Driver checks rows > 0 and stable schema."""
    crawler = _run_crawl(spark, "/root/testdata/sf0.001", waves=3, budget=25)
    return crawler.documents().select(
        "doc_id", "url", "host", "status", "content_type", "depth", "rank", "spans"
    )


# ---------------------------------------------------------------------------
# crawl-core operators (SURVEY §2) over URL-shaped testdata
# ---------------------------------------------------------------------------


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F8 canonicalization through the REAL library UDF: synthetic
    messy URLs (uppercase scheme/host, explicit default port) run through
    kermit_spark.functions.urls.normalize_urls (the Arrow-batched RFC 3986
    normalizer every frontier URL passes through); the oracle states the
    expected lowercase/port-stripped form in plain SQL."""
    from kermit_spark.functions.urls import normalize_urls

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    raw = F.concat(
        F.lit("HTTP://H"), F.pmod(F.col("o_custkey"), F.lit(50)).cast("string"),
        F.lit(".TEST:80/o/"), F.col("o_orderkey").cast("string"),
    )
    return (
        orders.select(F.col("o_orderkey").alias("okey"), normalize_urls(raw).alias("canon_url"))
        .orderBy("okey")
        .limit(1000)
    )


def q_frontier_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 URL-seen dedup through the REAL frontier: init a snapshot-backed
    frontier with the already-seen URLs, then Frontier.schedule the candidate
    batch (within-batch min_by dedup → Bloom prefilter → reverse-pruned exact
    anti-join → partitioned commit); the newly scheduled wave-1 rows are
    counted per host. Oracle: the same set algebra in SQL."""
    import tempfile

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.frontier import Frontier

    def url_of(okey):
        return F.concat(
            F.lit("http://h"), F.pmod(okey, F.lit(20)).cast("string"),
            F.lit(".test/o/"), okey.cast("string"),
        )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    seen = orders.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == 0).select(
        url_of(F.col("o_orderkey")).alias("url")
    )
    cand = li.select(url_of(F.col("l_orderkey")).alias("url"))
    tmp = tempfile.mkdtemp(prefix="kermit_corr_", dir=os.environ.get("KERMIT_BENCH_TMPDIR"))
    try:
        fr = Frontier(SnapshotCatalog(spark, tmp), num_partitions=8)
        fr.init(seen)
        fr.schedule(cand, wave=1)
        out = (
            fr.read()
            .filter(F.col("wave") == 1)
            .select(F.regexp_extract("host", r"h(\d+)", 1).cast("long").alias("host_id"))
            .groupBy("host_id")
            .agg(F.count("*").alias("n_new"))
            .orderBy("host_id")
        )
        # materialize the (≤ n_hosts-row) aggregate BEFORE deleting the temp
        # catalog the lazy plan reads from — the returned DataFrame must not
        # depend on the leaked directory (it used to leak one per call)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5/Q9 politeness dequeue through the REAL two-level top-k
    (frontier.dequeue): budget 3 per host, deterministic (priority DESC,
    url_hash ASC) order — the oracle is a plain ranking window."""
    from kermit_spark.frontier import Limit, Politeness, dequeue

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host_id = F.pmod(F.col("o_custkey"), F.lit(25)).cast("long")
    elig = orders.select(
        host_id.alias("host_id"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".test")).alias("host"),
        F.col("o_orderkey").alias("url_hash"),  # deterministic tiebreak key
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("wave"),
    )
    selected = dequeue(elig, Politeness((Limit(".*", 3),)))
    return (
        selected.select("host_id", F.col("rank").alias("rnk"), "okey", "priority")
        .orderBy("host_id", "rnk")
    )


def q_politeness_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority AGING through the REAL dequeue (frontier.dequeue_order with
    aging_rate): rows carry discovery waves 0..6, the dequeue runs at
    current_wave=10 with rate 2000, so effective priority =
    price + 2000·(10−wave) — old low-priority rows outrank fresh
    high-priority ones (starvation prevention). The oracle ranks by the
    identical double expression; rate 0 parity with the pure §2.8 order is
    pinned in pytest."""
    from kermit_spark.frontier import Limit, Politeness, dequeue

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host_id = F.pmod(F.col("o_custkey"), F.lit(25)).cast("long")
    elig = orders.select(
        host_id.alias("host_id"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".test")).alias("host"),
        F.col("o_orderkey").alias("url_hash"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("priority"),
        F.lit(0).alias("depth"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("int").alias("wave"),
    )
    selected = dequeue(
        elig, Politeness((Limit(".*", 3),)), aging_rate=2000, current_wave=10
    )
    return (
        selected.select(
            "host_id",
            F.col("rank").alias("rnk"),
            "okey",
            "priority",
            F.col("wave").cast("long").alias("wave"),
        ).orderBy("host_id", "rnk")
    )


def q_domain_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) politeness through the REAL dequeue with
    politeness_key=registrable_domain: 4 subdomain shards per site share ONE
    per-wave budget of 3 (Heritrix queue-assignment-policy analog; reference
    keys per URL-host, core.queues.coffee:70-80). Sites alternate a listed
    multi-label public suffix (.co.uk → keep 3 labels) and a plain TLD
    (.com → keep 2), so the oracle checks the eTLD+1 rules, the grouping,
    and the deterministic order in one query."""
    from kermit_spark.frontier import Limit, Politeness, dequeue
    from kermit_spark.functions.urls import registrable_domain

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    site = F.pmod(F.col("o_custkey"), F.lit(10)).cast("long")
    suffix = F.when(F.pmod(site, F.lit(2)) == 0, F.lit(".co.uk")).otherwise(F.lit(".com"))
    host = F.concat(
        F.lit("sh"), F.pmod(F.col("o_orderkey"), F.lit(4)).cast("string"),
        F.lit(".site"), site.cast("string"), suffix,
    )
    elig = orders.select(
        host.alias("host"),
        F.col("o_orderkey").alias("url_hash"),  # deterministic tiebreak key
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("wave"),
    )
    selected = dequeue(
        elig, Politeness((Limit(".*", 3),)),
        politeness_key=registrable_domain(F.col("host")),
    )
    return selected.select(
        registrable_domain(F.col("host")).alias("dom"),
        F.col("host"),
        F.col("rank").alias("rnk"),
        "okey",
        "priority",
    ).orderBy("dom", "rnk")


def q_phase_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 monitoring counters through kermit_spark.metrics.phase_stats:
    per-phase counts + duration stats."""
    from kermit_spark.metrics import phase_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return phase_stats(ev, phase_col="event_type", value_col="value").orderBy("phase")


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 robots gating through the REAL robots_gate (broadcast rules join
    + JVM first-matching-rule verdict over parse_url PATH): disallow rule
    '^/o/1' for every host with host_id % 5 == 2 — the anchored-regex form
    the RFC 9309 parser emits for the prefix rule '/o/1'."""
    from kermit_spark.robots import RULES_TYPE, robots_gate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host_id = F.pmod(F.col("o_custkey"), F.lit(25)).cast("long")
    urls = orders.select(
        host_id.alias("host_id"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".test")).alias("host"),
        F.concat(
            F.lit("http://h"), host_id.cast("string"), F.lit(".test/o/"),
            F.col("o_orderkey").cast("string"),
        ).alias("url"),
    )
    rules = spark.range(25).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".test")).alias("host"),
        F.when(
            F.pmod(F.col("id"), F.lit(5)) == 2,
            F.array(F.struct(F.lit("^/o/1").alias("pattern"), F.lit(False).alias("allow"))),
        )
        .otherwise(F.array().cast(RULES_TYPE))
        .alias("rules"),
    )
    return (
        robots_gate(urls, rules)
        .groupBy("host_id")
        .agg(F.count("*").alias("n_allowed"))
        .orderBy("host_id")
    )


def q_wave_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 wave assignment (BFS by link depth) through the REAL library
    operator (kermit_spark.ops.graph.bfs_depths — the engine's wave fixpoint
    with fetching stripped out): node i links to (7i+1)%M and (13i+3)%M;
    depth = first-discovery wave from seed node 0, capped at 6 waves.
    Oracle: recursive CTE."""
    from kermit_spark.ops.graph import bfs_depths

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = cust.count()
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                F.pmod(F.col("node") * 7 + 1, F.lit(m)),
                F.pmod(F.col("node") * 13 + 3, F.lit(m)),
            )
        ).alias("dst"),
    ).distinct()
    seeds = spark.createDataFrame([(0,)], "node long")
    seen = bfs_depths(edges, seeds, max_depth=6)
    return seen.groupBy("depth").agg(
        F.count("*").alias("n_nodes"), F.min("node").alias("min_node"), F.max("node").alias("max_node")
    ).orderBy("depth")


def q_link_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority scoring through the REAL library operator
    (kermit_spark.ops.graph.hits — integer fixed-point HITS with L1
    normalization, bit-reproducible like pagerank): top-100 authorities of
    a skewed synthetic link graph (bijection (11n+3) mod M spreads mass,
    funnel n mod 89 concentrates it on hub targets), 2 iterations,
    scale=10^6. Oracle: the identical integer recurrence unrolled as
    chained CTEs — raw in-sum, L1 scaling, raw out-sum, L1 scaling, twice."""
    from kermit_spark.ops.graph import hits

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = cust.count()
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                F.pmod(F.col("node") * 11 + 3, F.lit(m)),
                F.pmod(F.col("node"), F.lit(89)),
            )
        ).alias("dst"),
    ).distinct()
    scores = hits(edges, num_iters=2, scale=10**6)
    return scores.orderBy(
        F.col("auth_fp").desc(), F.col("node").asc()
    ).limit(100)


def q_link_opic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC crawl-priority scoring through the REAL library operator
    (kermit_spark.ops.graph.opic — integer fixed-point On-line Page
    Importance Computation, Abiteboul et al. WWW 2003, with the virtual-pot
    redistribution for dangling mass and division remainders): top-100
    nodes of a skewed synthetic link graph (bijection (13n+7) mod M
    spreads mass, funnel n mod 97 concentrates it) by accumulated history,
    3 rounds, scale=10^6. Oracle: the identical integer recurrence
    unrolled as chained MATERIALIZED CTEs — share/rem split, pot carry,
    in-edge sums, uniform base add — never the library's own output."""
    from kermit_spark.ops.graph import opic

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = cust.count()
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                F.pmod(F.col("node") * 13 + 7, F.lit(m)),
                F.pmod(F.col("node"), F.lit(97)),
            )
        ).alias("dst"),
    ).distinct()
    scores = opic(edges, num_iters=3, scale=10**6)
    return scores.orderBy(
        (F.col("hist_fp") + F.col("cash_fp")).desc(), F.col("node").asc()
    ).limit(100)


def q_link_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-spam demotion through the REAL library operator
    (kermit_spark.ops.graph.trustrank — integer fixed-point TrustRank,
    Gyöngyi et al. VLDB 2004: PageRank with teleport restricted to a
    trusted seed set): top-100 trusted nodes of a skewed synthetic graph
    (bijection (17n+5) mod M, funnel n mod 83) seeded with nodes < 20,
    3 rounds, d=0.85, scale=10^12. Oracle: the identical integer
    recurrence unrolled as chained MATERIALIZED CTEs."""
    from kermit_spark.ops.graph import trustrank

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = cust.count()
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                F.pmod(F.col("node") * 17 + 5, F.lit(m)),
                F.pmod(F.col("node"), F.lit(83)),
            )
        ).alias("dst"),
    ).distinct()
    seeds = nodes.filter(F.col("node") < 20)
    scores = trustrank(edges, seeds, num_iters=3, damping_pct=85, scale=10**12)
    return scores.orderBy(F.col("trust_fp").desc(), F.col("node").asc()).limit(100)


def _trust_stage_cte(k: int) -> str:
    """One TrustRank round for the DuckDB oracle: per-edge integer
    contributions summed over in-edges, damped, plus the seed-only
    teleport — ops.graph.trustrank's exact recurrence."""
    prev = f"tr{k - 1}"
    return f"""tin{k} AS MATERIALIZED (
                SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS inc
                FROM {prev} r
                JOIN t_deg d ON d.src = r.node
                JOIN t_edges e ON e.src = r.node
                GROUP BY e.dst
            ),
            tr{k} AS MATERIALIZED (
                SELECT n.node,
                       (n.is_seed * (SELECT tele FROM t_tele)
                        + (85 * coalesce(i.inc, 0)) // 100)::BIGINT AS rank
                FROM t_flag n LEFT JOIN tin{k} i USING (node)
            )"""


def _opic_stage_cte(k: int) -> str:
    """One OPIC round for the DuckDB oracle: integer share/remainder split
    against o_deg, pot carry and uniform base, in-edge share sums, then
    the new (cash, hist) state — the exact recurrence ops.graph.opic
    documents. MATERIALIZED pins linear evaluation of the chain."""
    prev, prevpot = f"os{k - 1}", f"ob{k - 1}" if k > 1 else "opot0"
    return f"""of{k} AS MATERIALIZED (
                SELECT s.node,
                       (CASE WHEN d.out > 0 THEN s.cash // d.out ELSE 0 END)::BIGINT AS share,
                       (CASE WHEN d.out > 0 THEN s.cash % d.out ELSE s.cash END)::BIGINT AS rem
                FROM {prev} s JOIN o_deg d USING (node)
            ),
            ob{k} AS MATERIALIZED (
                SELECT (carry // (SELECT n FROM o_n))::BIGINT AS base,
                       (carry % (SELECT n FROM o_n))::BIGINT AS pot
                FROM (SELECT (SELECT sum(rem) FROM of{k})
                             + (SELECT pot FROM {prevpot}) AS carry)
            ),
            oi{k} AS MATERIALIZED (
                SELECT e.dst AS node, sum(f.share)::BIGINT AS s
                FROM of{k} f JOIN o_edges e ON e.src = f.node
                GROUP BY e.dst
            ),
            os{k} AS MATERIALIZED (
                SELECT p.node,
                       (coalesce(i.s, 0) + (SELECT base FROM ob{k}))::BIGINT AS cash,
                       (p.hist + p.cash)::BIGINT AS hist
                FROM {prev} p LEFT JOIN oi{k} i USING (node)
            )"""


def q_url_trap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap gate through the REAL library rules
    (kermit_spark.filters.TrapRules.reason_expr — the pure-JVM URL-shape
    classifier the crawler applies at discovery admission): synthetic URLs
    in four shape families (long paths, deep paths, repeated segments,
    query-param explosions) with per-row size jitter so every rule fires on
    BOTH sides of its threshold. The oracle re-implements the classifier in
    SQL (list lambdas over split paths), never the generator labels."""
    from kermit_spark.filters import TrapRules

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    url = F.expr(
        "CASE CAST(o_orderkey % 4 AS INT) "
        "WHEN 0 THEN 'http://h' || CAST(o_custkey % 20 AS STRING) || '.test/p/' "
        "  || repeat('x', CAST(80 + o_orderkey % 60 AS INT)) "
        "WHEN 1 THEN 'http://h' || CAST(o_custkey % 20 AS STRING) || '.test/' "
        "  || repeat('a/b/', CAST(o_orderkey % 9 AS INT)) || 'p' "
        "WHEN 2 THEN 'http://h' || CAST(o_custkey % 20 AS STRING) || '.test/s/' "
        "  || repeat('loop/', CAST(o_orderkey % 5 AS INT)) || 'p' "
        "ELSE 'http://h' || CAST(o_custkey % 20 AS STRING) || '.test/p?' "
        "  || repeat('k=1&', CAST(o_orderkey % 12 AS INT)) || 'z=9' END"
    )
    rules = TrapRules(max_url_len=120, max_path_depth=12, max_query_params=8)
    return (
        orders.select(
            F.col("o_orderkey").alias("okey"),
            rules.reason_expr(url).alias("reason"),
        )
        .orderBy("okey")
        .limit(2000)
    )


def q_conditional_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional re-fetch (RFC 9110 revalidation) through the REAL
    CorpusFetcher: a batch whose rows carry stored ETag validators fetches
    against a corpus that declares current ETags — a matching validator
    revalidates as 304 with no body, a stale/absent one transfers the full
    200. The oracle restates the match rule in SQL."""
    from kermit_spark.fetch import CorpusFetcher

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    url = F.concat(
        F.lit("http://h"), F.pmod(F.col("o_custkey"), F.lit(20)).cast("string"),
        F.lit(".test/o/"), F.col("o_orderkey").cast("string"),
    )
    corpus = orders.select(
        url.alias("url"),
        F.lit(200).alias("status"),
        F.lit("text/plain").alias("content_type"),
        F.concat(F.lit("body "), F.col("o_orderkey").cast("string")).alias("body"),
        F.concat(
            F.lit('W/"'), F.pmod(F.col("o_orderkey"), F.lit(7)).cast("string"), F.lit('"')
        ).alias("etag"),
    )
    selected = orders.select(
        F.lit(0).alias("p"),
        F.xxhash64(url).alias("url_hash"),
        url.alias("url"),
        F.concat(F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(20)).cast("string"), F.lit(".test")).alias("host"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("referer"),
        F.lit(0).alias("wave"),
        F.lit(1).alias("rank"),
        # stored validator: absent for every 5th row, otherwise matches the
        # corpus ETag iff custkey and orderkey agree mod 7
        F.when(F.pmod(F.col("o_orderkey"), F.lit(5)) == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit('W/"'), F.pmod(F.col("o_custkey"), F.lit(7)).cast("string"), F.lit('"')
            )
        )
        .alias("etag"),
    )
    out = CorpusFetcher(corpus).fetch(selected)
    return (
        out.select(
            F.regexp_extract("url", r"/o/(\d+)", 1).cast("long").alias("okey"),
            F.col("status"),
            F.col("body").isNotNull().alias("has_body"),
        )
        .orderBy("okey")
        .limit(2000)
    )


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate re-crawl scheduling through the REAL library op
    (kermit_spark.frontier.recrawl_schedule): a synthetic fetch history —
    100 URLs × 5 waves from the documents table, where URL u's content
    version advances every (1 + u%6) waves — yields per-URL change counts
    and integerized revisit intervals (Cho & Garcia-Molina freshness,
    Laplace-smoothed), so fast-changing pages come due immediately and
    static ones back off to the cap. The oracle replays the identical
    history synthesis and integer estimator in SQL."""
    from kermit_spark.frontier import recrawl_schedule

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = F.pmod(F.col("doc_id"), F.lit(100))
    wave = F.floor(F.col("doc_id") / 100).cast("long")
    hist = docs.select(
        F.concat(F.lit("http://r.test/p/"), u.cast("string")).alias("url"),
        wave.alias("wave"),
        F.md5(
            F.concat(
                F.lit("v"),
                F.floor(wave / (1 + F.pmod(u, F.lit(6)))).cast("string"),
                F.lit("#"),
                u.cast("string"),
            )
        ).alias("content_hash"),
    )
    return recrawl_schedule(
        hist, current_wave=6, min_interval=1, max_interval=8
    ).orderBy("url")


def q_recrawl_cache_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9111 freshness driving the re-crawl schedule, through the REAL
    library ops (frontier.cache_floor_waves → recrawl_schedule's
    interval_floors): the q_recrawl_schedule history gets per-fetch
    response headers synthesized by URL class — max-age growing with the
    wave (latest-wins semantics), no-cache, s-maxage-beats-max-age, an
    Expires/Date pair (u%4 hours apart, exercising the HTTP-date parser),
    and no caching headers at all. The oracle never parses a header: it
    CONSTRUCTS the expected freshness per class from the same template,
    then replays the integer estimator with the floor fold — so drift in
    the engine's directive regexes, date parsing, latest-row pick or
    floor join all hash-mismatch."""
    from kermit_spark.frontier import cache_floor_waves, recrawl_schedule

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = F.pmod(F.col("doc_id"), F.lit(100))
    wave = F.floor(F.col("doc_id") / 100).cast("long")
    url = F.concat(F.lit("http://r.test/p/"), u.cast("string"))
    hist = docs.select(
        url.alias("url"),
        wave.alias("wave"),
        F.md5(
            F.concat(
                F.lit("v"),
                F.floor(wave / (1 + F.pmod(u, F.lit(6)))).cast("string"),
                F.lit("#"),
                u.cast("string"),
            )
        ).alias("content_hash"),
    )
    cls = u % 5
    cc = (
        F.when(cls == 0, F.concat(F.lit("max-age="), (600 * (wave + 1)).cast("string")))
        .when(cls == 1, F.lit("no-cache, private"))
        .when(
            cls == 2,
            F.concat(F.lit("s-maxage="), (1000 * (u + 1)).cast("string"), F.lit(", max-age=60")),
        )
    )
    expires = F.when(
        cls == 3,
        F.concat(F.lit("Thu, 02 Jan 2025 0"), (u % 4).cast("string"), F.lit(":00:00 GMT")),
    )
    date = F.when(cls == 3, F.lit("Thu, 02 Jan 2025 00:00:00 GMT"))
    fetches = docs.select(
        url.alias("url"),
        wave.alias("wave"),
        F.create_map(
            F.lit("cache-control"), cc, F.lit("expires"), expires, F.lit("date"), date
        ).alias("headers"),
    )
    floors = cache_floor_waves(fetches, seconds_per_wave=900)
    sched = recrawl_schedule(
        hist, current_wave=6, min_interval=1, max_interval=8, interval_floors=floors
    )
    return (
        sched.join(floors, "url", "left")
        .select(
            "url", "n_fetches", "n_changes", "interval_waves", "last_wave",
            "next_due", "overdue", "freshness_s", "floor_waves",
        )
        .orderBy("url")
    )


def q_parse_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint per-row invariant — span-sequence equality over
    (kind, text, media_ref, order) — as a HARD oracle row: HTML bodies are
    synthesized from the documents table by a fixed template interleaving
    two prose slices with an anchor (single-quoted href), an <img>
    (unquoted src) and a <link> (double-quoted href) — all three HTML5
    attribute-quoting forms — and parsed by the REAL engine surface
    (kermit_spark.parse.parse_documents → Arrow-batched span tokenizer).
    The oracle does not parse: it CONSTRUCTS the expected five-span
    sequence per document from the same template, so any tokenizer drift
    (kind order, offset numbering, whitespace collapse, quoting handling)
    hash-mismatches. Angle brackets/quotes are scrubbed from the prose on
    both sides so the template is the only markup."""
    parsed = _synth_parsed_documents(spark, sf_dir)
    return (
        parsed.select("orig_id", F.explode("spans").alias("s"))
        .select(
            F.col("orig_id").alias("doc_id"),
            F.col("s.offset").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )
        .orderBy("doc_id", "offset")
    )


#: Constructed five-span expectation for the fixed HTML template — shared
#: verbatim by the parse_spans (live tokenizer) and warc_reparse (archive
#: replay) oracles: one rule, both paths must land on it.
_PARSE_SPANS_ORACLE = """
            WITH d AS (
                SELECT doc_id,
                       trim(regexp_replace(substring(regexp_replace(text, '[<>"'']', ' ', 'g'), 1, 60), '\\s+', ' ', 'g')) AS t1,
                       trim(regexp_replace(substring(regexp_replace(text, '[<>"'']', ' ', 'g'), 61, 60), '\\s+', ' ', 'g')) AS t2
                FROM documents WHERE n_chars >= 140
            )
            SELECT doc_id, "offset", kind, text, media_ref FROM (
                SELECT doc_id, 0 AS "offset", 'text' AS kind, t1 AS text, NULL AS media_ref FROM d
                UNION ALL
                SELECT doc_id, 1, 'link', 'next ' || doc_id, '/n/' || (doc_id + 1) || '.html' FROM d
                UNION ALL
                SELECT doc_id, 2, 'media', NULL, '/img/' || (doc_id % 50) || '.png' FROM d
                UNION ALL
                SELECT doc_id, 3, 'resource', NULL, '/css/' || (doc_id % 7) || '.css' FROM d
                UNION ALL
                SELECT doc_id, 4, 'text', t2, NULL FROM d
            ) ORDER BY doc_id, "offset"
        """


def _synth_fetched_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw fetched rows carrying the fixed five-span HTML template over the
    documents table — shared by the direct-parse queries (via
    _synth_parsed_documents) and the WARC replay query (which round-trips
    the bodies through the archive before parsing)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("n_chars") >= 140)
        .select("doc_id", F.regexp_replace("text", "[<>\"']", " ").alias("t"))
    )
    body = F.concat(
        F.lit("<html><body><p>"), F.substring("t", 1, 60),
        F.lit("</p><a href='/n/"), (F.col("doc_id") + 1).cast("string"),
        F.lit(".html'>next "), F.col("doc_id").cast("string"),
        F.lit("</a><img src=/img/"), F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
        F.lit('.png><link href="/css/'), F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit('.css"><p>'), F.substring("t", 61, 60), F.lit("</p></body></html>"),
    )
    fetched = docs.select(
        F.col("doc_id"),
        F.lit(0).alias("p"),
        F.xxhash64(F.col("doc_id")).alias("url_hash"),
        F.concat(F.lit("http://h0.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("h0.test").alias("host"),
        F.lit(0).alias("wave"),
        F.lit(0).alias("rank"),
        F.lit(0).alias("depth"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        body.alias("body"),
    )
    return fetched.drop("doc_id")


def _synth_parsed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared by q_parse_spans / q_media_caption: the template fetched rows
    parsed by the REAL engine surface (parse.parse_documents →
    Arrow-batched span tokenizer)."""
    from kermit_spark.parse import parse_documents

    return parse_documents(_synth_fetched_html(spark, sf_dir)).withColumn(
        "orig_id",
        F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long"),
    )


def q_media_caption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved text+media alignment through the REAL library op
    (ops.media.media_caption_context): every media span paired with its
    nearest preceding and following prose spans — the image-text caption
    pairs a multimodal training pipeline consumes. Input spans come from
    the REAL tokenizer over the q_parse_spans HTML template (text, link,
    media, resource, text), so the pairing must skip the link/resource
    spans flanking the image. Pure higher-order array algebra — the plan
    is scan → generate → project with ZERO shuffles. The oracle constructs
    the expected pair per document from the same template."""
    from kermit_spark.ops.media import media_caption_context

    parsed = _synth_parsed_documents(spark, sf_dir)
    docs = parsed.select(F.col("orig_id").alias("doc_id"), "spans")
    return media_caption_context(docs).orderBy("doc_id", "offset")


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical URL consolidation (RFC 6596) through the REAL engine
    surface twice over: HTML bodies synthesized from the documents table
    declare <link rel=canonical> to their residue-group leader
    (doc_id - doc_id%3) in TWO forms — rel-first double-quoted
    (residue 1) and href-first single-quoted+unquoted-rel (residue 2,
    exercising the attribute-order fallback); leaders declare none — then
    parse_documents(html_meta=True) extracts canonical_href and
    ops.dedup.canonical_dedup keeps one representative per canonical
    group (the canonical page itself when crawled, else smallest URL —
    groups whose leader fell below the n_chars gate exercise that
    branch). The oracle constructs the expected group table from the same
    residue rule without parsing, so any extraction or representative
    -choice drift mismatches."""
    from kermit_spark.ops.dedup import canonical_dedup
    from kermit_spark.parse import parse_documents

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("n_chars") >= 140)
        .select("doc_id", F.regexp_replace("text", "[<>\"']", " ").alias("t"))
    )
    res = F.pmod(F.col("doc_id"), F.lit(3))
    canon = F.concat(
        F.lit("http://h0.test/d/"), (F.col("doc_id") - res).cast("string")
    )
    link = (
        F.when(res == 1, F.concat(F.lit('<link rel="canonical" href="'), canon, F.lit('">')))
        .when(res == 2, F.concat(F.lit("<link href='"), canon, F.lit("' rel=canonical>")))
        .otherwise(F.lit(""))
    )
    body = F.concat(
        F.lit("<html><body><p>"), F.substring("t", 1, 60), F.lit("</p>"),
        link,
        F.lit("<p>"), F.substring("t", 61, 40), F.lit("</p></body></html>"),
    )
    fetched = docs.select(
        F.lit(0).alias("p"),
        F.xxhash64(F.col("doc_id")).alias("url_hash"),
        F.concat(F.lit("http://h0.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("h0.test").alias("host"),
        F.lit(0).alias("wave"),
        F.lit(0).alias("rank"),
        F.lit(0).alias("depth"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        body.alias("body"),
    )
    parsed = parse_documents(fetched, html_meta=True).select(
        F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        "canonical_href",
    )
    return canonical_dedup(parsed).orderBy("canonical_url")


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text aggregation through the REAL library op
    (ops.graph.anchor_text_stats): per link target, inlink count, distinct
    source documents, and the most frequent anchor (ties → smallest).
    Input is a SKEWED synthetic link layer over the documents table — each
    doc links twice to its residue hub (doc_id % 50; anchors 'k{doc_id%7}'
    and 'dup') and once to the next page — so hubs aggregate ~2N/50 inlinks
    from N/50 docs and the top-anchor pick must actually discriminate
    frequencies and tie-breaks. Hrefs are pre-canonicalized (clean=False);
    the cleaning path is certified by CORR:url_canonicalize."""
    from kermit_spark.ops.graph import anchor_text_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("http://t.test/page/"), F.col("doc_id").cast("string")).alias("url"),
        F.array(
            F.struct(
                F.lit("link").alias("kind"),
                F.concat(F.lit("k"), F.pmod("doc_id", F.lit(7)).cast("string")).alias("text"),
                F.concat(F.lit("http://t.test/hub/"), F.pmod("doc_id", F.lit(50)).cast("string")).alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("link").alias("kind"),
                F.lit("dup").alias("text"),
                F.concat(F.lit("http://t.test/hub/"), F.pmod("doc_id", F.lit(50)).cast("string")).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("link").alias("kind"),
                F.lit("next").alias("text"),
                F.concat(F.lit("http://t.test/page/"), (F.col("doc_id") + 1).cast("string")).alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
    )
    return anchor_text_stats(docs, clean=False).orderBy("url")


def _synth_interleaved_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared by q_pack_interleaved / q_media_assets / q_interleaved_quality:
    VARIABLE-LENGTH interleaved span documents synthesized deterministically
    from the documents table (the input_hint shape: doc_id +
    spans array<struct<kind,text,media_ref,offset>>). Each doc yields
    nc = clamp(n_chars//40, 1, 12) 40-char text chunks; a media span follows
    chunk i when i%3==2 — and ALSO when i%3==1 for doc_id%7==0 (media-heavy
    docs, so the quality gate's ratio branch actually discriminates); one
    trailing link span exercises navigation dropping. The oracle constructs
    the identical spans via _INTERLEAVED_BASE_SQL — one rule, two engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    nc = F.least(
        F.greatest(F.floor(F.col("n_chars") / 40), F.lit(1)), F.lit(12)
    ).cast("long")
    heavy = F.pmod(F.col("doc_id"), F.lit(7)) == 0

    def text_span(i):
        return F.struct(
            F.lit("text").alias("kind"),
            F.col("text").substr((i * 40 + 1).cast("int"), F.lit(40)).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (i * 2).cast("int").alias("offset"),
        )

    def media_span(i):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(
                F.lit("/img/"), F.pmod(F.col("doc_id"), F.lit(50)).cast("string"),
                F.lit("_"), i.cast("string"), F.lit(".png"),
            ).alias("media_ref"),
            (i * 2 + 1).cast("int").alias("offset"),
        )

    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(0).cast("long"), nc - 1),
            lambda i: F.when(
                (i % 3 == 2) | (heavy & (i % 3 == 1)),
                F.array(text_span(i), media_span(i)),
            ).otherwise(F.array(text_span(i))),
        )
    )
    link = F.struct(
        F.lit("link").alias("kind"),
        F.lit("next").alias("text"),
        F.concat(F.lit("/n/"), (F.col("doc_id") + 1).cast("string")).alias("media_ref"),
        (nc * 2).cast("int").alias("offset"),
    )
    return docs.select("doc_id", F.concat(spans, F.array(link)).alias("spans"))


#: DuckDB twin of _synth_interleaved_docs: tspans/mspans CTEs with per-span
#: token cost (media excluded from tspans cost; links never materialized —
#: the ops drop or merely count them). Kept as ONE constant so all three
#: interleaved oracles share the synthesis rule.
_INTERLEAVED_BASE_SQL = r"""
            d AS (
                SELECT doc_id, text,
                       least(greatest(n_chars // 40, 1), 12)::BIGINT AS nc
                FROM documents
            ),
            idx AS (
                SELECT doc_id, text, nc,
                       unnest(generate_series(0, nc - 1)) AS i
                FROM d
            ),
            tspans AS (
                SELECT doc_id, (i*2)::INT AS off, 'text' AS kind,
                       substring(text, (i*40+1)::INT, 40) AS t
                FROM idx
            ),
            mspans AS (
                SELECT doc_id, (i*2+1)::INT AS off, 'media' AS kind,
                       '/img/' || (doc_id % 50) || '_' || i || '.png' AS ref
                FROM idx
                WHERE i % 3 = 2 OR (doc_id % 7 = 0 AND i % 3 = 1)
            ),
            tcost AS (
                SELECT doc_id, off, kind,
                       (CASE WHEN length(trim(t)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(t), '\s+'))
                        END)::BIGINT AS cost
                FROM tspans
            )
"""


def q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal training-sample packing through the REAL library op
    (ops.media.pack_interleaved): interleaved spans → fixed-token-budget
    samples (budget 16, media placeholder 8 tokens — small on purpose so
    every synthetic doc splits into several samples), spans atomic, links
    dropped, boundary rule = floor(cum_before/budget). The oracle replays
    the identical costing + window cumsum over the shared synthesis CTE."""
    from kermit_spark.ops.media import pack_interleaved

    docs = _synth_interleaved_docs(spark, sf_dir)
    return pack_interleaved(docs, budget=16, media_cost=8).orderBy(
        "doc_id", "seq_idx"
    )


def q_interleaved_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide span-level dedup through the REAL library op
    (ops.media.interleaved_span_dedup): over the shared interleaved
    synthesis, media refs repeat across every doc sharing doc_id%50 (and
    'next'-link text repeats everywhere with distinct targets), so the
    globally-first-occurrence keep rule and the dense offset re-index both
    discriminate. Output is the exploded post-dedup span sequence plus
    per-doc before/after counts (docs fully deduped away emit one
    null-span row via outer explode). Oracle: the identical key rules,
    first-occurrence window, and re-numbering over the shared synthesis
    CTE — one rule, two engines."""
    from kermit_spark.ops.media import interleaved_span_dedup

    docs = _synth_interleaved_docs(spark, sf_dir)
    out = interleaved_span_dedup(docs)
    return out.select(
        "doc_id", "n_spans_before", "n_spans_after",
        F.posexplode_outer("spans").alias("_p", "s"),
    ).select(
        "doc_id", "n_spans_before", "n_spans_after",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("span_text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("off"),
    ).orderBy("doc_id", "off")


def q_media_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-asset dedup through the REAL library op
    (ops.media.media_asset_stats): the fetch-once worklist over the
    synthetic interleaved corpus — assets are shared across every doc with
    the same doc_id%50 residue (and media-heavy doc_id%7==0 docs add extra
    refs), so n_refs/n_docs/first_doc all discriminate."""
    from kermit_spark.ops.media import media_asset_stats

    docs = _synth_interleaved_docs(spark, sf_dir)
    return media_asset_stats(docs).orderBy("media_ref")


def q_interleaved_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-document quality gate through the REAL library op
    (ops.media.interleaved_quality): prose-token floor 30, media-ratio cap
    0.35 — normal docs sit at ~25% media (kept when long enough), the
    doc_id%7==0 media-heavy docs at ~40% (rejected on ratio), short docs
    rejected on tokens, so BOTH branches of the gate discriminate. ppm
    quantization keeps the ratio bit-portable to the oracle."""
    from kermit_spark.ops.media import interleaved_quality

    docs = _synth_interleaved_docs(spark, sf_dir)
    return interleaved_quality(
        docs, min_text_tokens=30, max_media_ratio=0.35
    ).orderBy("doc_id")


def q_render_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-to-training-string rendering through the REAL library op
    (ops.media.render_interleaved): text spans trimmed, media spans as the
    <|image|> sentinel, links and blank text dropped, space-joined in span
    order — over the shared interleaved synthesis. The oracle re-renders
    with string_agg ORDER BY offset."""
    from kermit_spark.ops.media import render_interleaved

    docs = _synth_interleaved_docs(spark, sf_dir)
    return render_interleaved(docs).orderBy("doc_id")


def q_media_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gallery-run filtering through the REAL library op
    (ops.media.media_run_stats, max_run=2). The shared synthesis never
    places two media spans adjacently, so doc_id%4==0 docs get a
    (doc_id%3 + 2)-image gallery appended after the trailing link —
    runs of 2 keep, 3-4 drop, and the link between body and gallery
    proves non-media spans break runs."""
    from kermit_spark.ops.media import media_run_stats

    docs = _synth_interleaved_docs(spark, sf_dir)

    def gal_span(j):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(
                F.lit("/g/"), F.col("doc_id").cast("string"),
                F.lit("_"), j.cast("string"), F.lit(".png"),
            ).alias("media_ref"),
            (F.lit(1000) + j).cast("int").alias("offset"),
        )

    full = F.transform(F.sequence(F.lit(1), F.lit(4)), gal_span)
    g_len = (
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0,
               F.pmod(F.col("doc_id"), F.lit(3)) + 2)
        .otherwise(F.lit(0))
        .cast("int")
    )
    withgal = docs.select(
        "doc_id", F.concat(F.col("spans"), F.slice(full, F.lit(1), g_len)).alias("spans")
    )
    return media_run_stats(withgal, max_run=2).orderBy("doc_id")


def q_spans_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate span classification through the REAL library op
    (ops.media.classify_spans, default thresholds: token floor 4, stop
    density 10%, link-sandwich). The synthesis wraps each document's body
    chunks in realistic page chrome so every rule discriminates
    independently: a nav text span that passes length AND stop density but
    sits between two link spans (sandwich-only reject), a footer that is
    long enough but stopword-free (density-only reject), 40-char body
    chunks whose token counts and stop densities vary naturally (both
    accept and reject), and an empty trailing chunk for the token floor.
    The oracle replays the identical synthesis + integerized rules."""
    from kermit_spark.ops.media import classify_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    nc = F.least(
        F.greatest(F.floor(F.col("n_chars") / 40), F.lit(1)), F.lit(12)
    ).cast("long")

    def lit_text(s, off):
        return F.struct(
            F.lit("text").alias("kind"),
            F.lit(s).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    def link(ref, off):
        return F.struct(
            F.lit("link").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.lit(ref).alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    body = F.transform(
        F.sequence(F.lit(0).cast("long"), nc - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.col("text").substr((i * 40 + 1).cast("int"), F.lit(40)).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (i + 3).cast("int").alias("offset"),
        ),
    )
    spans = F.concat(
        F.array(
            link("/home", F.lit(0)),
            lit_text(_BOILER_NAV_TEXT, F.lit(1)),
            link("/about", F.lit(2)),
        ),
        body,
        F.array(lit_text(_BOILER_FOOTER_TEXT, nc + 3)),
    )
    synth = docs.select("doc_id", spans.alias("spans"))
    return classify_spans(synth).orderBy("doc_id", "offset")


#: chrome texts for q_spans_boilerplate — shared with the oracle builder.
#: nav: 9 tokens, 3 stopwords (333,333 ppm) → fails ONLY the sandwich rule;
#: footer: 6 tokens, 0 stopwords → fails ONLY the stop-density rule.
_BOILER_NAV_TEXT = "browse the site navigation bar and the index here"
_BOILER_FOOTER_TEXT = "Copyright Notice Inc All Rights Reserved"


def q_sitemap_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap <url> hint parsing through the REAL library op
    (kermit_spark.robots.sitemap_url_hints). Each doc synthesizes a
    sitemap with doc_id%3+1 url blocks covering every branch: lastmod
    present/absent (j parity), changefreq cycling daily/weekly/monthly/
    bogus (unknown → null interval), priority present/absent with e2
    integerization. The oracle derives the encoded rows directly —
    certifying the parser extracts exactly what was encoded."""
    from kermit_spark.robots import sitemap_url_hints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    nb = F.pmod(F.col("doc_id"), F.lit(3)) + 1
    freqs = F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly"), F.lit("bogus"))

    def block(j):
        freq = F.get(freqs, F.pmod(F.col("doc_id") + j, F.lit(4)).cast("int"))
        lastmod = F.when(
            j % 2 == 0,
            F.concat(F.lit("<lastmod>2024-01-0"), (j + 1).cast("string"), F.lit("</lastmod>")),
        ).otherwise(F.lit(""))
        prio = F.when(
            j % 3 != 2,
            F.concat(F.lit("<priority>0."), ((j + 1) * 25).cast("string"), F.lit("</priority>")),
        ).otherwise(F.lit(""))
        return F.concat(
            F.lit("<url><loc>http://s"), F.col("doc_id").cast("string"),
            F.lit(".com/p"), j.cast("string"), F.lit("</loc>"),
            lastmod,
            F.lit("<changefreq>"), freq, F.lit("</changefreq>"),
            prio,
            F.lit("</url>"),
        )

    body = F.concat(
        F.lit("<urlset>"),
        F.array_join(F.transform(F.sequence(F.lit(0).cast("long"), nb - 1), block), ""),
        F.lit("</urlset>"),
    )
    return sitemap_url_hints(docs.select("doc_id", body.alias("body"))).orderBy(
        "doc_id", "url_rank"
    )


def q_interleaved_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END multimodal curation through TWO composed library ops:
    chrome-wrapped interleaved docs → ops.media.strip_boilerplate (drops
    the link-sandwiched nav, the stopword-free footer, short/low-density
    body chunks, every link) → ops.media.render_interleaved (content text
    + <|image|> sentinels, span order). Single-chunk docs lose their only
    chunk to the sandwich rule (chrome link left, trailing link right) —
    the oracle replays that structural case plus the integerized
    token/stop-density rules."""
    from kermit_spark.ops.media import render_interleaved, strip_boilerplate

    docs = _synth_interleaved_docs(spark, sf_dir)

    def chrome_link(ref: str, off: int):
        return F.struct(
            F.lit("link").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.lit(ref).alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    def chrome_text(s: str, off: int):
        return F.struct(
            F.lit("text").alias("kind"),
            F.lit(s).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.array(
                chrome_link("/home", -3),
                chrome_text(_BOILER_NAV_TEXT, -2),
                chrome_link("/about", -1),
            ),
            F.col("spans"),
            F.array(chrome_text(_BOILER_FOOTER_TEXT, 9999)),
        ).alias("spans"),
    )
    return render_interleaved(strip_boilerplate(wrapped)).orderBy("doc_id")


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl prioritization by link importance through the REAL library
    operator (kermit_spark.ops.graph.pagerank — integer fixed-point
    PageRank, bit-reproducible across engines/partitionings): top-100 nodes
    of a SKEWED synthetic link graph, 3 iterations, d=0.85, scale=10^12.
    Skew is deliberate: edge 1 is a bijection ((7n+1) mod M, uniform mass),
    edge 2 funnels every node to its residue hub (n mod 97) — so nodes 0-96
    are hot hubs and the top-100 ordering actually discriminates rank
    arithmetic (a 2-regular graph would make every rank identical and the
    oracle vacuous). Oracle: the identical integer recurrence unrolled as
    chained CTEs."""
    from kermit_spark.ops.graph import pagerank

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = cust.count()
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                F.pmod(F.col("node") * 7 + 1, F.lit(m)),
                F.pmod(F.col("node"), F.lit(97)),
            )
        ).alias("dst"),
    ).distinct()
    ranks = pagerank(edges, num_iters=3, damping_pct=85, scale=10**12)
    return ranks.orderBy(F.col("rank_fp").desc(), F.col("node").asc()).limit(100)


def q_link_hostgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level crawl policy ranking through TWO composed library ops
    (ops.graph.host_graph → ops.graph.pagerank(weight_col=...)): page links
    synthesized over the customer table (host = key%37; edge A to the
    (7k+1)%M page — near-uniform host mixing; edge B to the k%97 hub page —
    weighted host-hub skew) roll up to (src_host, dst_host, n_links) via
    the engine's own host_of, intra-host edges dropped, then INTEGER
    weighted PageRank ranks the hosts (contrib = (rank*w) div sum_w, every
    op BIGINT — bit-reproducible). The oracle replays the rollup in SQL
    and unrolls the same weighted recurrence as chained CTEs."""
    from kermit_spark.ops.graph import host_graph, pagerank

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = cust.count()
    k = F.col("c_custkey").cast("long")

    def page_url(key):
        return F.concat(
            F.lit("http://h"), F.pmod(key, F.lit(37)).cast("string"),
            F.lit(".test/p/"), key.cast("string"),
        )

    links = cust.select(
        page_url(k).alias("referer"),
        F.explode(
            F.array(page_url(F.pmod(k * 7 + 1, F.lit(m))), page_url(F.pmod(k, F.lit(97))))
        ).alias("url"),
    )
    hedges = host_graph(links)
    ranks = pagerank(
        hedges,
        num_iters=3,
        src_col="src_host",
        dst_col="dst_host",
        weight_col="n_links",
    )
    return ranks.select(F.col("node").alias("host"), "rank_fp").orderBy(
        F.col("rank_fp").desc(), F.col("host").asc()
    )


# ---------------------------------------------------------------------------
# training-data ops: dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup through the REAL library op (hash-groupBy on the 16-byte
    digest, text never shuffled)."""
    from kermit_spark.ops.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        exact_dedup(docs, id_col="doc_id", text_col="text")
        .select(F.col("content_hash").alias("h"), "keep_id", "n_copies")
        .orderBy("keep_id")
    )


def _docs_with_mutants(docs: DataFrame) -> DataFrame:
    """Docs ∪ truncated copies (id+100000) — guarantees near-dup pairs so the
    MinHash/Jaccard queries exercise real collisions."""
    mut = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(F.col("text"), 1, 160).alias("text"),
    ).filter(F.length("text") >= 40)
    return docs.select("doc_id", "text").unionByName(mut)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard between each doc and its truncated mutant through the
    REAL library ops (shingles + ngram_jaccard pair verification)."""
    from kermit_spark.ops.dedup import ngram_jaccard, shingles

    docs = _docs_with_mutants(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    sh = docs.select(F.col("doc_id").alias("id"), shingles(F.col("text"), k=5).alias("shingles"))
    pairs = docs.filter(F.col("doc_id") >= 100000).select(
        (F.col("doc_id") - 100000).alias("a"), F.col("doc_id").alias("b")
    )
    return (
        ngram_jaccard(pairs, sh, "id")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "jaccard")
        .orderBy("doc_a")
    )


def q_dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through the REAL library op
    (ops.dedup.ngram_contamination): the truncated mutants play the eval
    set (every 10th), the original documents the training corpus; a
    training doc containing ≥ 80 % of an eval doc's 20-char shingles is
    contaminated — each mutant's true source is a guaranteed hit
    (containment 1.0), exact-duplicate corpus docs surface as extra hits.
    k=20 keeps shingles rare (the published decontamination recipes use
    8-13 TOKEN windows for the same reason — short shingles explode the
    join on stop-word grams); eval shingles are broadcast, and only
    genuinely-sharing (train, eval) pairs ever shuffle."""
    from kermit_spark.ops.dedup import ngram_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    evals = (
        _docs_with_mutants(docs)
        .filter((F.col("doc_id") >= 100000) & (F.pmod(F.col("doc_id"), F.lit(10)) == 0))
    )
    return ngram_contamination(
        docs, evals, id_col="doc_id", eval_id_col="doc_id", k=20, threshold=0.8
    ).orderBy("train_id", "eval_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs through the REAL library pipeline
    (add_minhash with stride-4 shingle sampling + lsh_candidates banding with
    the capped-bucket rule): 8 md5-min hashes, 2 bands × 4 rows. The md5-min
    family is engine-portable, so DuckDB reproduces the identical signatures,
    bands, cap, and pairs."""
    from kermit_spark.ops.dedup import add_minhash, lsh_candidates

    docs = _docs_with_mutants(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    sigs = add_minhash(
        docs.withColumnRenamed("doc_id", "id"), "text", k=5, num_hashes=8, stride=4
    )
    return lsh_candidates(
        sigs, "id", num_bands=2, rows_per_band=4, max_bucket=50
    ).orderBy("a", "b")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED MinHash LSH index through the
    REAL library ops (ops.dedup.build_minhash_index +
    minhash_index_near_dups): the corpus (documents) is indexed ONCE into
    catalog tables — bucket rows partitioned by band, shingle sets by id
    hash — then the increment (truncated mutants, id+100000) is deduped by
    joining its bucket rows against the index plus itself, with exact
    shingle-Jaccard verification. The corpus text is never rescanned at
    query time. Oracle: DuckDB recomputes both sides' md5-min signatures,
    applies the same per-side bucket caps, joins new×index ∪ new×new, and
    verifies Jaccard — never reading the library's index."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.ops.dedup import minhash_index_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.select(
        (F.col("doc_id") + 100000).alias("id"),
        F.substring(F.col("text"), 1, 160).alias("text"),
    ).filter(F.length("text") >= 40)
    params = _MINHASH_PARAMS
    # build-once cache (VERDICT r3 #2): the search is read-only, so repeat
    # calls within a process reuse the persisted index and time only the
    # amortized steady-state probe
    idx = _minhash_index_dir(spark, sf_dir, params)
    out = minhash_index_near_dups(
        SnapshotCatalog(spark, idx), new, threshold=0.0, **params
    ).orderBy("new_id", "match_id", "side")
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


def _minhash_index_dir(spark: SparkSession, sf_dir: str, params: dict) -> str:
    """Build-once persisted MinHash index over the documents table (shared
    by dedup_incremental and, via a per-call copy, dedup_minhash_stream —
    both use identical corpus + signature parameters)."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.ops.dedup import build_minhash_index

    def build(tmp: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        old = docs.select(F.col("doc_id").alias("id"), "text")
        build_minhash_index(SnapshotCatalog(spark, tmp), old, **params)

    return _cached_index_dir("minhash", sf_dir, build, params=params)


def q_dedup_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental near-dup dedup (streaming.stream_minhash_dedup:
    per-micro-batch query against the persisted MinHash index + survivor
    writeback) run as ONE availableNow batch — which makes the survivor
    set fully deterministic and hard-oracle-able, unlike scheduling-
    dependent multi-batch runs: survivors = increment docs with no
    index-match >= threshold and not the higher id of any batch pair >=
    threshold. Same signature parameters as dedup_incremental; the oracle
    replays signatures, caps, pairs, Jaccard, and the drop rule in SQL."""
    import uuid

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.streaming import stream_minhash_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(F.col("text"), 1, 160).alias("text"),
    ).filter(F.length("text") >= 40)
    params = _MINHASH_PARAMS
    tmp = tempfile.mkdtemp(prefix="kermit_smh_", dir=os.environ.get("KERMIT_BENCH_TMPDIR"))
    try:
        # the stream EXTENDS its index (survivor writeback), so each call
        # works on a cheap file-level COPY of the build-once pristine index
        # — the cached build is never mutated, results stay deterministic
        idx = _minhash_index_dir(spark, sf_dir, params)
        work = os.path.join(tmp, "idx")
        shutil.copytree(idx, work)
        cat = SnapshotCatalog(spark, work)
        feed = os.path.join(tmp, "feed")
        os.makedirs(feed)
        new.coalesce(1).write.mode("overwrite").json(feed)
        out = os.path.join(tmp, "out")
        q = stream_minhash_dedup(
            spark, cat, feed, os.path.join(tmp, f"ck_{uuid.uuid4().hex[:8]}"),
            out, threshold=0.5, id_col="doc_id", text_col="text", **params,
        )
        q.awaitTermination(240)
        surv = spark.read.parquet(out).select("doc_id", "text").orderBy("doc_id")
        rows = surv.collect()
        return spark.createDataFrame(rows, surv.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER canonicalization — the step after pair generation in
    a training-data dedup pipeline: minhash+LSH pairs (identical params to
    dedup_minhash_lsh) → connected components (ops.graph.connected_components
    min-label propagation) → one canonical doc per cluster, everything else
    flagged duplicate. The DuckDB oracle reproduces the pairs with the same
    CTE chain and closes the clusters with a recursive CTE."""
    from kermit_spark.ops.dedup import add_minhash, lsh_candidates
    from kermit_spark.ops.graph import canonicalize_near_dups

    docs = _docs_with_mutants(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    sigs = add_minhash(
        docs.withColumnRenamed("doc_id", "id"), "text", k=5, num_hashes=8, stride=4
    )
    pairs = lsh_candidates(sigs, "id", num_bands=2, rows_per_band=4, max_bucket=50)
    return canonicalize_near_dups(docs.select("doc_id"), pairs).orderBy("doc_id")


def q_link_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components through the REAL library op
    (ops.graph.connected_components_star — alternating large-star/small-star
    contraction, Kiveris et al. SoCC'14). The synthetic graph is chosen to be
    the shape min-label propagation CANNOT close in budget: path edges
    (n, n+37) give 37 chains of diameter ~N/37 (≈40 at sf0.01, growing with
    sf), where star contraction needs only O(log N) alternations. Oracle: a
    recursive-CTE closure + min-label group (engine-independent truth — it
    never replays the contraction)."""
    from kermit_spark.ops.graph import connected_components_star

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    m = int(cust.agg(F.max("c_custkey")).first()[0])
    nodes = cust.select(F.col("c_custkey").cast("long").alias("node"))
    pairs = nodes.filter(F.col("node") + 37 <= m).select(
        F.col("node").alias("a"), (F.col("node") + 37).alias("b")
    )
    cc = connected_components_star(pairs)
    # mirror the oracle's LEFT JOIN over ALL customers: an isolated node
    # (no ±37 neighbor — possible under sparse keys / tiny scale) labels
    # itself instead of silently vanishing from the result
    return (
        nodes.join(cc, "node", "left")
        .select("node", F.coalesce(F.col("component"), F.col("node")).alias("component"))
        .orderBy("node")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curation sampling through the REAL library ops
    (ops.sample): portable-hash Bernoulli keep at rate 1/2, then exact
    top-25 per source stratum (two-level window, lowest hash first). The
    48-bit md5-prefix hash is reproduced exactly by the DuckDB oracle via a
    digit-sum parse (< 2^53, double-exact)."""
    from kermit_spark.ops.sample import hash_sample, stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    kept = hash_sample(docs, "doc_id", 1, 2)
    return stratified_sample(kept, "source", "doc_id", k=25).orderBy("source", "doc_id")


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-paragraph removal through the REAL library op
    (ops.dedup.paragraph_dedup): documents are given a three-paragraph
    structure — a header shared within each doc_id%5 group, the document's
    own prose slice, and a footer shared by EVERY document — so the op must
    keep each shared paragraph only at its first (id, pos) occurrence and
    stitch survivors back in order. The footer survives only in the
    lowest doc_id; headers survive once per residue group."""
    from kermit_spark.ops.dedup import paragraph_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("shared header "), F.pmod("doc_id", F.lit(5)).cast("string"),
            F.lit("\n\n"), F.substring("text", 1, 80),
            F.lit("\n\nshared footer"),
        ).alias("text"),
    )
    return paragraph_dedup(docs, id_col="doc_id").orderBy("doc_id")


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing through the REAL library op
    (ops.sample.token_budget_sample): walk each source in deterministic
    (portable-hash, doc_id) order and keep documents while the preceding
    cumulative n_chars is < 4000 — the "N tokens per domain" mixing
    primitive. The engine runs the two-phase bucketed form (bounded windows,
    no full-stratum sort); the oracle is the naive single-window cumsum the
    contract is defined by."""
    from kermit_spark.ops.sample import token_budget_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    return token_budget_sample(
        docs, "source", "doc_id", "n_chars", budget=4000, num_buckets=8
    ).orderBy("source", "doc_id")


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022 rolling-window
    form) through the REAL library op (ops.dedup.substring_dup_spans):
    20-char windows hashed at every offset, hashes occurring in ≥2 distinct
    documents kept, per-document runs of overlapping duplicated windows
    merged into maximal (span_start, span_end) char ranges — the "cut these
    byte ranges" work-list of an exact-substring dedup pass. The DuckDB
    oracle replays the identical window/md5/island pipeline."""
    from kermit_spark.ops.dedup import substring_dup_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return substring_dup_spans(
        docs, id_col="doc_id", text_col="text", k=20, stride=1
    ).orderBy("doc_id", "span_start")


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical unicode/whitespace normalization through the REAL library
    op (ops.text.normalize_text): NFC-compose (Arrow-batched pandas UDF —
    DuckDB's nfc_normalize reproduces it exactly), strip control chars,
    collapse whitespace runs, trim. Documents are deliberately dirtied with
    a tab-indented lead, a combining-acute 'e'+U+0301 and a BEL control so
    every stage is exercised; the oracle builds the identical dirty text
    and shares CTRL_CHARS_RE / WS_RUN_RE with the engine."""
    from kermit_spark.ops.text import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("  lead\t"), F.col("text"), F.lit(" e\u0301\u0007  ")
        ).alias("text"),
    )
    return normalize_text(docs, id_col="doc_id").orderBy("doc_id")


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing through the REAL library op
    (ops.sample.temperature_sample): keep each doc of language stratum d
    with p_d = min(1, 0.5·N·n_d^0.7 / (Σn^0.7·n_d)) — the XLM-R/mT5 mixing
    rule that flattens the head language — decided deterministically by the
    portable 48-bit hash against p_d quantized to ppm. The oracle recomputes
    the per-stratum probabilities and the digit-sum hash exactly."""
    from kermit_spark.ops.sample import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    return temperature_sample(
        docs, "lang", "doc_id", alpha=0.7, target_frac=0.5
    ).select("doc_id", "lang", "p_ppm").orderBy("doc_id")


def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering through the REAL library op
    (ops.text.hashed_linear_score): a 64-bucket hashed-bag-of-words linear
    classifier with deterministic synthetic weights
    w(b) = (b·2654435761) mod 2001 − 1000 ppm, applied zero-shuffle over
    the documents table. The oracle re-hashes every token with the shared
    48-bit md5 fold and replays the same weight formula."""
    from kermit_spark.ops.text import hashed_linear_score

    n_buckets = 64
    weights = {b: (b * 2654435761) % 2001 - 1000 for b in range(n_buckets)}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return hashed_linear_score(
        docs, weights, n_buckets, id_col="doc_id"
    ).orderBy("doc_id")


def q_text_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier TRAINING through the REAL library op
    (ops.text.train_hashed_classifier): 3 batch-perceptron iterations over
    64 hashed bag-of-words buckets, labels = English-marker containment
    (lower(text) ~ '\\b(the|and)\\b'). All-integer updates make the trained
    weights bit-reproducible; the DuckDB oracle replays the identical
    recurrence with 3 unrolled CTE iterations (margin join → misclassified
    filter → per-bucket update sum) over the shared 48-bit md5 bucketing.
    Returns the nonzero final weights, ready for hashed_linear_score."""
    from kermit_spark.ops.text import train_hashed_classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "text",
        F.lower(F.col("text")).rlike(r"\b(the|and)\b").cast("int").alias("label"),
    )
    weights, _ = train_hashed_classifier(
        docs, 64, iterations=3, id_col="doc_id", track_errors=False
    )
    rows = sorted((int(b), int(w)) for b, w in weights.items())
    return spark.createDataFrame(rows, "bucket long, weight long")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-training-data curation workflow, end-to-end through
    the REAL library ops: language filter (detect_language == 'en') →
    quality filter (quality_features q_score ≥ 0.5) → exact dedup (every
    doc_id % 3 == 0 gets an exact copy at id+100000; exact_dedup keeps the
    lower id) → deterministic stratified sample (top-10 per source by
    portable hash). Proves the ops COMPOSE — the oracle reproduces the full
    chain in one SQL statement."""
    from kermit_spark.ops.dedup import exact_dedup
    from kermit_spark.ops.sample import stratified_sample
    from kermit_spark.ops.text import detect_language, quality_features

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    copies = base.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    )
    docs = base.unionByName(copies)
    feats = quality_features(docs).withColumn("lang", detect_language(F.col("text")))
    kept = feats.filter((F.col("lang") == "en") & (F.col("q_score") >= 0.5))
    keepers = exact_dedup(
        kept.select(F.col("doc_id").alias("id"), "text")
    ).select(F.col("keep_id").alias("doc_id"))
    surviving = kept.select("doc_id", "source").join(keepers, "doc_id")
    return stratified_sample(surviving, "source", "doc_id", k=10).orderBy(
        "source", "doc_id"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.99) through the REAL
    library op (ops.dedup.embedding_near_dups: md5-derived hyperplane sign
    buckets + exact in-bucket cosine verification — the 100 TB path, not an
    all-pairs join). The corpus is augmented with shifted twins (every
    component +0.01, vec_id+100000) so true near-dups exist; the DuckDB
    oracle reproduces the identical planes, buckets and scores."""
    from kermit_spark.ops.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    twins = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("v", lambda x: x + F.lit(0.01)).alias("v"),
    )
    vecs = base.unionByName(twins)
    return embedding_near_dups(
        vecs, id_col="vec_id", vec_col="v", threshold=0.99, num_planes=8
    ).orderBy("a", "b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs through the library pipeline (pure-JVM simhash
    with the portable md5 bit family, 4×16-bit banding, capped buckets,
    hamming verify) — fully oracle-checked: DuckDB reproduces the identical
    bits from md5 hex digits."""
    from kermit_spark.ops.dedup import simhash_candidates

    docs = _docs_with_mutants(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return simhash_candidates(
        docs.withColumnRenamed("doc_id", "id"), max_hamming=8
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# training-data ops: similarity search
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 8
    through the REAL library op (ops.similarity.brute_force_topk: queries
    broadcast, corpus scanned once, partial top-k) — rank at 6 decimals,
    ties by neighbor id; scores reported at 4 decimals."""
    from kermit_spark.ops.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.filter(F.col("id") < 8)
    return brute_force_topk(
        emb, queries, k=5, round_digits=4, rank_digits=6
    ).orderBy("query_id", "rnk")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the REAL library op (ops.similarity.ivf_topk): a
    deterministic md5-sampled coarse quantizer cells the corpus; queries
    probe their 4 nearest of 16 cells. Every float op mirrors the DuckDB
    oracle's fold order, so centroids, assignments, probes and scores are
    bit-identical — full parity for the data-adaptive ANN path."""
    from kermit_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.filter(F.col("id") < 8)
    return ivf_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4
    ).orderBy("query_id", "rnk")


def q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTENT IVF path (ops.similarity.build_ivf_index +
    ivf_index_topk): the corpus is written into catalog tables partitioned
    BY CELL, and the search reads only the probed cells (partition-pruned
    scan — no full-corpus join, no assignment recompute). Output is
    bit-identical to ivf_topk with the same parameters, so this row shares
    the SAME DuckDB oracle as ann_ivf_topk — certifying that the index
    round-trip changes the plan, never the answer."""
    import tempfile

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.ops.similarity import build_ivf_index, ivf_index_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.filter(F.col("id") < 8)
    # build-once cache (VERDICT r3 #2): ivf_index_topk is a read-only
    # partition-pruned probe, so repeat calls reuse the persisted index
    def build(tmp: str) -> None:
        build_ivf_index(SnapshotCatalog(spark, tmp), emb, **_IVF_PARAMS)

    idx = _cached_index_dir("ivf", sf_dir, build, params=_IVF_PARAMS)
    out = ivf_index_topk(
        SnapshotCatalog(spark, idx), queries, k=5, n_probe=4
    ).orderBy("query_id", "rnk")
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-dedup through the REAL library op
    (ops.similarity.semdedup): md5-sample centroids, argmax-cosine cell
    assignment, within-cell keep-lowest-id near-dup drop at cosine >=
    0.95 with the 200-row keeper-pool cap active. The oracle replays
    centroids, assignment, pool and pair verification with the exact
    Spark float fold."""
    from kermit_spark.ops.similarity import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semdedup(
        emb, n_clusters=16, threshold=0.95, id_col="vec_id", max_cluster=200
    ).orderBy("vec_id")


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection through the REAL library op
    (ops.similarity.random_projection, out_dim=8): md5-derived plane
    dots scaled by 1/sqrt(8), rounded to 6 digits. Exploded to
    (vec_id, j, comp) rows so the value compare covers every component;
    the oracle reuses the shared planes/dots CTEs with the identical
    float fold."""
    from kermit_spark.ops.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = random_projection(emb, out_dim=8, id_col="vec_id")
    return proj.select(
        "vec_id", F.posexplode("projected").alias("j", "comp")
    ).orderBy("vec_id", "j")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed multi-probe ANN through the REAL library op
    (ops.similarity.lsh_topk). The hyperplanes are md5-derived (engine-
    portable doubles), so a DuckDB oracle reproduces the exact buckets,
    probes, candidate sets and scores — full parity for the approximate
    index, not just a rows-only check."""
    from kermit_spark.ops.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.filter(F.col("id") < 8)
    return lsh_topk(emb, queries, k=5, num_planes=6).orderBy("query_id", "rnk")


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ ANN through the REAL library op
    (ops.similarity.ivf_pq_topk): IVF cell pruning (md5-sample coarse
    quantizer, 4 of 16 cells probed) multiplied by PQ asymmetric-distance
    scoring (4×16 codebooks) — the FAISS IVFPQ shape. Both halves reuse
    the exact helpers their standalone oracles certify, and this oracle
    composes the same two CTE chains, so candidates AND scores are
    bit-identical."""
    from kermit_spark.ops.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.filter(F.col("id") < 8)
    return ivf_pq_topk(
        emb, queries, k=5, n_centroids=16, n_probe=4, m=4, ks=16
    ).orderBy("query_id", "rnk")


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN through the REAL library ops
    (ops.similarity.pq_codebooks/pq_encode/pq_topk): md5-sampled codebooks
    split the 64-dim space into m=4 subspaces of 16 dims with ks=16 codes
    each; the corpus compresses to 4 small ints per row and queries search
    by asymmetric distance (table lookups, never raw corpus floats). Every
    float op is the same left fold the DuckDB oracle replays, so codebooks,
    codes, distance tables and ADC scores are bit-identical."""
    from kermit_spark.ops.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    queries = emb.filter(F.col("id") < 8)
    return pq_topk(emb, queries, k=5, m=4, ks=16).orderBy("query_id", "rnk")


# ---------------------------------------------------------------------------
# training-data ops: text analysis
# ---------------------------------------------------------------------------

def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID through the REAL library heuristic (lang_scores +
    detect_language over the canonical LANG_MARKERS constant; the oracle
    regexes are generated from the same constant)."""
    from kermit_spark.ops.text import LANG_MARKERS, detect_language, lang_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        detect_language(F.col("text")).alias("lang_pred"),
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
    ).orderBy("doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features through the REAL library op (quality_features uses
    the portable half-up rounding so the DuckDB oracle is bit-identical)."""
    from kermit_spark.ops.text import quality_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        quality_features(docs)
        .select(
            "doc_id",
            F.col("q_chars").alias("n_chars2"),
            F.col("q_tokens").alias("n_tokens"),
            F.col("q_alpha_ratio").alias("alpha_ratio"),
            F.col("q_punct_ratio").alias("punct_ratio"),
            F.col("q_stop_ratio").alias("stop_ratio"),
            "q_score",
        )
        .orderBy("doc_id")
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting through the REAL library fns (word regex + chars/4)."""
    from kermit_spark.ops.text import bpe_token_estimate, token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("word_tokens"),
        bpe_token_estimate(F.col("text")).alias("bpe_est"),
    ).orderBy("doc_id")


def q_text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition + word-shape quality rules (Rae et al. 2021 §A1.1)
    through the REAL library op (ops.text.gopher_features). Every fraction
    is integer arithmetic + one IEEE division rounded half-up, and the top
    n-gram tie-break is the documented (count, char-length, value) MAX — so
    the DuckDB oracle reproduces features AND the pass flag bit-for-bit."""
    from kermit_spark.ops.text import gopher_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return gopher_features(docs).orderBy("doc_id")


def q_text_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) through the REAL
    library op (ops.text.c4_clean). The word-soup corpus has no newlines
    or punctuation, so each doc synthesizes a page from fixed word slices:
    two-or-three prose lines that must survive (one quote-terminated every
    4th doc), a nav fragment with no terminal punctuation, a 3-word line
    (under the 5-word floor), a "javascript" banner every 5th doc, a
    "lorem ipsum" page-block every 11th and a "{" page-block every 13th;
    every 17th doc loses its third sentence and fails min_sentences. The
    oracle never re-runs the line predicates — it CONSTRUCTS the expected
    kept lines and flags from the same template, so any drift in the
    engine's terminal-punct / word-count / blockword / page-gate logic
    hash-mismatches."""
    from kermit_spark.ops.text import c4_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    line = lambda start: F.concat_ws(" ", F.slice(w, start, 6))  # noqa: E731
    syn = docs.select(
        "doc_id",
        F.concat(
            line(1), F.lit("."),
            F.lit("\nHome | About | Contact\n"),
            line(5),
            F.when(F.col("doc_id") % 3 == 0, F.lit("!")).otherwise(F.lit("?")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nPlease enable javascript to view the comments."),
            ).otherwise(F.lit("")),
            F.lit("\n"), F.concat_ws(" ", F.slice(w, 1, 3)), F.lit("."),
            F.when(F.col("doc_id") % 17 == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("\n"), line(3),
                    F.when(F.col("doc_id") % 4 == 0, F.lit('."')).otherwise(F.lit(".")),
                )
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\nlorem ipsum dolor")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit("\n{ leaked template code }")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        c4_clean(syn)
        .select(
            "doc_id", "text_clean", "n_lines", "n_kept_lines", "n_sentences",
            "has_block_0", "has_block_1", "c4_keep",
        )
        .orderBy("doc_id")
    )


_PII_INJECT = (
    " contact user{id}@example.com or 10.0.{oct}.7 card 4111111111111111 tel +1 555 0001942"
)


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction through the REAL library op (ops.text.redact_pii).
    The synthetic corpus carries no PII, so every third doc gets a
    deterministic identifier suffix injected — in the query AND the oracle
    — making counts and replacements non-vacuous. Patterns live in the
    single PII_PATTERNS constant; the oracle chain is generated from it."""
    from kermit_spark.ops.text import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 card 4111111111111111 tel +1 555 0001942"),
            ),
        ).otherwise(F.coalesce(F.col("text"), F.lit(""))),
    )
    return (
        redact_pii(injected)
        .select("doc_id", "n_email", "n_ipv4", "n_idnum", "n_phone", "text_redacted")
        .orderBy("doc_id")
    )


def q_text_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection through the REAL library op
    (ops.text.soft404_score). The synthetic corpus carries no error-page
    phrasing, so every fifth doc gets a full soft-404 block injected
    (3 marker families → flagged) and the %5==2 residue a single casual
    mention (an article ABOUT 404s → correctly NOT flagged at the default
    threshold 2) — in the query AND the oracle, generated from the one
    SOFT404_MARKERS constant."""
    from kermit_spark.ops.text import soft404_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base = F.coalesce(F.col("text"), F.lit(""))
    injected = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(base, F.lit(_SOFT404_FULL_BLOCK)),
        )
        .when(F.col("doc_id") % 5 == 2, F.concat(base, F.lit(_SOFT404_MENTION)))
        .otherwise(base),
    )
    return (
        soft404_score(injected)
        .select(
            "doc_id", "n_notfound", "n_gone", "n_missing", "n_gohome",
            "soft404_score", "is_soft404",
        )
        .orderBy("doc_id")
    )


#: injected texts for q_text_soft404 — shared with the oracle builder
_SOFT404_FULL_BLOCK = (
    " Page not found: this document does not exist. Return to the homepage."
)
_SOFT404_MENTION = " see our error 404 guide"


def q_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality rollup through the REAL library op
    (ops.text.domain_quality_rollup): integerized per-doc quality scores
    (e4 units) aggregated per source, low-quality ratio in ppm, and the
    block decision at min_docs=3 / max_low_ppm=400000 — thresholds chosen
    so the synthetic sources split into blocked and kept."""
    from kermit_spark.ops.text import domain_quality_rollup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    return domain_quality_rollup(
        docs, low_threshold=0.5, min_docs=3, max_low_ppm=400_000
    ).orderBy("source")


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal through the REAL library op
    (ops.text.dedupe_lines). The corpus text is single-line, so the query
    builds a lined variant with guaranteed duplicates — two 40-char chunks
    each appearing twice plus a blank separator — identically in the
    oracle; default min_chars=1 keeps blank-line duplicates."""
    from kermit_spark.ops.text import dedupe_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base = F.coalesce(F.col("text"), F.lit(""))
    c0 = F.substring(base, 1, 40)
    c1 = F.substring(base, 41, 40)
    lined = docs.select(
        "doc_id", F.concat_ws("\n", c0, c1, F.lit(""), c0, c1).alias("text")
    )
    return (
        dedupe_lines(lined)
        .select("doc_id", "text_deduped", "n_lines", "n_kept")
        .orderBy("doc_id")
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking through the REAL library op
    (ops.text.chunk_documents: 16-token windows, 4-token overlap, covered
    tail windows dropped) — same word/window definitions as the oracle's
    generate_series construction."""
    from kermit_spark.ops.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=16, overlap=4).orderBy("doc_id", "chunk_id")


def q_corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics through the REAL library op
    (ops.text.corpus_vocabulary): top-50 lowercased terms by total
    occurrences (ties by term), with document frequency; Gopher stopwords
    excluded — the oracle repeats the same exclusion list."""
    from kermit_spark.ops.text import corpus_vocabulary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return corpus_vocabulary(docs, top_k=50)


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing through the REAL library op
    (ops.text.pack_sequences, 256-token bins, sharded by source) — the
    inherently-sequential per-shard scan runs as applyInPandas; the DuckDB
    oracle replays the identical greedy recurrence as a recursive CTE."""
    from kermit_spark.ops.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "doc_id", "text"
    )
    return pack_sequences(docs, max_tokens=256, by="source").orderBy("source", "doc_id")


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC sink ROUND TRIP through the REAL archive writer/reader
    (kermit_spark.warc): documents become WARC/1.0 response records on
    disk (length-framed, parallel part files) and are parsed back by
    Content-Length. The query returns url/status/content_type plus
    md5(body) of the RE-READ rows, so the oracle (the same projection
    straight off the documents table) certifies byte-exact body fidelity
    through the archive format."""
    import shutil
    import tempfile

    from kermit_spark.warc import read_warc, write_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("http://w.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("wave"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        F.col("text").alias("body"),
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_warc_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        write_warc(docs.repartition(4), tmp)
        back = read_warc(spark, tmp)
        return (
            back.select(
                "url", "status", "content_type",
                F.md5(F.col("body")).alias("body_md5"),
            )
            .orderBy("url")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index + RANDOM-ACCESS read through the REAL archive layer
    (kermit_spark.warc): documents are archived to WARC, build_cdx scans
    the files once into (surt_key, filename, offset, length, digest) rows,
    and EVERY record is then fetched back via read_warc_at — one
    seek+read of exactly [offset, offset+length) per record, the Common
    Crawl cdx → ranged-GET access pattern. The oracle restates url, SURT
    key, status and body md5 straight off the documents table, so a single
    byte of offset error anywhere fails the hash."""
    import shutil
    import tempfile

    from kermit_spark.warc import build_cdx, read_warc_at, surt_key, write_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("http://w.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("wave"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        F.col("text").alias("body"),
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_cdx_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        write_warc(docs.repartition(4), tmp)
        cdx = build_cdx(spark, tmp)
        back = read_warc_at(spark, cdx)
        return (
            back.select(
                surt_key(F.col("url")).alias("surt_key"),
                "url",
                "status",
                F.md5(F.col("body")).alias("body_md5"),
            )
            .orderBy("url")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_warc_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOREIGN/BINARY archive ingestion (r5): a per-record-gzip .warc.gz
    corpus with NON-UTF-8 bodies — 16 raw md5 bytes plus a latin-1 'café'
    tail per document, i.e. bytes that are not valid UTF-8 — is
    written through the REAL Common-Crawl-framed sink (write_warc_gz: one
    gzip MEMBER per record), indexed with build_cdx (offset/length
    = the member's COMPRESSED coordinates) and every record fetched back
    via read_warc_at: one seek+read + one-member gunzip per record,
    the Range-GET access pattern of the .warc.gz ecosystem. The query
    returns hex(body) of the RANGED re-read, so the oracle (hex restated
    from doc_id) certifies bit-exact binary fidelity through compression,
    framing, indexing and the ranged read."""
    import shutil
    import tempfile

    from kermit_spark.warc import build_cdx, read_warc_at, write_warc_gz

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("http://wb.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("wave"),
        F.lit(200).alias("status"),
        F.lit("application/octet-stream").alias("content_type"),
        F.concat(
            F.unhex(F.md5(F.col("doc_id").cast("string"))),
            F.lit(b"caf\xe9"),
        ).alias("body"),
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_warcbin_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        write_warc_gz(docs.repartition(4), tmp)
        cdx = build_cdx(spark, tmp)
        back = read_warc_at(spark, cdx)
        return (
            back.select(
                "url", "status", "content_type",
                F.hex(F.col("body")).alias("body_hex"),
            )
            .orderBy("url")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_warc_wet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET extracted-text export ROUND TRIP through the REAL conversion
    sink (kermit_spark.warc.write_wet/read_wet): the shared interleaved
    synthesis is written as WARC/1.0 conversion records (visible text =
    text-span bodies + link anchors in span order, newline-joined,
    whitespace-only entries dropped — the Common Crawl .wet rule) and
    parsed back by Content-Length. The oracle re-derives the same text
    with an ordered string_agg over the synthesis CTE, so the hash
    certifies both the extraction rule and byte fidelity through the
    format."""
    import shutil
    import tempfile

    from kermit_spark.warc import read_wet, write_wet

    docs = _synth_interleaved_docs(spark, sf_dir).select(
        F.concat(F.lit("http://w.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("wave"),
        F.col("spans"),
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_wet_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        write_wet(docs.repartition(4), tmp)
        return (
            read_wet(spark, tmp)
            .select("url", F.md5(F.col("text")).alias("text_md5"))
            .orderBy("url")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_warc_reparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive REPLAY re-extraction through the REAL surfaces end-to-end
    (warc.write_warc → warc.documents_from_warc → parse.parse_documents):
    the five-span HTML template bodies are archived as WARC/1.0 response
    records, then parsed back into documents rows WITHOUT re-fetching —
    the Common Crawl run-a-new-extractor-over-old-WARCs workflow. The
    oracle is the same constructed five-span expectation as parse_spans,
    so the hash certifies byte fidelity through the archive AND tokenizer
    equivalence between the live and replay paths in one row."""
    import shutil
    import tempfile

    from kermit_spark.warc import documents_from_warc, write_warc

    fetched = _synth_fetched_html(spark, sf_dir).select(
        "url", F.col("wave"), "status", "content_type", "body"
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_reparse_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        write_warc(fetched.repartition(4), tmp)
        replayed = documents_from_warc(spark, tmp).withColumn(
            "orig_id", F.regexp_extract("url", r"/d/(\d+)$", 1).cast("long")
        )
        return (
            replayed.select("orig_id", F.explode("spans").alias("s"))
            .select(
                F.col("orig_id").alias("doc_id"),
                F.col("s.offset").alias("offset"),
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"),
            )
            .orderBy("doc_id", "offset")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_warc_wat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata export ROUND TRIP through the REAL sink
    (kermit_spark.warc.write_wat/read_wat): the shared interleaved
    synthesis becomes WARC-Type: metadata records whose canonical-JSON
    payload carries the fetch facts + ordered outlink refs (what
    link-graph consumers read instead of bodies), parsed back by
    Content-Length. The oracle re-derives the outlink sequence (media
    refs + the trailing link target, span order) from the synthesis
    CTE."""
    import shutil
    import tempfile

    from kermit_spark.warc import read_wat, write_wat

    docs = _synth_interleaved_docs(spark, sf_dir).select(
        F.concat(F.lit("http://w.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(0).alias("wave"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        F.col("spans"),
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_wat_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        write_wat(docs.repartition(4), tmp)
        return (
            read_wat(spark, tmp)
            .select(
                "url",
                "status",
                "content_type",
                F.size("outlinks").cast("long").alias("n_out"),
                F.md5(F.array_join("outlinks", "\n")).alias("links_md5"),
            )
            .orderBy("url")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_catalog_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot read (Iceberg incremental-scan / CDC analog)
    through the REAL catalog (SnapshotCatalog.read_incremental): snapshot 0
    holds doc_id%3==0 rows; commit 1 fast-APPENDS doc_id%3==1 rows; commit 2
    copy-on-write REWRITES partitions {0,1} marking even doc_ids' lang with
    '!'. read_incremental(from=0) must return exactly the appended rows plus
    the genuinely changed rewritten rows — resolved from the file manifest
    (unchanged partitions are never scanned; pinned by
    tests/test_catalog.py inputFiles assertions). The oracle restates the
    expected delta in plain SQL over the same modular arithmetic."""
    import shutil
    import tempfile

    from kermit_spark.catalog import SnapshotCatalog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("int").alias("p"),
        "lang",
    )
    marked = base.withColumn(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, F.concat(F.col("lang"), F.lit("!")))
        .otherwise(F.col("lang")),
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_inc_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        cat = SnapshotCatalog(spark, tmp)
        cat.create("docs", base.filter(F.col("doc_id") % 3 == 0), 8)
        cat.merge_write(
            "docs", base.filter(F.col("doc_id") % 3 == 1), replace_parts=()
        )
        rewrite = marked.filter(
            F.col("p").isin(0, 1) & (F.col("doc_id") % 3 != 2)
        )
        cat.merge_write("docs", rewrite, replace_parts=[0, 1])
        return (
            cat.read_incremental("docs", from_snapshot=0)
            .select("doc_id", "lang", "p")
            .orderBy("doc_id")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export ROUND TRIP through the REAL sink
    (kermit_spark.export): pack the documents table into 2048-token shards
    (sized so the hive layout stays at ~hundreds of directories at bench
    scale — tiny-shard explosion is a filesystem cost, not an engine one),
    write them as hive-partitioned parquet, read them BACK, and rebuild the
    per-shard manifest from the files on disk — so the oracle (the
    text_pack recursive CTE aggregated per bin) certifies not just the bin
    assignment but that the written shards round-trip losslessly."""
    import shutil
    import tempfile

    from kermit_spark.export import export_training_shards, read_training_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", "doc_id", "text"
    )
    tmp = tempfile.mkdtemp(
        prefix="kermit_shards_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        export_training_shards(docs, tmp, max_tokens=2048)
        back = read_training_shards(spark, tmp)
        # partition-column inference reads bin_id back as int; the manifest
        # contract (pack_sequences) is long
        back = back.withColumn("bin_id", F.col("bin_id").cast("long"))
        return (
            back.groupBy("source", "bin_id")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .orderBy("source", "bin_id")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_export_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-shard export through the REAL sink pipeline
    (export.build_token_vocab → tokens_to_ids → export_token_shards): the
    documents tokenize to lowercased words, get frequency-ranked vocab
    ids, and land in Megatron-style .bin shards + a parquet index. The
    returned INDEX (shard_id, doc_id, offset, n_tokens) is fully
    engine-portable — shard = pmod(hash48(doc_id), n_shards) on the
    digit-sum md5 hash, offsets = per-shard doc_id-ordered cumsum — so the
    DuckDB oracle replays it exactly without reading a byte of .bin (the
    binary bytes + read-back equality are pytest-certified)."""
    import shutil
    import tempfile

    from kermit_spark.export import (
        build_token_vocab,
        export_token_shards,
        tokens_to_ids,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id",
        F.expr(
            "filter(split(lower(coalesce(text, ''))," + r" '\\s+'), w -> length(w) > 0)"
        ).alias("tokens"),
    )
    vocab = build_token_vocab(toks)
    ids = tokens_to_ids(toks, vocab)
    tmp = tempfile.mkdtemp(
        prefix="kermit_tokens_", dir=os.environ.get("KERMIT_BENCH_TMPDIR")
    )
    try:
        idx = export_token_shards(ids, tmp, tokens_per_shard=1 << 15, dtype="uint32")
        return (
            idx.select(
                F.col("shard_id").cast("long").alias("shard_id"),
                "doc_id",
                "offset",
                F.col("n_tokens").cast("long").alias("n_tokens"),
            )
            .orderBy("doc_id")
            .localCheckpoint()  # materialize before the temp dir is removed
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF through the REAL library op (ops.text.tfidf_terms,
    smoothed-idf, portable half-up rounding); corpus size rides the plan as
    a broadcast one-row count. The oracle repeats tf * (ln((N+1)/(df+1))+1)
    with explicit DOUBLE casts (DuckDB '/' on integers is integer
    division)."""
    from kermit_spark.ops.text import tfidf_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return tfidf_terms(docs, min_df=2).orderBy("doc_id", "term")


def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM quality scoring through the REAL library op
    (ops.text.unigram_logprob — the KenLM-perplexity stand-in of CCNet-
    style curation): per-doc average negative log-likelihood under the
    corpus's own unigram distribution, term-order folded and half-up
    rounded so scores are bit-identical to the oracle's list_reduce over
    the same ln() arithmetic."""
    from kermit_spark.ops.text import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return unigram_logprob(docs).orderBy("doc_id")


def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch through the REAL library ops
    (ops.sketch.cms_build + cms_estimate, portable md5 cell family): a
    skewed host stream from lineitem (one mega-host at ~1/3 of rows over a
    200-host tail) is sketched into a 4×4096 grid, then probed for a hot
    host, two tail hosts, and an absent host. Oracle: the identical grid
    sums and min-over-rows probe in SQL ('0x'-cast hex cells)."""
    from kermit_spark.ops.sketch import cms_build, cms_estimate

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    key = F.when(F.col("l_orderkey") % 3 == 0, F.lit("hot.test")).otherwise(
        F.concat(F.lit("h"), (F.col("l_orderkey") % 200).cast("string"), F.lit(".test"))
    )
    cms = cms_build(li.select(key.alias("key")), "key", depth=4, width_digits=3)
    probe = spark.createDataFrame(
        [("hot.test",), ("h7.test",), ("h13.test",), ("absent.test",)], "key string"
    )
    return cms_estimate(cms, probe, "key", depth=4, width_digits=3).orderBy("key")


def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table through the REAL library op
    (ops.sketch.hll_registers, m=256, 12 rho digits): distinct synthetic
    URLs from orders (with deliberate duplicates via pmod so cardinality <
    row count). The REGISTERS are the oracled artifact — bit-identical
    integer maxima; the float estimate is covered by pytest accuracy
    bounds. Oracle: same bucket parse and 49-minus-bit-length rho in SQL."""
    from kermit_spark.ops.sketch import hll_registers

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    key = F.concat(
        F.lit("http://h"), (F.col("o_orderkey") % 97).cast("string"),
        F.lit(".test/o/"), (F.col("o_orderkey") % 4000).cast("string"),
    )
    return hll_registers(orders.select(key.alias("key")), "key").orderBy("bucket")


def _hll_oracle_sql() -> str:
    # 49 - bit_length(v) via a generated comparison cascade (exact integers)
    bitlen = "CASE " + " ".join(
        f"WHEN v >= {1 << (47 - i)} THEN {48 - i}" for i in range(48)
    ) + " ELSE 0 END"
    return f"""
            WITH k AS (
                SELECT md5('http://h' || (o_orderkey % 97)::VARCHAR
                           || '.test/o/' || (o_orderkey % 4000)::VARCHAR) AS h
                FROM orders
            ),
            r AS (
                SELECT ('0x' || substring(h, 1, 2))::BIGINT::INT AS bucket,
                       ('0x' || substring(h, 3, 12))::BIGINT AS v
                FROM k
            )
            SELECT bucket,
                   max(CASE WHEN v = 0 THEN 49 ELSE 49 - ({bitlen}) END)::INT AS max_rho
            FROM r GROUP BY bucket ORDER BY bucket
        """


#: q_sketch_hdr's synthetic long-tail latency (ms) — ONE SQL string, valid
#: in BOTH engines, so the workload definition can't drift between them:
#: most rows land in [0, 2e6) spanning ~15 octaves; every 997th order is a
#: pathological 16384× straggler (the p99.9 tail the sketch exists for).
_HDR_VALUE_SQL = (
    "CASE WHEN l_orderkey % 997 = 0 "
    "THEN ((l_orderkey * l_linenumber) % 2000000) * 16384 "
    "ELSE (l_orderkey * l_linenumber) % 2000000 END"
)
_HDR_QS = (10_000, 250_000, 500_000, 750_000, 900_000, 990_000, 999_000, 1_000_000)


def q_sketch_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantile sketch through the REAL library ops
    (ops.sketch.hdr_build + hdr_quantiles): synthetic long-tail fetch
    latencies derived from lineitem are folded into the bounded
    octave×sub-bucket cell table, then p1..p100 nearest-rank quantiles are
    read back from the cumulative cell walk. Everything is exact integer
    bit algebra (comparison-cascade octave shift — no log()), so the
    oracle replays the identical cells, ranks and lower-bound reps in SQL,
    generated from the same HDR_THRESHOLDS constant."""
    from kermit_spark.ops.sketch import hdr_build, hdr_quantiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sk = hdr_build(li.select(F.expr(_HDR_VALUE_SQL).alias("value")))
    return hdr_quantiles(sk, _HDR_QS).orderBy("q_ppm")


def _hdr_oracle_sql() -> str:
    from kermit_spark.ops.sketch import _hdr_shift

    shift = _hdr_shift("v")
    values = ", ".join(f"({q})" for q in _HDR_QS)
    return f"""
            WITH vals AS (
                SELECT ({_HDR_VALUE_SQL})::BIGINT AS v FROM lineitem
            ),
            cells AS (
                SELECT {shift} AS shift, v >> {shift} AS sub,
                       count(*)::BIGINT AS n
                FROM vals WHERE v IS NOT NULL AND v >= 0
                GROUP BY 1, 2
            ),
            cum AS (
                SELECT (sub << shift) AS rep,
                       sum(n) OVER (ORDER BY (sub << shift)) AS cum
                FROM cells
            ),
            tot AS (SELECT sum(n)::BIGINT AS n_total FROM cells),
            ranks AS (
                SELECT q.q_ppm,
                       1 + (q.q_ppm * (t.n_total - 1)) // 1000000 AS rank
                FROM (VALUES {values}) AS q(q_ppm), tot t
            )
            SELECT r.q_ppm::BIGINT AS q_ppm, min(c.rep)::BIGINT AS est
            FROM ranks r JOIN cum c ON c.cum >= r.rank
            GROUP BY r.q_ppm ORDER BY r.q_ppm
        """


def q_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketch through the REAL library ops
    (ops.sketch.kmv_build + kmv_distinct_estimate, portable 48-bit md5
    family): synthetic URL keys from orders fold into 8 per-group bottom-64
    hash sets plus one deliberately tiny group (o_orderkey%1000==0) that
    never fills its sketch, so BOTH estimator branches run — exact count
    below k, integer (k-1)·2^48/h_k at k. The estimate is integer-division
    arithmetic end-to-end (no doubles), so the oracle replays it exactly:
    same hashes, same row_number bottom-k, same `//`."""
    from kermit_spark.ops.sketch import kmv_build, kmv_distinct_estimate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = orders.select(
        F.when(F.col("o_orderkey") % 1000 == 0, F.lit("tiny"))
        .otherwise(F.concat(F.lit("g"), (F.col("o_orderkey") % 8).cast("string")))
        .alias("group"),
        F.concat(
            F.lit("http://h"), (F.col("o_orderkey") % 97).cast("string"),
            F.lit(".test/o/"), (F.col("o_orderkey") % 1500).cast("string"),
        ).alias("key"),
    )
    sk = kmv_build(rows, k=64)
    return kmv_distinct_estimate(sk, k=64).orderBy("group")


def q_host_mirror_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-host detection through the REAL library ops
    (ops.sketch.kmv_build + kmv_pair_jaccard — Bharat & Broder mirror
    candidates over coordinated bottom-k samples): synthetic per-host
    content keys from documents give hosts h and h+10 identical (or
    near-identical, at doc_id range edges) page sets while all other host
    pairs stay disjoint, so exactly the ten mirror pairs surface. The
    oracle replays the whole pipeline relationally: same 48-bit hashes,
    bottom-64 per host, bucket cap at 50, ≥2-shared-hash candidates, and
    the bottom-k-of-union Jaccard estimator via rank/join set algebra."""
    from kermit_spark.ops.sketch import kmv_build, kmv_pair_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias("group"),
        F.concat(
            F.lit("p"), (F.col("doc_id") % 10).cast("string"),
            F.lit("_"), F.expr("div(doc_id, 20)").cast("string"),
        ).alias("key"),
    )
    sk = kmv_build(rows, k=64)
    return kmv_pair_jaccard(sk, k=64, min_shared=2, max_bucket=50).orderBy(
        "group_a", "group_b"
    )


#: injected per-residue multilingual/mojibake texts — ONE constant feeds the
#: Spark synthesis AND the generated DuckDB oracle (LANG_MARKERS discipline)
_SCRIPT_SAMPLES = {
    1: "Привет мир это тест кириллицы сегодня вечером",
    2: "مرحبا بالعالم هذا اختبار عربي قصير",
    3: "日本語のテキストと漢字が混ざっている試験",
}
_MOJI_TAIL = " Ã© Ã¨ Â\u00a0 broken \ufffd\ufffd"


def q_text_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling + mojibake gating through the REAL library
    op (ops.text.script_profile): documents with per-residue injected
    cyrillic/arabic/CJK texts and UTF-8-as-Latin-1 mojibake tails, so every
    script family and the mojibake gate discriminate. The oracle is
    GENERATED from the same SCRIPT_RANGES/_MOJIBAKE_RE constants (Java
    \\uXXXX classes translated to RE2 \\x{...} for DuckDB) — one rule, two
    engines."""
    from kermit_spark.ops.text import script_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = F.pmod(F.col("doc_id"), F.lit(7))
    t = (
        F.when(r == 1, F.lit(_SCRIPT_SAMPLES[1]))
        .when(r == 2, F.lit(_SCRIPT_SAMPLES[2]))
        .when(r == 3, F.lit(_SCRIPT_SAMPLES[3]))
        .when(r == 4, F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(_MOJI_TAIL)))
        .otherwise(F.col("text"))
    )
    return script_profile(docs.select("doc_id", t.alias("text"))).orderBy("doc_id")


def _re2(pat: str) -> str:
    """Java \\uXXXX escapes → RE2 \\x{XXXX} (DuckDB), single quotes doubled."""
    import re as _re

    return _re.sub(r"\\u([0-9A-Fa-f]{4})", r"\\x{\1}", pat).replace("'", "''")


def _script_oracle_sql() -> str:
    from kermit_spark.ops.text import _MOJIBAKE_RE, SCRIPT_RANGES

    counts = ",\n                   ".join(
        f"len(regexp_extract_all(t, '[{_re2(r)}]'))::BIGINT AS {n}_n"
        for n, r in SCRIPT_RANGES
    )
    gm = "greatest(" + ", ".join(f"{n}_n" for n, _ in SCRIPT_RANGES) + ")"
    # first-match CASE in SCRIPT_RANGES order == the library's
    # forward-iteration strict-'>' argmax (earliest family keeps ties)
    script_case = " ".join(
        f"WHEN {n}_n = {gm} THEN '{n}'" for n, _ in SCRIPT_RANGES
    )
    s1, s2, s3 = (_SCRIPT_SAMPLES[i].replace("'", "''") for i in (1, 2, 3))
    tail = _MOJI_TAIL.replace("'", "''")
    return f"""
            WITH inj AS (
                SELECT doc_id,
                       CASE doc_id % 7
                            WHEN 1 THEN '{s1}'
                            WHEN 2 THEN '{s2}'
                            WHEN 3 THEN '{s3}'
                            WHEN 4 THEN coalesce(text, '') || '{tail}'
                            ELSE coalesce(text, '') END AS t
                FROM documents
            ),
            c AS (
                SELECT doc_id, length(t)::BIGINT AS n_chars,
                   {counts},
                   len(regexp_extract_all(t, '{_re2(_MOJIBAKE_RE)}'))::BIGINT AS moji
                FROM inj
            )
            SELECT doc_id, n_chars, {", ".join(f"{n}_n" for n, _ in SCRIPT_RANGES)},
                   CASE WHEN {gm} = 0 THEN 'und' {script_case} ELSE 'und' END AS script,
                   (CASE WHEN n_chars > 0 THEN moji * 1000 // n_chars ELSE 0 END)::BIGINT
                       AS mojibake_per_kchar,
                   (CASE WHEN n_chars > 0 THEN moji * 1000 // n_chars ELSE 0 END) > 5
                       AS is_mojibake
            FROM c ORDER BY doc_id
        """


_BPE_MERGES = 12


def q_text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (Sennrich et al. 2016) through the REAL
    library op (ops.text.bpe_train): 12 greedy merges over the documents
    word histogram ('|' and the end-of-word sentinel are stripped from the
    input on BOTH sides — they serve as the oracle's symbol delimiters).
    The oracle replays the identical greedy recurrence as 12 unrolled SQL
    stages (the HITS-oracle technique): delimited-string symbol state,
    adjacent-pair counts, argmax by (count DESC, pair ASC), left-to-right
    non-overlapping replace — never the library's own outputs."""
    from kermit_spark.ops.text import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.regexp_replace(F.col("text"), "[|▁]", "").alias("text")
    )
    merges = bpe_train(docs, num_merges=_BPE_MERGES, min_count=2)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, lhs string, rhs string, pair_count long",
    ).orderBy("rank")


def _bpe_stage_cte(k: int) -> str:
    """One greedy BPE stage for the DuckDB oracle: adjacent-pair counts
    over the delimited symbol strings, the (count DESC, pair ASC) argmax,
    then the merge applied via left-to-right non-overlapping replace —
    the delimiters make a token-boundary-safe string rewrite equivalent
    to ops.text.bpe_train's array fold."""
    prev = f"s{k - 1}"
    return f"""p{k} AS MATERIALIZED (
                SELECT t[i-1] AS a, t[i] AS b, SUM(n)::BIGINT AS cnt
                FROM (SELECT n, list_filter(string_split(s, '|'),
                                            x -> length(x) > 0) AS t
                      FROM {prev}),
                     UNNEST(range(2, len(t) + 1)) AS r(i)
                GROUP BY a, b
            ),
            b{k} AS MATERIALIZED (
                SELECT a, b, cnt FROM p{k} WHERE cnt >= 2
                ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
            ),
            s{k} AS MATERIALIZED (
                SELECT v.n,
                       replace(v.s, '|' || b.a || '||' || b.b || '|',
                               '|' || b.a || b.b || '|') AS s
                FROM {prev} v, b{k} b
            )"""


def _sniff_oracle_sql() -> str:
    """media_sniff oracle, GENERATED from the library's magic-rule constants
    (ops.media.MAGIC_PREFIXES / RIFF_FORMS / FTYP_HEX / HTML_SNIFF_PREFIXES)
    — one rule table feeds the Spark expression AND this SQL. Payload hex is
    re-synthesized relationally; all byte checks are substrings of the hex
    (2 chars per byte), the markup sniff gated on the ASCII regexp exactly
    like the engine (the unhex::VARCHAR cast is only reached on ASCII rows,
    mirroring the lazily-evaluated decode() branch)."""
    from kermit_spark.ops.media import (
        ASCII_HEX_RE,
        FTYP_HEX,
        HTML_SNIFF_BYTES,
        HTML_SNIFF_PREFIXES,
        MAGIC_PREFIXES,
        RIFF_FORMS,
    )

    plain = "\n                       ".join(
        f"WHEN substring(h, 1, {len(p)}) = '{p}' THEN '{m}'"
        for p, m in sorted(MAGIC_PREFIXES, key=lambda r: -len(r[0]))
    )
    riff = " ".join(
        f"WHEN substring(h, 17, 8) = '{fh}' THEN '{m}'" for fh, m in RIFF_FORMS
    )
    markup = " ".join(
        f"WHEN starts_with(txt, '{p}') THEN '{m}'" for p, m in HTML_SNIFF_PREFIXES
    )
    nhex = 2 * HTML_SNIFF_BYTES
    return f"""
        WITH p AS (
            SELECT doc_id,
                   CASE doc_id % 12
                       WHEN 0 THEN '89504E470D0A1A0A' || upper(md5(doc_id::VARCHAR))
                       WHEN 1 THEN 'FFD8FFE0' || upper(md5(doc_id::VARCHAR))
                       WHEN 2 THEN '474946383961' || upper(md5(doc_id::VARCHAR))
                       WHEN 3 THEN '524946461000000057454250' || upper(md5(doc_id::VARCHAR))
                       WHEN 4 THEN '524946461000000057415645' || upper(md5(doc_id::VARCHAR))
                       WHEN 5 THEN '000000186674797069736F6D' || upper(md5(doc_id::VARCHAR))
                       WHEN 6 THEN '25504446' || upper(md5(doc_id::VARCHAR))
                       WHEN 7 THEN '504B0304' || upper(md5(doc_id::VARCHAR))
                       WHEN 8 THEN '1F8B' || upper(md5(doc_id::VARCHAR))
                       WHEN 9 THEN hex(encode('  <!DOCTYPE html><p>' || doc_id::VARCHAR))
                       WHEN 10 THEN hex(encode('<?xml version="1.0"?><d id="' || doc_id::VARCHAR || '"/>'))
                       ELSE 'AA' || upper(md5(doc_id::VARCHAR))
                   END AS h,
                   CASE doc_id % 3
                       WHEN 0 THEN 'application/octet-stream'
                       WHEN 1 THEN 'image/png; charset=utf-8'
                   END AS declared
            FROM documents
        ),
        g AS (
            SELECT doc_id, declared, h,
                   CASE WHEN regexp_matches(substring(h, 1, {nhex}), '{ASCII_HEX_RE}')
                        THEN lower(regexp_replace(unhex(substring(h, 1, {nhex}))::VARCHAR,
                                                  '^\\s+', ''))
                   END AS txt
            FROM p
        ),
        s AS (
            SELECT doc_id, declared,
                   CASE
                       {plain}
                       WHEN substring(h, 1, 8) = '52494646' THEN (CASE {riff} END)
                       WHEN substring(h, 9, 8) = '{FTYP_HEX}' THEN 'video/mp4'
                       WHEN txt IS NOT NULL THEN (CASE {markup} END)
                   END AS sniffed_type,
                   lower(trim(string_split(declared, ';')[1])) AS decl_norm
            FROM g
        )
        SELECT doc_id, sniffed_type,
               coalesce(sniffed_type, decl_norm) AS effective_type,
               (sniffed_type IS NOT NULL AND declared IS NOT NULL
                AND sniffed_type != decl_norm) AS type_mismatch
        FROM s ORDER BY doc_id
    """


def _bpe_oracle_sql() -> str:
    stages = ",\n            ".join(_bpe_stage_cte(k) for k in range(1, _BPE_MERGES + 1))
    ranks = "\n                UNION ALL ".join(
        f"SELECT {k - 1} AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return rf"""
            WITH toks AS (
                SELECT list_transform(
                           list_filter(
                               string_split_regex(
                                   regexp_replace(coalesce(text, ''), '[|▁]', '', 'g'),
                                   '\s+'),
                               x -> length(x) > 0),
                           x -> lower(x)) AS ws
                FROM documents
            ),
            hist AS (SELECT w, COUNT(*) AS n FROM toks, UNNEST(ws) AS u(w) GROUP BY w),
            s0 AS MATERIALIZED (
                -- every symbol carries its OWN |…| wrapper ('|a||b||▁|'):
                -- adjacent-pattern matches then never share a delimiter
                -- char, so one left-to-right replace() pass merges every
                -- occurrence exactly like the engine's array fold
                SELECT n, regexp_replace(w, '(.)', '|\1|', 'g') || '|▁|' AS s
                FROM hist
            ),
            {stages}
            SELECT rank, lhs, rhs, pair_count FROM (
                {ranks}
            ) ORDER BY rank
        """


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff bigram LM scoring (Brants et al. 2007) through the
    REAL library op (ops.text.bigram_backoff_logprob): every document
    scored against an LM built from the doc_id%5==0 subset — a fifth of
    the corpus, so unseen bigrams in the other docs genuinely exercise the
    (alpha*cw)/N backoff branch and OOV words the count-1 floor. The
    oracle restates counts, both branches, bigram-ordered folds and
    half-up rounding in SQL."""
    from kermit_spark.ops.text import bigram_backoff_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    lm = docs.filter(F.col("doc_id") % 5 == 0)
    return bigram_backoff_logprob(docs, lm=lm).orderBy("doc_id")


def q_text_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020) through the
    REAL library op (ops.text.ccnet_buckets): unigram-NLL terciles label
    every document head / middle / tail — the slice selection CCNet feeds
    to LM pretraining. The cutpoints ride the plan as one broadcast
    exact-percentile aggregate (no global sort / partitionless window);
    the oracle recomputes the LM and takes DuckDB's quantile_cont over the
    same half-up-rounded inputs (identical p*(n-1) linear interpolation,
    then both cutpoints rounded half-up before the <= compare)."""
    from kermit_spark.ops.text import ccnet_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return ccnet_buckets(docs).orderBy("doc_id")


# --- DUST synthetic crawl: shared Spark/DuckDB SQL fragments -----------------
# 5 URL families over one content function: 'page' and 'sort' change content,
# 'sid' and 'ref' never do; family 0 provides the parameter-absent variants.
_DUST_BASE = "('http://h' || (o_custkey % 8) || '.test/a/' || (o_orderkey % 200))"
_DUST_URL = f"""CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN {_DUST_BASE} || '?page=' || (o_orderkey % 3)
    WHEN 1 THEN {_DUST_BASE} || '?page=' || (o_orderkey % 3)
             || '&sid=' || (o_orderkey % 7)
    WHEN 2 THEN {_DUST_BASE} || '?sid=' || (o_orderkey % 7)
             || '&page=' || (o_orderkey % 3)
    WHEN 3 THEN {_DUST_BASE} || '?page=' || (o_orderkey % 3)
             || '&sort=' || (o_orderkey % 2)
    ELSE {_DUST_BASE} || '?page=' || (o_orderkey % 3)
             || '&sid=' || (o_orderkey % 7) || '&ref=' || (o_custkey % 4)
    END"""
_DUST_HASH = f"""md5({_DUST_BASE} || '|p=' || (o_orderkey % 3)
    || CASE WHEN CAST(o_orderkey % 5 AS INT) = 3
            THEN '|s=' || (o_orderkey % 2) ELSE '' END)"""


def q_url_dust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST alias-parameter mining (Bar-Yossef et al., WWW 2007) through the
    REAL library op (ops.dust.mine_irrelevant_params): from (url,
    content_hash) evidence alone, find query-parameter keys that never
    change content — the session-id/tracker families that pollute a
    10^10-URL frontier. The synthetic crawl has two irrelevant keys (sid,
    ref), two content-bearing ones (page, sort) and parameter-absent
    variants; the oracle re-implements the group-by evidence rule in SQL
    over the same URLs — never the generator labels."""
    from kermit_spark.ops.dust import mine_irrelevant_params

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    crawled = orders.select(
        F.expr(_DUST_URL).alias("url"), F.expr(_DUST_HASH).alias("content_hash")
    )
    return mine_irrelevant_params(crawled, min_support=2).orderBy("param")


def q_frontier_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-defusing partition planning through the REAL library op
    (kermit_spark.frontier.plan_host_partitions): per-host URL counts
    synthesized from orders with two deliberate mega-hosts (~10% of rows
    each) over a 400-host tail, salt_threshold=500 so the mega-hosts split
    into multiple salted slots, 8 partitions, weight-descending round-robin
    assignment. Oracle: the identical integer slot split and ordering in
    SQL."""
    from kermit_spark.frontier import plan_host_partitions

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host = F.when(
        F.col("o_orderkey") % 5 == 0,
        F.concat(F.lit("big"), (F.col("o_orderkey") % 2).cast("string")),
    ).otherwise(F.concat(F.lit("h"), (F.col("o_orderkey") % 400).cast("string")))
    counts = orders.groupBy(host.alias("host")).agg(F.count(F.lit(1)).alias("n_urls"))
    return plan_host_partitions(counts, num_partitions=8, salt_threshold=500).orderBy(
        "host", "salt"
    )


def q_politeness_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIMD adaptive politeness through the REAL library operator
    (kermit_spark.frontier.adaptive_host_delays): fetch history synthesized
    from the events table (40 hosts by user_id, status 503 on 'error'
    events, latency event_id%3000 so ~1/3 of fetches breach slow_ms=2000),
    folded per host in (ts, event_id) order — additive +500 ms on
    penalties capped at 60 s, ×0.8 integer decay floored at 100 ms
    otherwise. Oracle: the identical integer fold via DuckDB list_reduce
    over the same sorted event lists."""
    from kermit_spark.frontier import adaptive_host_delays

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(
            F.lit("h"), (F.col("user_id") % 40).cast("string"), F.lit(".example.com")
        ).alias("host"),
        "ts",
        F.col("event_id").alias("eid"),
        F.when(F.col("event_type") == "error", F.lit(503)).otherwise(F.lit(200)).alias("status"),
        (F.col("event_id") % 3000).cast("long").alias("latency_ms"),
    )
    return adaptive_host_delays(
        ev, host_col="host", ts_col="ts", id_col="eid",
        status_col="status", latency_col="latency_ms",
    ).orderBy("host")


def q_politeness_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-fairness audit through the REAL library aggregate
    (metrics.fairness_stats): Jain's index + hottest-host share over a
    skewed per-host fetch distribution (one hot host family, a long tail) —
    the fleet-scale metric that tells whether the dequeue scheduler kept
    the budget fair under frontier skew."""
    from kermit_spark.metrics import fairness_stats

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fetched = orders.select(
        F.expr(
            "'h' || CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_custkey % 4 "
            "ELSE o_custkey % 40 END AS INT)"
        ).alias("host")
    )
    return fairness_stats(fetched)


# --- sectional media bytes: 8 fixed 6-char sections; variant v>0 flips
# section v so same-group assets share 7 of 8 chunks --------------------------
_MEDIA_CHUNK_DATA = " || ".join(
    f"(CASE WHEN (p_partkey % 4) > 0 AND (p_partkey % 4) = {i} "
    f"THEN lpad(CAST(p_partkey % 300 AS STRING), 3, '0') || 'v' || (p_partkey % 4) || 'x' "
    f"ELSE lpad(CAST(p_partkey % 300 AS STRING), 3, '0') || 's' || {i} || 'x' END)"
    for i in range(8)
)


def q_media_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free media near-dup through the REAL library op
    (ops.media.media_chunk_near_dups): sectional md5 fingerprints over the
    opaque bytes column, banded exact-key join on (chunk_idx, chunk_md5)
    with capped buckets, pairs kept at >= 6 of 8 shared sections — the
    binary-blob analog of simhash_candidates for the interleaved corpus's
    media assets. Synthetic assets come in 300 groups of 4 variants, each
    variant differing from its base in exactly one section; the oracle
    recomputes the same substr/md5/cap/count pipeline in SQL."""
    from kermit_spark.ops.media import media_chunk_near_dups

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    media = part.select(
        F.expr("'m' || lpad(CAST(p_partkey AS STRING), 8, '0')").alias("media_id"),
        F.encode(F.expr(_MEDIA_CHUNK_DATA), "utf-8").alias("data"),
    )
    return media_chunk_near_dups(media, n_chunks=8, min_shared=6).orderBy("a", "b")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking through the REAL library op (ops.text.bm25_rank) for a
    fixed query over the corpus. Every float association is mirrored in the
    oracle (literal (1.2 + 1.0) folding, (0.75*dl)/avgdl order, term-sorted
    left-fold of contributions) so the scores are bit-identical."""
    from kermit_spark.ops.text import bm25_rank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return bm25_rank(docs, ("table", "scan", "query"), k=25).orderBy("rnk")


def q_text_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling through the REAL library op
    (ops.text.dsir_select): rank every document by its average per-token
    log-likelihood ratio between a target unigram LM and the raw-corpus
    LM, keep the top 200. The target seed set is content-derived — docs
    whose token stream contains 'the' at least twice (an English-prose
    proxy both engines compute from the same tokenization) — so the
    selection genuinely shifts the distribution toward target-like text.
    Float discipline as in text_unigram_lm: integer counts, one double
    division per ln, term-ordered folds, half-up rounding — bit-identical
    scores."""
    from kermit_spark.ops.text import dsir_select

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    tgt = (
        F.size(
            F.expr(
                "filter(transform(filter(split(coalesce(text,''), '\\\\s+'),"
                " w -> length(w) > 0), w -> lower(w)), w -> w = 'the')"
            )
        )
        >= 2
    )
    return dsir_select(docs, tgt, k=200).orderBy("rnk")


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable document fingerprint through the REAL library op (4 smallest
    md5(8-gram) digests)."""
    from kermit_spark.ops.text import min_shingle_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", min_shingle_fingerprint(F.col("text"), k=8, n_mins=4).alias("fingerprint")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# stream-analog ops over events
# ---------------------------------------------------------------------------


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization through the REAL library op
    (streaming.sessionize_events, batch form of the stateful streaming
    operator): a session breaks after a 30-min gap per user."""
    from kermit_spark.streaming import sessionize_events

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_events(ev, gap_s=1800).orderBy("user_id", "session_id")


def q_events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING sessionize op (applyInPandasWithState,
    streaming.stream_sessionize_events) run over the events table as an
    availableNow file stream. The latest emitted row per (user, session)
    equals the batch operator's output, so the SAME DuckDB oracle that
    certifies the batch op certifies the state-store path — a hard oracle
    for a genuinely streaming operator."""
    import uuid

    from kermit_spark.streaming import stream_sessionize_events

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ckpt = tempfile.mkdtemp(prefix="kermit_sess_ck_", dir=os.environ.get("KERMIT_BENCH_TMPDIR"))
    qname = f"kermit_sess_stream_{uuid.uuid4().hex[:8]}"
    try:
        # the file stream source needs a DIRECTORY; stage the table file in
        # the temp dir via symlink (no copy)
        src_dir = os.path.join(ckpt, "src")
        os.makedirs(src_dir)
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            os.path.join(src_dir, "events.parquet"),
        )
        stream = spark.readStream.schema(ev_schema).parquet(src_dir)
        q = (
            stream_sessionize_events(stream, gap_s=1800)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(600)
        pdf = spark.sql(f"select * from {qname}").toPandas()
        latest = pdf.drop_duplicates(["user_id", "session_id"], keep="last")
        out = spark.createDataFrame(
            latest,
            "user_id long, session_id long, n_events long, t_start double, t_end double",
        )
        return out.orderBy("user_id", "session_id")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup (streaming.stream_exact_dedup:
    dropDuplicatesWithinWatermark on the content digest) over the
    documents table as an availableNow file stream, with odd doc_ids
    collapsed onto per-10-block shared texts so real duplicates exist.
    Which duplicate row survives a micro-batch is engine-scheduling
    dependent, so the certified contract is the KEPT DIGEST SET — one row
    per distinct content, which the oracle derives independently."""
    import uuid

    from kermit_spark.streaming import stream_exact_dedup

    doc_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    ckpt = tempfile.mkdtemp(prefix="kermit_sdedup_ck_", dir=os.environ.get("KERMIT_BENCH_TMPDIR"))
    qname = f"kermit_sdedup_{uuid.uuid4().hex[:8]}"
    try:
        src_dir = os.path.join(ckpt, "src")
        os.makedirs(src_dir)
        os.symlink(
            os.path.abspath(f"{sf_dir}/documents.parquet"),
            os.path.join(src_dir, "documents.parquet"),
        )
        stream = (
            spark.readStream.schema(doc_schema)
            .parquet(src_dir)
            .select(
                "doc_id",
                F.when(
                    F.col("doc_id") % 2 == 1,
                    F.concat(F.lit("shared-"), F.floor(F.col("doc_id") / 10).cast("string")),
                )
                .otherwise(F.col("text"))
                .alias("text"),
                F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")).alias("ts"),
            )
        )
        q = (
            stream_exact_dedup(stream, watermark="24 hours")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(600)
        pdf = spark.sql(f"select digest from {qname}").toPandas()
        out = spark.createDataFrame(pdf, "digest string")
        return out.orderBy("digest")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_events_windowed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WATERMARKED streaming windowed aggregation
    (streaming.stream_windowed_event_counts) over the events table as an
    availableNow file stream, update output mode. F.window boundaries are
    epoch-aligned like the batch op's floor arithmetic, so the last
    emission per (window, type) equals the batch row — certified by the
    SAME DuckDB oracle as events_windowed."""
    import uuid

    from kermit_spark.streaming import stream_windowed_event_counts

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ckpt = tempfile.mkdtemp(prefix="kermit_win_ck_", dir=os.environ.get("KERMIT_BENCH_TMPDIR"))
    qname = f"kermit_win_stream_{uuid.uuid4().hex[:8]}"
    try:
        src_dir = os.path.join(ckpt, "src")
        os.makedirs(src_dir)
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            os.path.join(src_dir, "events.parquet"),
        )
        stream = spark.readStream.schema(ev_schema).parquet(src_dir)
        q = (
            stream_windowed_event_counts(stream, window_s=3600)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(600)
        pdf = spark.sql(f"select * from {qname}").toPandas()
        latest = pdf.drop_duplicates(["window_start", "event_type"], keep="last")
        out = spark.createDataFrame(
            latest,
            "window_start long, event_type string, n long, sum_v double",
        )
        return out.orderBy("window_start", "event_type")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation through the REAL library op
    (streaming.windowed_event_counts, batch form of the watermarked agg)."""
    from kermit_spark.streaming import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(ev, window_s=3600).orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def q_media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan through the REAL library op
    (ops.media.frame_sample): 3 frames every 10th index per media object
    (media ids derived from part names)."""
    from kermit_spark.ops.media import frame_sample

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    media = part.select(F.md5(F.col("p_name")).alias("media_id"))
    return (
        frame_sample(media, every_n=10, max_frames=3)
        .select("media_id", "frame_no", "frame_ref")
        .orderBy("media_id", "frame_no")
    )


def q_media_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation planning through the REAL library op
    (ops.media.audio_segment_plan): overlapping 30 s windows at a 20 s hop
    (ASR convention) over synthetic track durations derived from part keys
    — includes zero-duration tracks (no segments) and short-tail final
    segments. Pure-JVM sequence/explode; the oracle replays the same
    arithmetic with generate_series."""
    from kermit_spark.ops.media import audio_segment_plan

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    media = part.select(
        F.md5(F.col("p_name")).alias("media_id"),
        ((F.col("p_partkey") % 100) * 7000).cast("long").alias("duration_ms"),
    )
    return (
        audio_segment_plan(media, window_ms=30_000, hop_ms=20_000)
        .orderBy("media_id", "seg_no")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-feature extraction through the REAL library mapInPandas op
    (ops.media.decode_image_features). The codec layer is the documented
    deterministic stub (no PIL in this sandbox) — but the stub derives its
    features from md5 of the bytes, so a DuckDB oracle recomputes them
    exactly: the Arrow plumbing (schema, batching, column flow) is what this
    row certifies."""
    from kermit_spark.ops.media import decode_image_features

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    media = part.select(
        F.md5(F.col("p_name")).alias("media_id"),
        F.md5(F.col("p_name")).alias("doc_id"),
        F.lit("image").alias("kind"),
        F.lit("image/png").alias("content_type"),
        F.encode(F.col("p_name"), "utf-8").alias("data"),
        F.length(F.col("p_name")).cast("long").alias("n_bytes"),
    )
    return decode_image_features(media).orderBy("media_id")


def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type detection through the REAL library op
    (ops.media.detect_content_type → sniff_mime): deterministic payloads
    with genuine magic numbers (PNG/JPEG/GIF/RIFF-WEBP/RIFF-WAVE/
    ISO-BMFF-ftyp/PDF/ZIP/GZIP/HTML/XML + an unknown-bytes control) are
    synthesized per doc_id, with a declared Content-Type that sometimes
    lies. The oracle GENERATES its CASE from the same MAGIC_PREFIXES /
    RIFF_FORMS / FTYP_HEX / HTML_SNIFF_PREFIXES constants the engine
    expression is built from — one rule table, two engines."""
    from kermit_spark.ops.media import detect_content_type

    doc_s = F.col("doc_id").cast("string")
    md5h = F.upper(F.md5(doc_s))
    k = F.pmod(F.col("doc_id"), F.lit(12))
    hexpat = (
        F.when(k == 0, F.concat(F.lit("89504E470D0A1A0A"), md5h))
        .when(k == 1, F.concat(F.lit("FFD8FFE0"), md5h))
        .when(k == 2, F.concat(F.lit("474946383961"), md5h))
        .when(k == 3, F.concat(F.lit("524946461000000057454250"), md5h))
        .when(k == 4, F.concat(F.lit("524946461000000057415645"), md5h))
        .when(k == 5, F.concat(F.lit("000000186674797069736F6D"), md5h))
        .when(k == 6, F.concat(F.lit("25504446"), md5h))
        .when(k == 7, F.concat(F.lit("504B0304"), md5h))
        .when(k == 8, F.concat(F.lit("1F8B"), md5h))
        .when(
            k == 9,
            F.hex(F.encode(F.concat(F.lit("  <!DOCTYPE html><p>"), doc_s), "utf-8")),
        )
        .when(
            k == 10,
            F.hex(
                F.encode(
                    F.concat(F.lit('<?xml version="1.0"?><d id="'), doc_s, F.lit('"/>')),
                    "utf-8",
                )
            ),
        )
        .otherwise(F.concat(F.lit("AA"), md5h))
    )
    declared = (
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("application/octet-stream"))
        .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.lit("image/png; charset=utf-8"))
        .otherwise(F.lit(None).cast("string"))
    )
    media = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .select("doc_id", F.unhex(hexpat).alias("data"), declared.alias("content_type"))
    )
    return detect_content_type(media).select(
        "doc_id", "sniffed_type", "effective_type", "type_mismatch"
    ).orderBy("doc_id")


def q_headers_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/A5 Histogrammer through the REAL library aggregate
    (metrics.headers_histogram): synthetic per-response header maps (the
    shape the fetchers emit) → per-(header, value) frequency counts."""
    from kermit_spark.metrics import headers_histogram

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ct = F.element_at(
        F.array(F.lit("text/html"), F.lit("text/css"), F.lit("image/png")),
        (F.pmod(F.col("o_orderkey"), F.lit(3)) + 1).cast("int"),
    )
    srv = F.concat(F.lit("srv-"), F.pmod(F.col("o_orderkey"), F.lit(4)).cast("string"))
    responses = orders.select(
        F.create_map(F.lit("content-type"), ct, F.lit("server"), srv).alias("headers")
    )
    return headers_histogram(responses).orderBy("header", "value")


def q_crawl_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl engine end-to-end — seed → dequeue → fetch → parse →
    discover → dedup → commit, over the template-synthesized closed site
    graph (_corpus_from_documents: doc i links to (7i+1)%N and (13i+3)%N).
    Because the graph is arithmetic, the whole 2-wave closure is known by
    construction, so this runs with a HARD oracle: the SQL derives the
    expected visited set (seed + its two link targets, deduped), each
    page's host/depth and the template's 3-span layout (prose + 2 links),
    without re-running any engine logic. The politeness budget (20/host)
    is deliberately non-binding — dequeue-cap semantics are oracled
    separately (politeness_topk); deeper multi-wave closures, span
    equality and ordering are pinned by the pytest golden suite against an
    independent html.parser oracle. doc_id (the engine's 64-bit URL hash)
    is excluded: DuckDB has no xxhash64, and the hash path is certified by
    url_canonicalize/frontier_dedup."""
    crawler = _run_crawl(spark, sf_dir, waves=2, budget=20)
    return (
        crawler.documents()
        .select(
            "url",
            "host",
            F.col("status").cast("long").alias("status"),
            F.col("depth").cast("long").alias("depth"),
            F.col("rank").cast("long").alias("rank"),
            F.size("spans").cast("long").alias("n_spans"),
        )
        .orderBy("url")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl core
        "url_canonicalize": q_url_canonicalize,
        "frontier_dedup": q_frontier_dedup,
        "politeness_topk": q_politeness_topk,
        "politeness_aging": q_politeness_aging,
        "domain_politeness": q_domain_politeness,
        "phase_counts": q_phase_counts,
        "robots_gate": q_robots_gate,
        "wave_bfs": q_wave_bfs,
        "link_pagerank": q_link_pagerank,
        "link_hits": q_link_hits,
        "link_hostgraph": q_link_hostgraph,
        "link_opic": q_link_opic,
        "link_components": q_link_components,
        "link_trustrank": q_link_trustrank,
        "url_trap_filter": q_url_trap_filter,
        "conditional_fetch": q_conditional_fetch,
        "parse_spans": q_parse_spans,
        "media_caption": q_media_caption,
        "recrawl_schedule": q_recrawl_schedule,
        "recrawl_cache_floor": q_recrawl_cache_floor,
        "pack_interleaved": q_pack_interleaved,
        "interleaved_span_dedup": q_interleaved_span_dedup,
        "media_assets": q_media_assets,
        "interleaved_quality": q_interleaved_quality,
        "spans_boilerplate": q_spans_boilerplate,
        "render_interleaved": q_render_interleaved,
        "media_runs": q_media_runs,
        "interleaved_curation": q_interleaved_curation,
        "sitemap_hints": q_sitemap_hints,
        "anchor_texts": q_anchor_texts,
        "canonical_dedup": q_canonical_dedup,
        "crawl_wave": q_crawl_wave,
        # dedup family
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_incremental": q_dedup_incremental,
        "dedup_minhash_stream": q_dedup_minhash_stream,
        "dedup_contamination": q_dedup_contamination,
        "dedup_clusters": q_dedup_clusters,
        "sample_stratified": q_sample_stratified,
        "sample_token_budget": q_sample_token_budget,
        "sample_temperature": q_sample_temperature,
        "dedup_paragraph": q_dedup_paragraph,
        "dedup_substring": q_dedup_substring,
        "curation_pipeline": q_curation_pipeline,
        "dedup_simhash": q_dedup_simhash,
        "embedding_near_dup": q_embedding_near_dup,
        # similarity
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_ivf_index": q_ann_ivf_index,
        "semdedup": q_semdedup,
        "embedding_project": q_embedding_project,
        # text analysis
        "text_langid": q_text_langid,
        "text_normalize": q_text_normalize,
        "text_classifier": q_text_classifier,
        "text_train_classifier": q_text_train_classifier,
        "text_quality": q_text_quality,
        "text_tokens": q_text_tokens,
        "text_fingerprint": q_text_fingerprint,
        "text_gopher": q_text_gopher,
        "text_c4": q_text_c4,
        "text_redact": q_text_redact,
        "text_soft404": q_text_soft404,
        "text_line_dedup": q_text_line_dedup,
        "domain_quality": q_domain_quality,
        "text_chunks": q_text_chunks,
        "corpus_vocab": q_corpus_vocab,
        "text_pack": q_text_pack,
        "catalog_incremental": q_catalog_incremental,
        "warc_cdx": q_warc_cdx,
        "export_shards": q_export_shards,
        "export_tokens": q_export_tokens,
        "warc_roundtrip": q_warc_roundtrip,
        "warc_binary": q_warc_binary,
        "warc_wet": q_warc_wet,
        "warc_wat": q_warc_wat,
        "warc_reparse": q_warc_reparse,
        "text_tfidf": q_text_tfidf,
        "text_unigram_lm": q_text_unigram_lm,
        "text_bigram_lm": q_text_bigram_lm,
        "text_bpe": q_text_bpe,
        "text_script": q_text_script,
        "sketch_cms": q_sketch_cms,
        "sketch_hll": q_sketch_hll,
        "sketch_hdr": q_sketch_hdr,
        "sketch_kmv": q_sketch_kmv,
        "host_mirror_kmv": q_host_mirror_kmv,
        "text_ccnet": q_text_ccnet,
        "text_bm25": q_text_bm25,
        "text_dsir": q_text_dsir,
        "url_dust": q_url_dust,
        "frontier_partition_plan": q_frontier_partition_plan,
        "politeness_adaptive": q_politeness_adaptive,
        "politeness_fairness": q_politeness_fairness,
        # stream analogs
        "events_sessionize": q_events_sessionize,
        "events_sessionize_stream": q_events_sessionize_stream,
        "dedup_exact_stream": q_dedup_exact_stream,
        "events_windowed_stream": q_events_windowed_stream,
        "events_windowed": q_events_windowed,
        # monitoring
        "headers_histogram": q_headers_histogram,
        # multimodal
        "media_sniff": q_media_sniff,
        "media_frame_plan": q_media_frame_plan,
        "media_audio_segments": q_media_audio_segments,
        "media_features": q_media_features,
        "media_chunk_dedup": q_media_chunk_dedup,
    }


def _hits_half_cte(prev: str, cur: str, edge_from: str, edge_to: str, prev_col: str, cur_col: str) -> str:
    """One HITS half-step for the DuckDB oracle — the exact integer
    recurrence of ops.graph.hits: raw sum over {edge_from}→{edge_to}
    edges, then L1 scaling to 10^6. All BIGINT floor-div (values are
    non-negative, so DuckDB ``//`` == Spark ``div``)."""
    raw = f"{cur}_raw"
    return f"""{raw} AS (
                SELECT n.node, COALESCE(i.s, 0)::BIGINT AS raw
                FROM h_nodes n LEFT JOIN (
                    SELECT e.{edge_to} AS node, SUM(p.{prev_col})::BIGINT AS s
                    FROM h_edges e JOIN {prev} p ON p.node = e.{edge_from}
                    GROUP BY e.{edge_to}
                ) i ON i.node = n.node
            ),
            {cur} AS (
                SELECT node,
                       (CASE WHEN (SELECT SUM(raw) FROM {raw}) > 0
                             THEN (raw * 1000000) // (SELECT SUM(raw) FROM {raw})
                             ELSE 0 END)::BIGINT AS {cur_col}
                FROM {raw}
            )"""


def _pagerank_iter_cte(
    prev: str,
    cur: str,
    prefix: str = "pr",
    src: str = "src",
    dst: str = "dst",
    contrib: str = "r.rank // o.d",
) -> str:
    """One unrolled fixed-point PageRank iteration for the DuckDB oracle —
    the exact integer recurrence of ops.graph.pagerank (d=0.85): every op is
    BIGINT floor-div/multiply/sum, so the result is bit-identical to Spark's
    regardless of reduction order. SUMs cast ::BIGINT (DuckDB widens to
    HUGEINT). ONE template serves the unweighted (default ``contrib``) and
    weighted (``contrib='(r.rank * e.w) // o.d'``) recurrences — the
    damping constant and recurrence shape cannot drift between them."""
    return f"""{cur} AS (
                SELECT n.node,
                       ((SELECT base FROM {prefix}_params)
                        + (85 * COALESCE(i.s, 0)) // 100)::BIGINT AS rank
                FROM {prefix}_nodes n LEFT JOIN (
                    SELECT e.{dst} AS node, (SUM({contrib}))::BIGINT AS s
                    FROM {prefix}_edges e
                    JOIN {prev} r ON r.node = e.{src}
                    JOIN {prefix}_outdeg o ON o.{src} = e.{src}
                    GROUP BY e.{dst}
                ) i ON i.node = n.node
            )"""


def _wpr_iter_cte(prev: str, cur: str) -> str:
    """Weighted host-graph instantiation of the shared template."""
    return _pagerank_iter_cte(
        prev, cur, prefix="hg", src="src_host", dst="dst_host",
        contrib="(r.rank * e.w) // o.d",
    )


def _shingle_duck(k: int) -> str:
    """DuckDB twin of ops.dedup.shingles(text, k, stride=1)."""
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(length(text) - {k - 1}, 1)), "
        f"i -> substring(text, i, {k})))"
    )


_SHINGLE_DUCK = _shingle_duck(5)

_LSH_FOLD = "(acc, x) -> acc + x"


def _lsh_bucket_ctes(num_planes: int) -> str:
    """planes/dots/bucket CTEs reproducing the md5-derived hyperplane
    sign-buckets of ops.dedup._deterministic_planes in DuckDB. Every float op
    mirrors the Spark left fold exactly: list_reduce(+) associates ((a+b)+c)
    like F.aggregate with a 0.0 init (0.0 + a == a in IEEE), so the buckets
    are bit-identical. Expects a ``vec(vec_id, v)`` CTE upstream."""

    def hex8(md5_expr: str) -> str:
        return "(" + " + ".join(
            f"(strpos('0123456789abcdef', substring({md5_expr}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
            for i in range(8)
        ) + ")"

    plane_w = (
        "(" + hex8("md5(pp.p || ':' || (j - 1))") + " / 4294967296.0) * 2.0 - 1.0"
    )
    return f"""planes AS (
            SELECT pp.p AS p,
                   list_transform(
                       generate_series(1, (SELECT len(v) FROM vec LIMIT 1)),
                       j -> ({plane_w})) AS wv
            FROM (SELECT unnest(generate_series(0, {num_planes - 1})) AS p) pp
        ),
        dots AS (
            SELECT vv.vec_id, pl.p,
                   list_reduce(list_transform(generate_series(1, len(vv.v)),
                       i -> vv.v[i] * pl.wv[i]), {_LSH_FOLD}) AS d
            FROM vec vv, planes pl
        ),
        bucket AS (
            SELECT vec_id, sum(CASE WHEN d >= 0 THEN (1 << p) ELSE 0 END)::INTEGER AS b
            FROM dots GROUP BY vec_id
        )"""


def _lsh_cosine_sql(round_digits: int) -> str:
    """round(cosine(qv.v, nv.v), d) with the exact Spark fold order."""
    return f"""round(
                       list_reduce(list_transform(generate_series(1, len(qv.v)),
                           i -> qv.v[i] * nv.v[i]), {_LSH_FOLD})
                       / (sqrt(list_reduce(list_transform(qv.v, x -> x * x), {_LSH_FOLD}))
                          * sqrt(list_reduce(list_transform(nv.v, x -> x * x), {_LSH_FOLD}))),
                       {round_digits})"""


def _ann_lsh_oracle(num_planes: int = 6, k: int = 5) -> str:
    """DuckDB replication of ops.similarity.lsh_topk (buckets + 1-bit-flip
    multi-probes + in-bucket exact cosine top-k)."""
    probe_list = ", ".join(f"xor(b, {1 << p})" for p in range(num_planes))
    return f"""
        WITH vec AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        {_lsh_bucket_ctes(num_planes)},
        q AS (
            SELECT bq.vec_id AS query_id, bq.b
            FROM bucket bq WHERE bq.vec_id < 8
        ),
        probes AS (
            SELECT query_id, unnest([b, {probe_list}]) AS pb FROM q
        ),
        cand AS (
            SELECT DISTINCT pr.query_id, c.vec_id AS neighbor_id
            FROM probes pr JOIN bucket c ON c.b = pr.pb
            WHERE c.vec_id != pr.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id,
                   {_lsh_cosine_sql(4)} AS score
            FROM cand
            JOIN vec qv ON qv.vec_id = cand.query_id
            JOIN vec nv ON nv.vec_id = cand.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id ASC) AS rnk
            FROM scored
        )
        SELECT query_id, rnk, neighbor_id, score
        FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def _ann_ivf_oracle(n_centroids: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """DuckDB replication of ops.similarity.ivf_topk: md5-sampled centroids,
    argmax-cosine cell assignment (ties -> lowest cell), n_probe nearest
    cells per query, exact cosine within probed cells. Every float op is the
    same left fold Spark computes (see _lsh_bucket_ctes note)."""
    cos_assign = f"""list_reduce(list_transform(generate_series(1, len(vv.v)),
                       i -> vv.v[i] * ce.cv[i]), {_LSH_FOLD})
                   / (sqrt(list_reduce(list_transform(vv.v, x -> x * x), {_LSH_FOLD}))
                      * sqrt(list_reduce(list_transform(ce.cv, x -> x * x), {_LSH_FOLD})))"""
    return f"""
        WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INTEGER - 1 AS cell,
                   v AS cv
            FROM vec QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {n_centroids}
        ),
        assign AS (
            SELECT vv.vec_id, ce.cell, {cos_assign} AS sim
            FROM vec vv, cent ce
        ),
        corpus_cell AS (
            SELECT vec_id AS neighbor_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM assign) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM assign WHERE vec_id < 8) WHERE rn <= {n_probe}
        ),
        cand AS (
            SELECT pr.query_id, cc.neighbor_id
            FROM probes pr JOIN corpus_cell cc ON cc.cell = pr.cell
            WHERE cc.neighbor_id != pr.query_id
        ),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id, {_lsh_cosine_sql(4)} AS score
            FROM cand
            JOIN vec qv ON qv.vec_id = cand.query_id
            JOIN vec nv ON nv.vec_id = cand.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id ASC) AS rnk
            FROM scored
        )
        SELECT query_id, rnk, neighbor_id, score
        FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def _ann_pq_oracle(m: int = 4, ks: int = 16, k: int = 5) -> str:
    """DuckDB replication of ops.similarity.pq_topk: codebooks = subvectors
    of the ks smallest-md5(id) corpus rows (the shared _centroids_of
    sample), per-subspace squared-L2 with the exact Spark zip_with left
    fold (0.0 + e1 == e1 in IEEE, so init-less list_reduce matches),
    encoding = first-min argmin (lowest code on ties, same as
    array_position-of-array_min), ADC score = fold of the m per-subspace
    table lookups in subspace order (list(d ORDER BY s) reduce = Spark's
    sequential + chain)."""
    return f"""
        WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INTEGER - 1 AS code,
                   v AS cv
            FROM vec QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {ks}
        ),
        sub AS (SELECT (len(v) // {m})::INTEGER AS w FROM vec LIMIT 1),
        subd AS (
            SELECT vv.vec_id, s.s, ce.code,
                   list_reduce(list_transform(generate_series(1, sub.w),
                       i -> (vv.v[s.s * sub.w + i] - ce.cv[s.s * sub.w + i])
                          * (vv.v[s.s * sub.w + i] - ce.cv[s.s * sub.w + i])),
                       {_LSH_FOLD}) AS d
            FROM vec vv
            CROSS JOIN (SELECT unnest(generate_series(0, {m} - 1)) AS s) s
            CROSS JOIN cent ce CROSS JOIN sub
        ),
        codes AS (
            SELECT vec_id AS neighbor_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d ASC, code ASC) AS rn
                FROM subd) WHERE rn = 1
        ),
        pair_d AS (
            SELECT q.vec_id AS query_id, c.neighbor_id, q.s, q.d
            FROM subd q JOIN codes c ON c.s = q.s AND c.code = q.code
            WHERE q.vec_id < 8 AND c.neighbor_id != q.vec_id
        ),
        scored AS (
            SELECT query_id, neighbor_id,
                   round(list_reduce(list(d ORDER BY s), {_LSH_FOLD}), 4) AS adc_dist
            FROM pair_d GROUP BY query_id, neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, adc_dist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist ASC, neighbor_id ASC) AS rnk
            FROM scored
        )
        SELECT query_id, rnk, neighbor_id, adc_dist
        FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def _ann_ivfpq_oracle(
    n_centroids: int = 16, n_probe: int = 4, m: int = 4, ks: int = 16, k: int = 5
) -> str:
    """DuckDB replication of ops.similarity.ivf_pq_topk — the _ann_ivf_oracle
    candidate chain (md5-sample cells, first-max assignment, n_probe probe
    windows) composed with the _ann_pq_oracle scoring chain (codebooks,
    first-min codes, subspace-ordered ADC fold), joined by restricting PQ
    pairs to probed (query, cell) matches."""
    cos_assign = f"""list_reduce(list_transform(generate_series(1, len(vv.v)),
                       i -> vv.v[i] * ce.cv[i]), {_LSH_FOLD})
                   / (sqrt(list_reduce(list_transform(vv.v, x -> x * x), {_LSH_FOLD}))
                      * sqrt(list_reduce(list_transform(ce.cv, x -> x * x), {_LSH_FOLD})))"""
    return f"""
        WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ccent AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INTEGER - 1 AS cell,
                   v AS cv
            FROM vec QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {n_centroids}
        ),
        assign AS (
            SELECT vv.vec_id, ce.cell, {cos_assign} AS sim
            FROM vec vv, ccent ce
        ),
        corpus_cell AS (
            SELECT vec_id AS neighbor_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM assign) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM assign WHERE vec_id < 8) WHERE rn <= {n_probe}
        ),
        pcent AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INTEGER - 1 AS code,
                   v AS cv
            FROM vec QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {ks}
        ),
        sub AS (SELECT (len(v) // {m})::INTEGER AS w FROM vec LIMIT 1),
        subd AS (
            SELECT vv.vec_id, s.s, pe.code,
                   list_reduce(list_transform(generate_series(1, sub.w),
                       i -> (vv.v[s.s * sub.w + i] - pe.cv[s.s * sub.w + i])
                          * (vv.v[s.s * sub.w + i] - pe.cv[s.s * sub.w + i])),
                       {_LSH_FOLD}) AS d
            FROM vec vv
            CROSS JOIN (SELECT unnest(generate_series(0, {m} - 1)) AS s) s
            CROSS JOIN pcent pe CROSS JOIN sub
        ),
        codes AS (
            SELECT vec_id AS neighbor_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d ASC, code ASC) AS rn
                FROM subd) WHERE rn = 1
        ),
        cand AS (
            SELECT pr.query_id, cc.neighbor_id
            FROM probes pr JOIN corpus_cell cc ON cc.cell = pr.cell
            WHERE cc.neighbor_id != pr.query_id
        ),
        pair_d AS (
            SELECT ca.query_id, ca.neighbor_id, q.s, q.d
            FROM cand ca
            JOIN codes c ON c.neighbor_id = ca.neighbor_id
            JOIN subd q ON q.vec_id = ca.query_id AND q.s = c.s AND q.code = c.code
        ),
        scored AS (
            SELECT query_id, neighbor_id,
                   round(list_reduce(list(d ORDER BY s), {_LSH_FOLD}), 4) AS adc_dist
            FROM pair_d GROUP BY query_id, neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, adc_dist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_dist ASC, neighbor_id ASC) AS rnk
            FROM scored
        )
        SELECT query_id, rnk, neighbor_id, adc_dist
        FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def _semdedup_oracle(
    n_centroids: int = 16, threshold: float = 0.95, max_cluster: int = 200
) -> str:
    """DuckDB replication of ops.similarity.semdedup: md5-sample centroids
    + argmax-cosine cells (shared with _ann_ivf_oracle), lowest-id keeper
    pool per cell, keep = no pool member with smaller id at
    round(cosine, 6) >= threshold. Float ops use the exact Spark fold."""
    cos_assign = f"""list_reduce(list_transform(generate_series(1, len(vv.v)),
                       i -> vv.v[i] * ce.cv[i]), {_LSH_FOLD})
                   / (sqrt(list_reduce(list_transform(vv.v, x -> x * x), {_LSH_FOLD}))
                      * sqrt(list_reduce(list_transform(ce.cv, x -> x * x), {_LSH_FOLD})))"""
    return f"""
        WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR)))::INTEGER - 1 AS cell,
                   v AS cv
            FROM vec QUALIFY row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) <= {n_centroids}
        ),
        assign AS (
            SELECT vv.vec_id, ce.cell, {cos_assign} AS sim
            FROM vec vv, cent ce
        ),
        corpus_cell AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cell ASC) AS rn
                FROM assign) WHERE rn = 1
        ),
        pool AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
                FROM corpus_cell) WHERE rn <= {max_cluster}
        ),
        dropped AS (
            SELECT DISTINCT x.vec_id
            FROM corpus_cell x
            JOIN pool y ON y.cell = x.cell AND y.vec_id < x.vec_id
            JOIN vec qv ON qv.vec_id = x.vec_id
            JOIN vec nv ON nv.vec_id = y.vec_id
            WHERE {_lsh_cosine_sql(6)} >= {threshold}
        )
        SELECT cc.vec_id, cc.cell, d.vec_id IS NULL AS keep
        FROM corpus_cell cc LEFT JOIN dropped d ON d.vec_id = cc.vec_id
        ORDER BY cc.vec_id
    """


def _sitemap_hints_oracle() -> str:
    """DuckDB twin of q_sitemap_hints: derives the ENCODED hint rows
    directly (no XML parsing — that's the independence), with the
    changefreq→interval map generated from the one CHANGEFREQ_INTERVAL_S
    constant the library op uses."""
    from kermit_spark.robots import CHANGEFREQ_INTERVAL_S

    whens = " ".join(
        f"WHEN '{name}' THEN {secs}" for name, secs in CHANGEFREQ_INTERVAL_S.items()
    )
    return f"""
        WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS nb FROM documents),
        jj AS (SELECT doc_id, unnest(generate_series(0, nb - 1)) AS j FROM d),
        x AS (
            SELECT doc_id, j,
                   (['daily', 'weekly', 'monthly', 'bogus'])
                       [((doc_id + j) % 4 + 1)::INT] AS changefreq
            FROM jj
        )
        SELECT doc_id, j::INT AS url_rank,
               'http://s' || doc_id || '.com/p' || j AS loc,
               CASE WHEN j % 2 = 0 THEN '2024-01-0' || (j + 1) END AS lastmod,
               changefreq,
               (CASE WHEN j % 3 != 2 THEN (j + 1) * 25 END)::BIGINT AS priority_e2,
               (CASE changefreq {whens} END)::BIGINT AS interval_s
        FROM x ORDER BY doc_id, url_rank
    """


def _render_interleaved_oracle() -> str:
    """DuckDB twin of q_render_interleaved over the shared interleaved
    synthesis, with the sentinel taken from the one MEDIA_SENTINEL
    constant the library op uses."""
    from kermit_spark.ops.media import MEDIA_SENTINEL

    return f"""
            WITH {_INTERLEAVED_BASE_SQL},
            pieces AS (
                SELECT doc_id, off, trim(t) AS piece, 'text' AS kind
                FROM tspans WHERE length(trim(t)) > 0
                UNION ALL
                SELECT doc_id, off, '{MEDIA_SENTINEL}' AS piece, 'media' AS kind
                FROM mspans
            ),
            agg AS (
                SELECT doc_id,
                       string_agg(piece, ' ' ORDER BY off) AS rendered,
                       sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)::BIGINT
                           AS n_media
                FROM pieces GROUP BY doc_id
            ),
            tok AS (
                SELECT doc_id, sum(cost)::BIGINT AS n_text_tokens
                FROM tcost WHERE cost > 0 GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.rendered, '') AS rendered,
                   coalesce(tok.n_text_tokens, 0)::BIGINT AS n_text_tokens,
                   coalesce(a.n_media, 0)::BIGINT AS n_media
            FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN tok USING (doc_id)
            ORDER BY d.doc_id
    """


def _interleaved_curation_oracle() -> str:
    """DuckDB twin of q_interleaved_curation: over the shared interleaved
    synthesis, body chunks pass iff token floor + stop density hold AND the
    structural nc==1 sandwich case doesn't apply (chunk 0 of a single-chunk
    doc sits between the chrome link and the trailing synth link); the nav
    is sandwiched and the footer stopword-free by construction, so neither
    renders; all media spans render as the sentinel. Constants
    (stopwords, chrome texts, sentinel) come from the same sources the
    library ops and q use."""
    from kermit_spark.ops.media import BOILERPLATE_STOPWORDS, MEDIA_SENTINEL

    stops = ", ".join(f"'{w}'" for w in BOILERPLATE_STOPWORDS)
    return rf"""
            WITH {_INTERLEAVED_BASE_SQL},
            feat AS (
                SELECT s.doc_id, s.off, trim(coalesce(s.t, '')) AS piece,
                       c.cost,
                       len(list_filter(
                           list_filter(
                               regexp_split_to_array(trim(coalesce(s.t, '')), '\s+'),
                               x -> length(x) > 0),
                           x -> list_contains([{stops}], lower(x))))::BIGINT AS n_stop,
                       d.nc
                FROM tspans s
                JOIN tcost c USING (doc_id, off)
                JOIN d USING (doc_id)
            ),
            kept_text AS (
                SELECT doc_id, off, piece, cost
                FROM feat
                WHERE cost >= 4
                  AND (CASE WHEN cost = 0 THEN 0
                            ELSE (n_stop * 1000000) // cost END) >= 100000
                  AND NOT (nc = 1 AND off = 0)
            ),
            pieces AS (
                SELECT doc_id, off, piece, 'text' AS kind FROM kept_text
                UNION ALL
                SELECT doc_id, off, '{MEDIA_SENTINEL}' AS piece, 'media' AS kind
                FROM mspans
            ),
            agg AS (
                SELECT doc_id,
                       string_agg(piece, ' ' ORDER BY off) AS rendered,
                       sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)::BIGINT
                           AS n_media
                FROM pieces GROUP BY doc_id
            ),
            tok AS (
                SELECT doc_id, sum(cost)::BIGINT AS n_text_tokens
                FROM kept_text GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.rendered, '') AS rendered,
                   coalesce(tok.n_text_tokens, 0)::BIGINT AS n_text_tokens,
                   coalesce(a.n_media, 0)::BIGINT AS n_media
            FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN tok USING (doc_id)
            ORDER BY d.doc_id
    """


def _normalize_oracle_sql() -> str:
    """text_normalize oracle — shares CTRL_CHARS_RE / WS_RUN_RE with the
    library op (one source of truth); DuckDB's nfc_normalize is the exact
    twin of the op's Arrow-batched unicodedata.normalize('NFC') step. The
    dirty-text construction mirrors q_text_normalize char-for-char
    (chr(9)=tab, chr(769)=U+0301 combining acute, chr(7)=BEL)."""
    from kermit_spark.ops.text import CTRL_CHARS_RE, WS_RUN_RE

    return f"""
            WITH dirty AS (
                SELECT doc_id,
                       '  lead' || chr(9) || text || ' e' || chr(769) || chr(7) || '  ' AS raw
                FROM documents
            ),
            norm AS (
                SELECT doc_id, raw,
                       trim(regexp_replace(regexp_replace(nfc_normalize(raw),
                            '{CTRL_CHARS_RE}', '', 'g'), '{WS_RUN_RE}', ' ', 'g')) AS text
                FROM dirty
            )
            SELECT doc_id, text, length(raw)::BIGINT AS n_chars_raw,
                   length(text)::BIGINT AS n_chars, text <> raw AS changed
            FROM norm ORDER BY doc_id
    """


def _langid_score_sql() -> str:
    """Score columns for the text_langid oracle, generated from the SAME
    LANG_MARKERS constant the library query uses — one source of truth."""
    from kermit_spark.ops.text import LANG_MARKERS

    return ",\n                       ".join(
        "len(regexp_extract_all(text, '(?i)\\b(" + "|".join(ws) + ")\\b')) AS score_" + lang
        for lang, ws in LANG_MARKERS.items()
    )


# shared by events_sessionize (batch op) and events_sessionize_stream (the
# applyInPandasWithState op) — the streaming op's latest-row-per-session
# output is defined to equal the batch op
_SESSIONIZE_ORACLE = """
            WITH e AS (
                SELECT user_id, epoch(ts) AS ts_s, event_id FROM events
            ),
            flagged AS (
                SELECT user_id, ts_s, event_id,
                       CASE WHEN lag(ts_s) OVER w IS NULL
                                 OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
            ),
            sess AS (
                -- ::BIGINT: DuckDB's sum() yields HUGEINT (-> float64 in
                -- pandas) while Spark's running sum over int is int64; the
                -- values are identical, only the dtype differed (r1 finding)
                SELECT user_id, ts_s,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
                FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(min(ts_s), 3) AS t_start, round(max(ts_s), 3) AS t_end
            FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id
        """

_MUTANTS_DUCK = """
        docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, substring(text, 1, 160) AS text
            FROM documents WHERE length(substring(text, 1, 160)) >= 40
        )
"""


def _pii_redact_oracle() -> str:
    """DuckDB twin of q_text_redact, generated from PII_PATTERNS so query
    and oracle can never drift: one chained CTE per pattern counting
    (regexp_extract_all) then replacing (regexp_replace ... 'g'), applied
    in the constant's order — exactly redact_pii's semantics."""
    from kermit_spark.ops.text import PII_PATTERNS

    inject = (
        "coalesce(text, '') || ' contact user' || doc_id || '@example.com or 10.0.' "
        "|| (doc_id % 256) || '.7 card 4111111111111111 tel +1 555 0001942'"
    )
    ctes = [
        f"inj AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN {inject} "
        "ELSE coalesce(text, '') END AS t FROM documents)"
    ]
    prev, carried = "inj", []
    for i, (kind, pat, repl) in enumerate(PII_PATTERNS):
        p = pat.replace("'", "''")
        keep = ", ".join(["doc_id"] + carried)
        ctes.append(
            f"r{i} AS (SELECT {keep}, "
            f"len(regexp_extract_all(t, '{p}')) AS n_{kind}, "
            f"regexp_replace(t, '{p}', '{repl}', 'g') AS t FROM {prev})"
        )
        carried.append(f"n_{kind}")
        prev = f"r{i}"
    cols = ", ".join(carried)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, {cols}, t AS text_redacted "
        f"FROM {prev} ORDER BY doc_id"
    )


def _soft404_oracle() -> str:
    """DuckDB twin of q_text_soft404, generated from SOFT404_MARKERS so the
    query and oracle can never drift: one len(regexp_extract_all) per
    marker family over the identically-injected text."""
    from kermit_spark.ops.text import SOFT404_MARKERS

    counts = ",\n                   ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{kind}"
        for kind, pat in SOFT404_MARKERS
    )
    score = " + ".join(f"n_{kind}" for kind, _ in SOFT404_MARKERS)
    return f"""
            WITH inj AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                                THEN coalesce(text, '') || '{_SOFT404_FULL_BLOCK}'
                            WHEN doc_id % 5 = 2
                                THEN coalesce(text, '') || '{_SOFT404_MENTION}'
                            ELSE coalesce(text, '') END AS t
                FROM documents
            ),
            c AS (
                SELECT doc_id,
                   {counts}
                FROM inj
            )
            SELECT doc_id, n_notfound, n_gone, n_missing, n_gohome,
                   ({score})::BIGINT AS soft404_score,
                   ({score}) >= 2 AS is_soft404
            FROM c ORDER BY doc_id
    """


def _boilerplate_oracle() -> str:
    """DuckDB twin of q_spans_boilerplate: replays the chrome+body span
    synthesis and the classify_spans rules (token floor 4, stop density
    100,000 ppm, link sandwich) with the stop list generated from the
    BOILERPLATE_STOPWORDS constant — one source of truth for both
    engines. Sandwich flags follow from the synthesis shape: only the nav
    span sits between two links."""
    from kermit_spark.ops.media import BOILERPLATE_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in BOILERPLATE_STOPWORDS)
    return rf"""
            WITH d AS (
                SELECT doc_id, text,
                       least(greatest(n_chars // 40, 1), 12)::BIGINT AS nc
                FROM documents
            ),
            body AS (
                SELECT doc_id, (i + 3)::INT AS off,
                       substring(text, (i*40+1)::INT, 40) AS t,
                       FALSE AS sandwiched
                FROM (SELECT doc_id, text, nc,
                             unnest(generate_series(0, nc - 1)) AS i FROM d)
            ),
            statics AS (
                SELECT doc_id, 1::INT AS off, '{_BOILER_NAV_TEXT}' AS t,
                       TRUE AS sandwiched
                FROM d
                UNION ALL
                SELECT doc_id, (nc + 3)::INT, '{_BOILER_FOOTER_TEXT}', FALSE
                FROM d
            ),
            spans AS (
                SELECT * FROM body UNION ALL SELECT * FROM statics
            ),
            tok AS (
                SELECT doc_id, off, sandwiched,
                       list_filter(regexp_split_to_array(trim(coalesce(t, '')), '\s+'),
                                   x -> length(x) > 0) AS toks
                FROM spans
            ),
            feat AS (
                SELECT doc_id, off, sandwiched,
                       len(toks)::BIGINT AS n_tokens,
                       len(list_filter(toks,
                           x -> list_contains([{stops}], lower(x))))::BIGINT AS n_stop
                FROM tok
            ),
            scored AS (
                SELECT doc_id, off, sandwiched, n_tokens,
                       (CASE WHEN n_tokens = 0 THEN 0
                             ELSE (n_stop * 1000000) // n_tokens END)::BIGINT AS stop_ppm
                FROM feat
            )
            SELECT doc_id, off AS "offset", n_tokens, stop_ppm, sandwiched,
                   (n_tokens >= 4 AND stop_ppm >= 100000 AND NOT sandwiched)
                       AS is_content
            FROM scored ORDER BY doc_id, "offset"
    """


def oracle_sql() -> dict[str, str]:
    return {
        "url_canonicalize": """
            SELECT o_orderkey AS okey,
                   lower(regexp_replace(
                       'HTTP://H' || (o_custkey % 50) || '.TEST:80/o/' || o_orderkey,
                       ':80/', '/')) AS canon_url
            FROM orders ORDER BY okey LIMIT 1000
        """,
        "conditional_fetch": """
            SELECT o_orderkey AS okey,
                   CASE WHEN (o_orderkey % 5) <> 0
                             AND (o_custkey % 7) = (o_orderkey % 7)
                        THEN 304 ELSE 200 END AS status,
                   NOT ((o_orderkey % 5) <> 0
                        AND (o_custkey % 7) = (o_orderkey % 7)) AS has_body
            FROM orders ORDER BY okey LIMIT 2000
        """,
        "url_trap_filter": """
            WITH u AS (
                SELECT o_orderkey AS okey,
                    CASE CAST(o_orderkey % 4 AS INT)
                      WHEN 0 THEN 'http://h' || (o_custkey % 20) || '.test/p/'
                        || repeat('x', CAST(80 + o_orderkey % 60 AS INT))
                      WHEN 1 THEN 'http://h' || (o_custkey % 20) || '.test/'
                        || repeat('a/b/', CAST(o_orderkey % 9 AS INT)) || 'p'
                      WHEN 2 THEN 'http://h' || (o_custkey % 20) || '.test/s/'
                        || repeat('loop/', CAST(o_orderkey % 5 AS INT)) || 'p'
                      ELSE 'http://h' || (o_custkey % 20) || '.test/p?'
                        || repeat('k=1&', CAST(o_orderkey % 12 AS INT)) || 'z=9'
                    END AS url
                FROM orders
            ),
            parts AS (
                SELECT okey, url,
                    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
                    regexp_extract(url, '\\?([^#]*)', 1) AS query
                FROM u
            ),
            segd AS (
                SELECT okey, url, query,
                    list_filter(string_split(path, '/'), x -> x <> '') AS segs
                FROM parts
            )
            SELECT okey,
                CASE
                  WHEN length(url) > 120 THEN 'too_long'
                  WHEN len(segs) > 12 THEN 'too_deep'
                  WHEN len(list_filter(range(1, len(segs) - 1),
                           i -> segs[i] = segs[i+1] AND segs[i+1] = segs[i+2])) > 0
                       THEN 'repeat_segment'
                  WHEN (CASE WHEN query = '' THEN 0
                        ELSE len(string_split(query, '&')) END) > 8
                       THEN 'param_explosion'
                  ELSE 'ok'
                END AS reason
            FROM segd ORDER BY okey LIMIT 2000
        """,
        "frontier_dedup": """
            WITH cand AS (
                SELECT DISTINCT l_orderkey AS okey, (l_orderkey % 20) AS host_id
                FROM lineitem
            ),
            seen AS (SELECT o_orderkey AS okey FROM orders WHERE o_orderkey % 3 = 0)
            SELECT host_id, count(*) AS n_new
            FROM cand WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.okey = cand.okey)
            GROUP BY host_id ORDER BY host_id
        """,
        "politeness_topk": """
            SELECT host_id, rnk, okey, priority FROM (
                SELECT (o_custkey % 25) AS host_id, o_orderkey AS okey,
                       o_totalprice AS priority,
                       row_number() OVER (PARTITION BY (o_custkey % 25)
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
                FROM orders
            ) WHERE rnk <= 3 ORDER BY host_id, rnk
        """,
        "politeness_aging": """
            SELECT host_id, rnk, okey, priority, wave FROM (
                SELECT (o_custkey % 25) AS host_id, o_orderkey AS okey,
                       o_totalprice AS priority,
                       (o_orderkey % 7)::BIGINT AS wave,
                       row_number() OVER (
                           PARTITION BY (o_custkey % 25)
                           ORDER BY o_totalprice::DOUBLE
                                    + 2000 * (10 - (o_orderkey % 7)) DESC,
                                    (o_orderkey % 7) ASC, o_orderkey ASC) AS rnk
                FROM orders
            ) WHERE rnk <= 3 ORDER BY host_id, rnk
        """,
        "domain_politeness": """
            WITH elig AS (
                SELECT 'sh' || (o_orderkey % 4) || '.site' || (o_custkey % 10)
                           || (CASE WHEN (o_custkey % 10) % 2 = 0
                                    THEN '.co.uk' ELSE '.com' END) AS host,
                       'site' || (o_custkey % 10)
                           || (CASE WHEN (o_custkey % 10) % 2 = 0
                                    THEN '.co.uk' ELSE '.com' END) AS dom,
                       o_orderkey AS okey, o_totalprice AS priority
                FROM orders
            ),
            ranked AS (
                SELECT dom, host, okey, priority,
                       row_number() OVER (PARTITION BY dom
                                          ORDER BY priority DESC, okey ASC) AS rnk
                FROM elig
            )
            SELECT dom, host, rnk, okey, priority
            FROM ranked WHERE rnk <= 3 ORDER BY dom, rnk
        """,
        "phase_counts": """
            SELECT event_type AS phase, count(*) AS n,
                   round(min(value), 4) AS min_v, round(max(value), 4) AS max_v,
                   round(avg(value), 4) AS avg_v
            FROM events GROUP BY event_type ORDER BY phase
        """,
        "robots_gate": """
            SELECT host_id, count(*) AS n_allowed FROM (
                SELECT (o_custkey % 25) AS host_id,
                       '/o/' || o_orderkey AS path
                FROM orders
            ) WHERE NOT ((host_id % 5 = 2) AND starts_with(path, '/o/1'))
            GROUP BY host_id ORDER BY host_id
        """,
        "wave_bfs": """
            WITH RECURSIVE
            m AS (SELECT count(*) AS n FROM customer),
            edges AS (
                SELECT c_custkey AS src, (c_custkey * 7 + 1) % (SELECT n FROM m) AS dst FROM customer
                UNION
                SELECT c_custkey AS src, (c_custkey * 13 + 3) % (SELECT n FROM m) AS dst FROM customer
            ),
            bfs(node, depth) AS (
                SELECT 0::BIGINT AS node, 0 AS depth
                UNION ALL
                SELECT e.dst AS node, bfs.depth + 1
                FROM bfs JOIN edges e ON e.src = bfs.node
                WHERE bfs.depth < 6
            ),
            first_seen AS (SELECT node, min(depth) AS depth FROM bfs GROUP BY node)
            SELECT depth, count(*) AS n_nodes, min(node) AS min_node, max(node) AS max_node
            FROM first_seen WHERE depth <= 6 GROUP BY depth ORDER BY depth
        """,
        "parse_spans": _PARSE_SPANS_ORACLE,
        # archive replay: byte fidelity through WARC + live/replay tokenizer
        # equivalence — certified against the SAME constructed expectation
        "warc_reparse": _PARSE_SPANS_ORACLE,
        # full 2-wave crawl: expected closure CONSTRUCTED from the site
        # template (seed 0 links to (7·0+1)%N=1 and (13·0+3)%N=3; both new
        # at any N>4), host = d{doc%8}.test, template page = 1 prose span +
        # 2 link spans. The engine's dequeue/fetch/parse/dedup/commit chain
        # must land exactly on this constructed set.
        "crawl_wave": """
            WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
            w0 AS (SELECT 0::BIGINT AS doc, 0::BIGINT AS depth),
            w1 AS (
                SELECT DISTINCT t.doc, 1::BIGINT AS depth
                FROM (
                    SELECT (d.doc * 7 + 1) % n.n AS doc FROM w0 d, n
                    UNION ALL
                    SELECT (d.doc * 13 + 3) % n.n FROM w0 d, n
                ) t
                WHERE t.doc NOT IN (SELECT doc FROM w0)
            ),
            visited AS (
                SELECT * FROM w0 UNION ALL SELECT * FROM w1
            )
            SELECT 'http://d' || (doc % 8) || '.test/doc/' || doc || '.html'
                       AS url,
                   'd' || (doc % 8) || '.test' AS host,
                   200::BIGINT AS status,
                   depth,
                   1::BIGINT AS rank,
                   3::BIGINT AS n_spans
            FROM visited ORDER BY url
        """,
        # cache-floor recrawl: freshness per URL class is CONSTRUCTED from
        # the synthesis template (never parsed from headers), so the
        # engine's directive regexes / HTTP-date parse / latest-row pick /
        # floor join are all under test. seconds_per_wave = 900.
        "recrawl_cache_floor": """
            WITH hist AS (
                SELECT doc_id % 100 AS u,
                       'http://r.test/p/' || (doc_id % 100) AS url,
                       (doc_id // 100)::BIGINT AS wave,
                       md5('v' || ((doc_id // 100) // (1 + doc_id % 100 % 6))
                           || '#' || (doc_id % 100)) AS ch
                FROM documents
            ),
            ordered AS (
                SELECT u, url, wave, ch,
                       lag(ch) OVER (PARTITION BY url ORDER BY wave, ch) AS prev
                FROM hist
            ),
            agg AS (
                SELECT u, url, count(*)::BIGINT AS n_fetches,
                       sum(CASE WHEN prev IS NOT NULL AND ch <> prev
                                THEN 1 ELSE 0 END)::BIGINT AS n_changes,
                       max(wave)::BIGINT AS last_wave
                FROM ordered GROUP BY u, url
            ),
            fresh AS (
                SELECT *,
                       CASE u % 5
                           WHEN 0 THEN 600 * (last_wave + 1)
                           WHEN 1 THEN 0
                           WHEN 2 THEN 1000 * (u + 1)
                           WHEN 3 THEN 3600 * (u % 4)
                           ELSE NULL
                       END::BIGINT AS freshness_s
                FROM agg
            ),
            est AS (
                SELECT url, n_fetches, n_changes, last_wave, freshness_s,
                       ((freshness_s + 899) // 900)::BIGINT AS floor_waves,
                       greatest(
                           greatest(1, least(8, n_fetches // (n_changes + 1))),
                           coalesce((freshness_s + 899) // 900, 0)
                       )::BIGINT AS interval_waves
                FROM fresh
            )
            SELECT url, n_fetches, n_changes, interval_waves, last_wave,
                   (last_wave + interval_waves)::BIGINT AS next_due,
                   6 >= last_wave + interval_waves AS overdue,
                   freshness_s, floor_waves
            FROM est ORDER BY url
        """,
        "recrawl_schedule": """
            WITH hist AS (
                SELECT 'http://r.test/p/' || (doc_id % 100) AS url,
                       (doc_id // 100)::BIGINT AS wave,
                       md5('v' || ((doc_id // 100) // (1 + doc_id % 100 % 6))
                           || '#' || (doc_id % 100)) AS ch
                FROM documents
            ),
            ordered AS (
                SELECT url, wave, ch,
                       lag(ch) OVER (PARTITION BY url ORDER BY wave, ch) AS prev
                FROM hist
            ),
            agg AS (
                SELECT url, count(*)::BIGINT AS n_fetches,
                       sum(CASE WHEN prev IS NOT NULL AND ch <> prev
                                THEN 1 ELSE 0 END)::BIGINT AS n_changes,
                       max(wave)::BIGINT AS last_wave
                FROM ordered GROUP BY url
            ),
            est AS (
                SELECT url, n_fetches, n_changes, last_wave,
                       greatest(1, least(8, n_fetches // (n_changes + 1)))::BIGINT
                           AS interval_waves
                FROM agg
            )
            SELECT url, n_fetches, n_changes, interval_waves, last_wave,
                   (last_wave + interval_waves)::BIGINT AS next_due,
                   6 >= last_wave + interval_waves AS overdue
            FROM est ORDER BY url
        """,
        # rendering: pieces in span order, media as the SAME MEDIA_SENTINEL
        # constant the op uses, blank text dropped (cost>0 <=> nonblank),
        # links never materialized
        "render_interleaved": _render_interleaved_oracle(),
        # composed curation: strip_boilerplate rules + rendering in one
        # derivation (nav/footer/links excluded by construction, body
        # chunks by the replayed integer rules, nc==1 sandwich structural)
        "interleaved_curation": _interleaved_curation_oracle(),
        # sitemap hints: oracle re-derives the encoded rows, interval map
        # generated from CHANGEFREQ_INTERVAL_S ('bogus' → null)
        "sitemap_hints": _sitemap_hints_oracle(),
        # gallery runs: full span sequence (text+media+link+gallery) by
        # offset, gaps-and-islands over the media rows, max island size
        "media_runs": f"""
            WITH {_INTERLEAVED_BASE_SQL},
            lnk AS (SELECT doc_id, (nc*2)::INT AS off, 'link' AS kind FROM d),
            gal AS (
                SELECT doc_id, (1000 + j)::INT AS off, 'media' AS kind
                FROM (SELECT doc_id,
                             unnest(generate_series(1, (doc_id % 3 + 2)::INT)) AS j
                      FROM d WHERE doc_id % 4 = 0)
            ),
            allsp AS (
                SELECT doc_id, off, kind FROM tspans
                UNION ALL SELECT doc_id, off, kind FROM mspans
                UNION ALL SELECT doc_id, off, kind FROM lnk
                UNION ALL SELECT doc_id, off, kind FROM gal
            ),
            seq AS (
                SELECT doc_id, kind,
                       row_number() OVER (PARTITION BY doc_id ORDER BY off) AS rn
                FROM allsp
            ),
            m AS (
                SELECT doc_id, rn,
                       rn - row_number() OVER (PARTITION BY doc_id ORDER BY rn) AS grp
                FROM seq WHERE kind = 'media'
            ),
            runs AS (
                SELECT doc_id, count(*)::BIGINT AS run FROM m GROUP BY doc_id, grp
            ),
            mx AS (SELECT doc_id, max(run) AS max_media_run FROM runs GROUP BY doc_id),
            nm AS (
                SELECT doc_id, count(*)::BIGINT AS n_media
                FROM allsp WHERE kind = 'media' GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(nm.n_media, 0)::BIGINT AS n_media,
                   coalesce(mx.max_media_run, 0)::BIGINT AS max_media_run,
                   coalesce(mx.max_media_run, 0) <= 2 AS keep
            FROM d LEFT JOIN mx USING (doc_id) LEFT JOIN nm USING (doc_id)
            ORDER BY d.doc_id
        """,
        # span-level dedup: kind-specific content keys, globally-first
        # keeper, dense per-doc re-numbering — over the shared synthesis
        "interleaved_span_dedup": f"""
            WITH {_INTERLEAVED_BASE_SQL},
            allspans AS MATERIALIZED (
                SELECT doc_id, off, 'text' AS kind, t AS span_text,
                       NULL::VARCHAR AS media_ref,
                       't:' || md5(coalesce(t, '')) AS key
                FROM tspans
                UNION ALL
                SELECT doc_id, off, 'media', NULL, ref, 'm:' || coalesce(ref, '')
                FROM mspans
                UNION ALL
                SELECT doc_id, (nc * 2)::INT, 'link', 'next',
                       '/n/' || (doc_id + 1),
                       'link:next|/n/' || (doc_id + 1)
                FROM d
            ),
            ranked AS MATERIALIZED (
                SELECT *, row_number() OVER (PARTITION BY key
                                             ORDER BY doc_id, off) AS rn
                FROM allspans
            ),
            scounts AS (
                SELECT doc_id, count(*)::BIGINT AS n_spans_before,
                       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_spans_after
                FROM ranked GROUP BY doc_id
            ),
            skept AS (
                SELECT doc_id, kind, span_text, media_ref,
                       (row_number() OVER (PARTITION BY doc_id ORDER BY off) - 1)::INT AS off
                FROM ranked WHERE rn = 1
            )
            SELECT c.doc_id, c.n_spans_before, c.n_spans_after,
                   k.kind, k.span_text, k.media_ref, k.off
            FROM scounts c LEFT JOIN skept k USING (doc_id)
            ORDER BY doc_id, off
        """,
        "pack_interleaved": f"""
            WITH {_INTERLEAVED_BASE_SQL},
            costs AS (
                SELECT doc_id, off, kind, cost FROM tcost
                UNION ALL
                SELECT doc_id, off, kind, 8::BIGINT AS cost FROM mspans
            ),
            cum AS (
                SELECT doc_id, off, kind, cost,
                       coalesce(sum(cost) OVER (
                           PARTITION BY doc_id ORDER BY off
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cb
                FROM costs
            )
            SELECT doc_id, (cb // 16)::BIGINT AS seq_idx, count(*)::BIGINT AS n_spans,
                   sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END)::BIGINT AS n_text,
                   sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)::BIGINT AS n_media,
                   sum(cost)::BIGINT AS tokens,
                   min(off)::INT AS first_offset, max(off)::INT AS last_offset
            FROM cum GROUP BY doc_id, cb // 16
            ORDER BY doc_id, seq_idx
        """,
        "media_assets": f"""
            WITH {_INTERLEAVED_BASE_SQL}
            SELECT ref AS media_ref, count(*)::BIGINT AS n_refs,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   min(doc_id)::BIGINT AS first_doc
            FROM mspans GROUP BY ref ORDER BY media_ref
        """,
        "interleaved_quality": f"""
            WITH {_INTERLEAVED_BASE_SQL},
            t AS (
                SELECT doc_id, count(*)::BIGINT AS n_text,
                       sum(cost)::BIGINT AS text_tokens
                FROM tcost GROUP BY doc_id
            ),
            m AS (SELECT doc_id, count(*)::BIGINT AS n_media FROM mspans GROUP BY doc_id),
            q AS (
                SELECT t.doc_id, n_text, coalesce(n_media, 0) AS n_media,
                       1::BIGINT AS n_link, text_tokens,
                       CASE WHEN n_text + coalesce(n_media, 0) = 0 THEN 0
                            ELSE (coalesce(n_media, 0) * 1000000)
                                 // (n_text + coalesce(n_media, 0))
                       END::BIGINT AS media_ppm
                FROM t LEFT JOIN m USING (doc_id)
            )
            SELECT doc_id, n_text, n_media, n_link, text_tokens, media_ppm,
                   (text_tokens >= 30 AND media_ppm <= 350000) AS keep
            FROM q ORDER BY doc_id
        """,
        "link_pagerank": f"""
            WITH
            m AS (SELECT count(*) AS n FROM customer),
            pr_edges AS (
                SELECT c_custkey AS src, (c_custkey * 7 + 1) % (SELECT n FROM m) AS dst FROM customer
                UNION
                SELECT c_custkey AS src, c_custkey % 97 AS dst FROM customer
            ),
            pr_nodes AS (
                SELECT src::BIGINT AS node FROM pr_edges
                UNION
                SELECT dst::BIGINT AS node FROM pr_edges
            ),
            pr_params AS (
                SELECT (1000000000000 // count(*))::BIGINT AS init,
                       ((15 * (1000000000000 // count(*))) // 100)::BIGINT AS base
                FROM pr_nodes
            ),
            pr_outdeg AS (SELECT src, count(*) AS d FROM pr_edges GROUP BY src),
            r0 AS (SELECT node, (SELECT init FROM pr_params) AS rank FROM pr_nodes),
            {_pagerank_iter_cte('r0', 'r1')},
            {_pagerank_iter_cte('r1', 'r2')},
            {_pagerank_iter_cte('r2', 'r3')}
            SELECT node, rank AS rank_fp FROM r3
            ORDER BY rank_fp DESC, node ASC LIMIT 100
        """,
        # host-graph rollup + WEIGHTED integer PageRank over hosts
        "link_hostgraph": f"""
            WITH
            hg_m AS (SELECT count(*) AS n FROM customer),
            hg_links AS (
                SELECT 'h' || (c_custkey % 37) || '.test' AS src_host,
                       'h' || (((c_custkey * 7 + 1) % (SELECT n FROM hg_m)) % 37) || '.test' AS dst_host
                FROM customer
                UNION ALL
                SELECT 'h' || (c_custkey % 37) || '.test',
                       'h' || ((c_custkey % 97) % 37) || '.test'
                FROM customer
            ),
            hg_edges AS (
                SELECT src_host, dst_host, count(*)::BIGINT AS w
                FROM hg_links WHERE src_host <> dst_host
                GROUP BY src_host, dst_host
            ),
            hg_nodes AS (
                SELECT src_host AS node FROM hg_edges
                UNION
                SELECT dst_host FROM hg_edges
            ),
            hg_params AS (
                SELECT (1000000000000 // count(*))::BIGINT AS init,
                       ((15 * (1000000000000 // count(*))) // 100)::BIGINT AS base
                FROM hg_nodes
            ),
            hg_outdeg AS (
                SELECT src_host, sum(w)::BIGINT AS d FROM hg_edges GROUP BY src_host
            ),
            hg_r0 AS (SELECT node, (SELECT init FROM hg_params) AS rank FROM hg_nodes),
            {_wpr_iter_cte('hg_r0', 'hg_r1')},
            {_wpr_iter_cte('hg_r1', 'hg_r2')},
            {_wpr_iter_cte('hg_r2', 'hg_r3')}
            SELECT node AS host, rank AS rank_fp FROM hg_r3
            ORDER BY rank_fp DESC, host ASC
        """,
        "link_hits": f"""
            WITH
            hm AS (SELECT count(*) AS n FROM customer),
            h_edges AS (
                SELECT c_custkey AS src, (c_custkey * 11 + 3) % (SELECT n FROM hm) AS dst FROM customer
                UNION
                SELECT c_custkey AS src, c_custkey % 89 AS dst FROM customer
            ),
            h_nodes AS (
                SELECT src::BIGINT AS node FROM h_edges
                UNION
                SELECT dst::BIGINT AS node FROM h_edges
            ),
            h0 AS (
                SELECT node,
                       (1000000 // (SELECT count(*) FROM h_nodes))::BIGINT AS hub
                FROM h_nodes
            ),
            {_hits_half_cte('h0', 'a1', 'src', 'dst', 'hub', 'auth')},
            {_hits_half_cte('a1', 'h1', 'dst', 'src', 'auth', 'hub')},
            {_hits_half_cte('h1', 'a2', 'src', 'dst', 'hub', 'auth')},
            {_hits_half_cte('a2', 'h2', 'dst', 'src', 'auth', 'hub')}
            SELECT n.node, a2.auth AS auth_fp, h2.hub AS hub_fp
            FROM h_nodes n JOIN a2 ON a2.node = n.node JOIN h2 ON h2.node = n.node
            ORDER BY auth_fp DESC, n.node ASC LIMIT 100
        """,
        # TrustRank: 3 unrolled integer rounds, seed-only teleport
        "link_trustrank": f"""
            WITH
            tm AS (SELECT count(*) AS m FROM customer),
            t_edges AS MATERIALIZED (
                SELECT c_custkey::BIGINT AS src,
                       ((c_custkey * 17 + 5) % (SELECT m FROM tm))::BIGINT AS dst
                FROM customer
                UNION
                SELECT c_custkey::BIGINT AS src, (c_custkey % 83)::BIGINT AS dst
                FROM customer
            ),
            t_nodes AS MATERIALIZED (
                SELECT src AS node FROM t_edges UNION SELECT dst FROM t_edges
            ),
            t_s AS (SELECT count(*)::BIGINT AS s FROM t_nodes WHERE node < 20),
            t_tele AS (
                SELECT (((100 - 85) * 1000000000000::BIGINT) // 100)
                       // (SELECT s FROM t_s) AS tele
            ),
            t_flag AS MATERIALIZED (
                SELECT node, (CASE WHEN node < 20 THEN 1 ELSE 0 END)::BIGINT AS is_seed
                FROM t_nodes
            ),
            t_deg AS MATERIALIZED (
                SELECT src, count(*)::BIGINT AS outdeg FROM t_edges GROUP BY src
            ),
            tr0 AS MATERIALIZED (
                SELECT node,
                       (is_seed * (1000000000000::BIGINT // (SELECT s FROM t_s)))::BIGINT AS rank
                FROM t_flag
            ),
            {_trust_stage_cte(1)},
            {_trust_stage_cte(2)},
            {_trust_stage_cte(3)}
            SELECT node, rank AS trust_fp FROM tr3
            ORDER BY trust_fp DESC, node ASC LIMIT 100
        """,
        # star-contraction CC: recursive-CTE closure is the engine-
        # independent truth (it never replays the contraction)
        "link_components": """
            WITH RECURSIVE nodes AS (
                SELECT c_custkey::BIGINT AS node FROM customer
            ),
            mx AS (SELECT max(node) AS m FROM nodes),
            edges AS (
                SELECT node AS src, node + 37 AS dst
                FROM nodes, mx WHERE node + 37 <= mx.m
                UNION
                SELECT node + 37 AS src, node AS dst
                FROM nodes, mx WHERE node + 37 <= mx.m
            ),
            reach(node, label) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
            ),
            cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
            SELECT n.node AS node, coalesce(c.component, n.node) AS component
            FROM nodes n LEFT JOIN cc c USING (node)
            ORDER BY node
        """,
        # OPIC: 3 unrolled integer rounds of the documented recurrence
        "link_opic": f"""
            WITH
            om AS (SELECT count(*) AS m FROM customer),
            o_edges AS MATERIALIZED (
                SELECT c_custkey::BIGINT AS src,
                       ((c_custkey * 13 + 7) % (SELECT m FROM om))::BIGINT AS dst
                FROM customer
                UNION
                SELECT c_custkey::BIGINT AS src, (c_custkey % 97)::BIGINT AS dst
                FROM customer
            ),
            o_nodes AS MATERIALIZED (
                SELECT src AS node FROM o_edges UNION SELECT dst FROM o_edges
            ),
            o_n AS (SELECT count(*)::BIGINT AS n FROM o_nodes),
            o_deg AS MATERIALIZED (
                SELECT n.node, coalesce(d.out, 0)::BIGINT AS out
                FROM o_nodes n LEFT JOIN (
                    SELECT src AS node, count(*)::BIGINT AS out
                    FROM o_edges GROUP BY src
                ) d USING (node)
            ),
            os0 AS MATERIALIZED (
                SELECT node, (1000000 // (SELECT n FROM o_n))::BIGINT AS cash,
                       0::BIGINT AS hist
                FROM o_nodes
            ),
            opot0 AS (
                SELECT (1000000 - (SELECT n FROM o_n)
                        * (1000000 // (SELECT n FROM o_n)))::BIGINT AS pot
            ),
            {_opic_stage_cte(1)},
            {_opic_stage_cte(2)},
            {_opic_stage_cte(3)}
            SELECT node, hist AS hist_fp, cash AS cash_fp
            FROM os3
            ORDER BY (hist + cash) DESC, node ASC LIMIT 100
        """,
        "dedup_exact": """
            SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text) ORDER BY keep_id
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_MUTANTS_DUCK},
            sh AS (SELECT doc_id, {_SHINGLE_DUCK} AS s FROM docs)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(len(list_intersect(a.s, b.s))::DOUBLE
                         / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 100000
            ORDER BY doc_a
        """,
        "dedup_contamination": f"""
            WITH {_MUTANTS_DUCK},
            ev AS (
                SELECT doc_id AS eval_id, {_shingle_duck(20)} AS s
                FROM docs WHERE doc_id >= 100000 AND doc_id % 10 = 0
            ),
            tr AS (SELECT doc_id AS train_id, {_shingle_duck(20)} AS s FROM documents),
            ev_x AS (SELECT eval_id, len(s) AS n_eval, unnest(s) AS sh FROM ev),
            tr_x AS (SELECT train_id, unnest(s) AS sh FROM tr),
            shared AS (
                SELECT train_id, eval_id,
                       count(*) AS n_shared, any_value(n_eval) AS n_eval
                FROM tr_x JOIN ev_x USING (sh)
                GROUP BY train_id, eval_id
            )
            SELECT train_id, eval_id, n_shared::BIGINT AS n_shared,
                   round(n_shared::DOUBLE / n_eval, 6) AS containment
            FROM shared
            WHERE n_shared::DOUBLE / n_eval >= 0.8
            ORDER BY train_id, eval_id
        """,
        "dedup_minhash_lsh": f"""
            WITH {_MUTANTS_DUCK},
            sig AS (
                SELECT doc_id,
                       list_transform(generate_series(0, 7),
                           i -> list_min(list_transform(
                                list_distinct(list_transform(
                                    generate_series(1, greatest(length(text) - 4, 1), 4),
                                    i2 -> substring(text, i2, 5))),
                                s -> md5(i::VARCHAR || ':' || s)))) AS sig
                FROM docs
            ),
            bands AS (
                SELECT doc_id, b AS band,
                       array_to_string(sig[b * 4 + 1 : b * 4 + 4], '|') AS band_sig
                FROM sig, unnest(generate_series(0, 1)) AS t(b)
            ),
            -- mirror of the library's max_bucket=50 cap (lowest ids kept)
            capped AS (
                SELECT doc_id, band, band_sig FROM (
                    SELECT doc_id, band, band_sig,
                           row_number() OVER (PARTITION BY band, band_sig ORDER BY doc_id) AS rn
                    FROM bands
                ) WHERE rn <= 50
            )
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM capped l JOIN capped r
              ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
            ORDER BY a, b
        """,
        # incremental index dedup: per-side capped buckets, new×old ∪ new×new,
        # exact shingle-Jaccard verify — identical md5-min family as above
        "dedup_incremental": """
            WITH olddocs AS (SELECT doc_id AS id, text FROM documents),
            newdocs AS (
                SELECT doc_id + 100000 AS id, substring(text, 1, 160) AS text
                FROM documents WHERE length(substring(text, 1, 160)) >= 40
            ),
            allsh AS MATERIALIZED (
                SELECT id, is_new,
                       list_distinct(list_transform(
                           generate_series(1, greatest(length(text) - 4, 1), 4),
                           i2 -> substring(text, i2, 5))) AS sh
                FROM (SELECT id, text, FALSE AS is_new FROM olddocs
                      UNION ALL
                      SELECT id, text, TRUE AS is_new FROM newdocs)
            ),
            sig AS MATERIALIZED (
                SELECT id, is_new,
                       list_transform(generate_series(0, 7),
                           i -> list_min(list_transform(sh,
                                s -> md5(i::VARCHAR || ':' || s)))) AS sig
                FROM allsh
            ),
            bands AS (
                SELECT id, is_new, b AS band,
                       array_to_string(sig[b * 4 + 1 : b * 4 + 4], '|') AS band_sig
                FROM sig, unnest(generate_series(0, 1)) AS t(b)
            ),
            -- the cap applies per SIDE: at index build over the corpus,
            -- and over the increment's own bucket rows at query time
            capped AS MATERIALIZED (
                SELECT id, is_new, band, band_sig FROM (
                    SELECT id, is_new, band, band_sig,
                           row_number() OVER (PARTITION BY band, band_sig, is_new
                                              ORDER BY id) AS rn
                    FROM bands
                ) WHERE rn <= 50
            ),
            pairs AS (
                SELECT DISTINCT n.id AS new_id, o.id AS match_id, 'index' AS side
                FROM capped n JOIN capped o
                  ON n.band = o.band AND n.band_sig = o.band_sig
                WHERE n.is_new AND NOT o.is_new
                UNION
                SELECT DISTINCT n.id AS new_id, m.id AS match_id, 'batch' AS side
                FROM capped n JOIN capped m
                  ON n.band = m.band AND n.band_sig = m.band_sig
                WHERE n.is_new AND m.is_new AND n.id < m.id
            )
            SELECT p.new_id, p.match_id, p.side,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM pairs p
            JOIN allsh a ON a.id = p.new_id
            JOIN allsh b ON b.id = p.match_id
            ORDER BY new_id, match_id, side
        """,
        # streaming incremental dedup, single availableNow batch: survivors
        # after the index-loses/new-batch-higher-id-loses drop rule
        "dedup_minhash_stream": """
            WITH olddocs AS (SELECT doc_id AS id, text FROM documents),
            newdocs AS (
                SELECT doc_id + 100000 AS id, substring(text, 1, 160) AS text
                FROM documents WHERE length(substring(text, 1, 160)) >= 40
            ),
            allsh AS MATERIALIZED (
                SELECT id, is_new,
                       list_distinct(list_transform(
                           generate_series(1, greatest(length(text) - 4, 1), 4),
                           i2 -> substring(text, i2, 5))) AS sh
                FROM (SELECT id, text, FALSE AS is_new FROM olddocs
                      UNION ALL
                      SELECT id, text, TRUE AS is_new FROM newdocs)
            ),
            sig AS MATERIALIZED (
                SELECT id, is_new,
                       list_transform(generate_series(0, 7),
                           i -> list_min(list_transform(sh,
                                s -> md5(i::VARCHAR || ':' || s)))) AS sig
                FROM allsh
            ),
            bands AS (
                SELECT id, is_new, b AS band,
                       array_to_string(sig[b * 4 + 1 : b * 4 + 4], '|') AS band_sig
                FROM sig, unnest(generate_series(0, 1)) AS t(b)
            ),
            capped AS MATERIALIZED (
                SELECT id, is_new, band, band_sig FROM (
                    SELECT id, is_new, band, band_sig,
                           row_number() OVER (PARTITION BY band, band_sig, is_new
                                              ORDER BY id) AS rn
                    FROM bands
                ) WHERE rn <= 50
            ),
            pairs AS (
                SELECT DISTINCT n.id AS new_id, o.id AS match_id, 'index' AS side
                FROM capped n JOIN capped o
                  ON n.band = o.band AND n.band_sig = o.band_sig
                WHERE n.is_new AND NOT o.is_new
                UNION
                SELECT DISTINCT n.id AS new_id, m.id AS match_id, 'batch' AS side
                FROM capped n JOIN capped m
                  ON n.band = m.band AND n.band_sig = m.band_sig
                WHERE n.is_new AND m.is_new AND n.id < m.id
            ),
            verified AS MATERIALIZED (
                SELECT p.new_id, p.match_id, p.side,
                       len(list_intersect(a.sh, b.sh))::DOUBLE
                       / len(list_distinct(list_concat(a.sh, b.sh))) AS j
                FROM pairs p
                JOIN allsh a ON a.id = p.new_id
                JOIN allsh b ON b.id = p.match_id
            ),
            drops AS (
                SELECT new_id AS id FROM verified WHERE side = 'index' AND round(j, 6) >= 0.5
                UNION
                SELECT match_id FROM verified WHERE side = 'batch' AND round(j, 6) >= 0.5
            )
            SELECT n.id AS doc_id, n.text
            FROM newdocs n
            WHERE n.id NOT IN (SELECT id FROM drops)
            ORDER BY doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_MUTANTS_DUCK},
            sig AS (
                SELECT doc_id,
                       list_transform(generate_series(0, 7),
                           i -> list_min(list_transform(
                                list_distinct(list_transform(
                                    generate_series(1, greatest(length(text) - 4, 1), 4),
                                    i2 -> substring(text, i2, 5))),
                                s -> md5(i::VARCHAR || ':' || s)))) AS sig
                FROM docs
            ),
            bands AS (
                SELECT doc_id, b AS band,
                       array_to_string(sig[b * 4 + 1 : b * 4 + 4], '|') AS band_sig
                FROM sig, unnest(generate_series(0, 1)) AS t(b)
            ),
            capped AS (
                SELECT doc_id, band, band_sig FROM (
                    SELECT doc_id, band, band_sig,
                           row_number() OVER (PARTITION BY band, band_sig ORDER BY doc_id) AS rn
                    FROM bands
                ) WHERE rn <= 50
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM capped l JOIN capped r
                  ON l.band = r.band AND l.band_sig = r.band_sig AND l.doc_id < r.doc_id
            ),
            edges AS (
                SELECT a AS src, b AS dst FROM cand
                UNION
                SELECT b AS src, a AS dst FROM cand
            ),
            reach(node, label) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
            ),
            cc AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
            SELECT d.doc_id AS doc_id,
                   coalesce(c.component, d.doc_id) AS canonical_id,
                   coalesce(c.component, d.doc_id) <> d.doc_id AS is_duplicate
            FROM docs d LEFT JOIN cc c ON c.node = d.doc_id
            ORDER BY doc_id
        """,
        "curation_pipeline": r"""
            WITH docs2 AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, source, text
                FROM documents WHERE doc_id % 3 = 0
            ),
            f AS (
                SELECT doc_id, source, text,
                       """ + _langid_score_sql().replace("FROM documents", "") + r""",
                       length(text) AS n_chars,
                       len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
                       len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                       len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|that)\b')) AS n_stop
                FROM docs2
            ),
            kept AS (
                SELECT doc_id, source, text FROM f
                WHERE (CASE
                         WHEN score_en = 0 AND score_de = 0 AND score_fr = 0 AND score_es = 0 THEN 'und'
                         WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
                         WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
                         WHEN score_fr >= score_es THEN 'fr'
                         ELSE 'es'
                       END) = 'en'
                  AND floor((least(n_tokens / 100.0, 1.0) * 0.3
                             + (floor((n_alpha::DOUBLE / greatest(n_chars, 1)) * 10000.0 + 0.5) / 10000.0) * 0.4
                             + least((floor((n_stop::DOUBLE / greatest(n_tokens, 1)) * 10000.0 + 0.5) / 10000.0) * 5.0, 1.0) * 0.3)
                            * 10000.0 + 0.5) / 10000.0 >= 0.5
            ),
            keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
            surv AS (SELECT k.doc_id, k.source FROM kept k JOIN keepers USING (doc_id)),
            h AS (
                SELECT doc_id, source,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) AS hv
                FROM surv
            ),
            ranked AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
                FROM h
            )
            SELECT doc_id, source FROM ranked WHERE rn <= 10
            ORDER BY source, doc_id
        """,
        "sample_temperature": """
            WITH n AS (SELECT lang, count(*)::BIGINT AS cnt FROM documents GROUP BY lang),
            tot AS (SELECT sum(pow(cnt, 0.7)) AS sw, sum(cnt)::BIGINT AS total FROM n),
            p AS (
                SELECT lang,
                       CAST(floor(least(1.0, 0.5 * total * (pow(cnt, 0.7) / sw) / cnt)
                            * 1000000 + 0.5) AS BIGINT) AS p_ppm
                FROM n, tot
            ),
            h AS (
                SELECT doc_id, lang,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) AS hv
                FROM documents
            )
            SELECT h.doc_id, h.lang, p.p_ppm
            FROM h JOIN p USING (lang)
            WHERE hv % 1000000 < p_ppm
            ORDER BY doc_id
        """,
        "dedup_substring": """
            WITH wins AS (
                SELECT doc_id,
                       unnest(generate_series(0, CAST(length(text) - 20 AS BIGINT), 1)) AS off,
                       text
                FROM documents WHERE length(text) >= 20
            ),
            wh AS (
                SELECT doc_id, off, md5(substr(text, CAST(off + 1 AS INT), 20)) AS h
                FROM wins
            ),
            dup AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
            hits AS (SELECT wh.doc_id, wh.off FROM wh JOIN dup USING (h)),
            flagged AS (
                SELECT doc_id, off,
                       CASE WHEN off - lag(off) OVER w > 20 THEN 1 ELSE 0 END AS brk
                FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY off)
            ),
            isl AS (
                SELECT doc_id, off,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY off
                                      ROWS UNBOUNDED PRECEDING) AS grp
                FROM flagged
            )
            SELECT doc_id, min(off) AS span_start, max(off) + 20 AS span_end,
                   count(*)::BIGINT AS n_windows
            FROM isl GROUP BY doc_id, grp
            ORDER BY doc_id, span_start
        """,
        "dedup_paragraph": """
            WITH docs AS (
                SELECT doc_id,
                       'shared header ' || (doc_id % 5) || chr(10) || chr(10) ||
                       substring(text, 1, 80) || chr(10) || chr(10) ||
                       'shared footer' AS text
                FROM documents
            ),
            p AS (
                SELECT doc_id,
                       unnest(generate_series(0, len(parts) - 1)) AS pos,
                       unnest(parts) AS para
                FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM docs)
            ),
            ranked AS (
                SELECT doc_id, pos, para,
                       row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
                FROM p
            ),
            kept AS (SELECT doc_id, pos, para FROM ranked WHERE rn = 1),
            tot AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id)
            SELECT k.doc_id,
                   string_agg(k.para, chr(10) || chr(10) ORDER BY k.pos) AS text,
                   count(*) AS n_kept,
                   any_value(t.n) - count(*) AS n_removed
            FROM kept k JOIN tot t USING (doc_id)
            GROUP BY k.doc_id
            ORDER BY k.doc_id
        """,
        "sample_token_budget": """
            WITH h AS (
                SELECT doc_id, source, n_chars,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) AS hv
                FROM documents
            ),
            c AS (
                SELECT doc_id, source, n_chars,
                       COALESCE(SUM(n_chars) OVER (
                           PARTITION BY source ORDER BY hv, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
                FROM h
            )
            SELECT doc_id, source, n_chars FROM c WHERE pre < 4000
            ORDER BY source, doc_id
        """,
        "sample_stratified": """
            WITH h AS (
                SELECT doc_id, source,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) AS hv
                FROM documents
            ),
            kept AS (SELECT * FROM h WHERE hv % 2 < 1),
            ranked AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
                FROM kept
            )
            SELECT doc_id, source FROM ranked WHERE rn <= 25
            ORDER BY source, doc_id
        """,
        "dedup_simhash": f"""
            WITH {_MUTANTS_DUCK},
            tok AS (
                SELECT doc_id,
                       unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS t
                FROM docs
            ),
            th AS (SELECT doc_id, substring(md5(t), 1, 16) AS h FROM tok),
            votes AS (
                SELECT doc_id, bb.b AS b,
                       sum(2 * (((strpos('0123456789abcdef', substring(h, 1 + bb.b // 4, 1)) - 1)
                                 >> (3 - bb.b % 4)) & 1) - 1) AS v
                FROM th, (SELECT unnest(generate_series(0, 63)) AS b) bb
                GROUP BY doc_id, bb.b
            ),
            sim AS (
                SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bits
                FROM votes GROUP BY doc_id
            ),
            bands AS (
                SELECT doc_id, kk.k AS k, substring(bits, 1 + kk.k * 16, 16) AS key
                FROM sim, (SELECT unnest(generate_series(0, 3)) AS k) kk
            ),
            capped AS (
                SELECT doc_id, k, key FROM (
                    SELECT doc_id, k, key,
                           row_number() OVER (PARTITION BY k, key ORDER BY doc_id) AS rn
                    FROM bands
                ) WHERE rn <= 100
            ),
            cand AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                FROM capped l JOIN capped r
                  ON l.k = r.k AND l.key = r.key AND l.doc_id < r.doc_id
            )
            SELECT c.a, c.b,
                   CAST(list_sum(list_transform(generate_series(1, 64),
                        i -> CASE WHEN substring(sa.bits, i, 1) = substring(sb.bits, i, 1)
                                  THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
            FROM cand c
            JOIN sim sa ON sa.doc_id = c.a
            JOIN sim sb ON sb.doc_id = c.b
            WHERE hamming <= 8
            ORDER BY a, b
        """,
        "embedding_near_dup": f"""
            WITH vec AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(embedding::DOUBLE[], x -> x + 0.01) AS v
                FROM embeddings
            ),
            {_lsh_bucket_ctes(8)},
            -- mirror of the library's max_bucket=50 cap (lowest ids kept)
            capped AS (
                SELECT vec_id, b FROM (
                    SELECT vec_id, b,
                           row_number() OVER (PARTITION BY b ORDER BY vec_id) AS rn
                    FROM bucket
                ) WHERE rn <= 50
            ),
            cand AS (
                SELECT ba.vec_id AS query_id, bb.vec_id AS neighbor_id
                FROM capped ba JOIN capped bb
                  ON ba.b = bb.b AND ba.vec_id < bb.vec_id
            )
            SELECT cand.query_id AS a, cand.neighbor_id AS b,
                   {_lsh_cosine_sql(6)} AS cosine
            FROM cand
            JOIN vec qv ON qv.vec_id = cand.query_id
            JOIN vec nv ON nv.vec_id = cand.neighbor_id
            WHERE cosine >= 0.99
            ORDER BY a, b
        """,
        "ann_cosine_topk": """
            WITH scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS score6
                FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND c.vec_id != q.vec_id
            ),
            ranked AS (
                SELECT query_id, neighbor_id, score6,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score6 DESC, neighbor_id ASC) AS rnk
                FROM scored
            )
            SELECT query_id, rnk, neighbor_id, round(score6, 4) AS score
            FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
        """,
        "ann_lsh_topk": _ann_lsh_oracle(num_planes=6, k=5),
        "ann_ivf_topk": _ann_ivf_oracle(n_centroids=16, n_probe=4, k=5),
        "ann_pq_topk": _ann_pq_oracle(m=4, ks=16, k=5),
        "ann_ivfpq_topk": _ann_ivfpq_oracle(n_centroids=16, n_probe=4, m=4, ks=16, k=5),
        # the persistent-index path returns bit-identical results, so it
        # shares the transient IVF oracle (index round-trip certified)
        "ann_ivf_index": _ann_ivf_oracle(n_centroids=16, n_probe=4, k=5),
        "text_langid": r"""
            WITH s AS (
                SELECT doc_id,
                       """ + _langid_score_sql() + r"""
                FROM documents
            )
            SELECT doc_id,
                   CASE
                     WHEN score_en = 0 AND score_de = 0 AND score_fr = 0 AND score_es = 0 THEN 'und'
                     WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
                     WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
                     WHEN score_fr >= score_es THEN 'fr'
                     ELSE 'es'
                   END AS lang_pred,
                   score_en, score_de, score_fr, score_es
            FROM s ORDER BY doc_id
        """,
        "text_normalize": _normalize_oracle_sql(),
        "text_classifier": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(trim(lower(text)), '\s+'),
                           t -> length(t) > 0)) AS tok
                FROM documents
            ),
            bucketed AS (
                SELECT doc_id,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(tok), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) % 64 AS b
                FROM toks
            ),
            agg AS (
                SELECT doc_id, count(*)::BIGINT AS n_tokens,
                       sum((b * 2654435761) % 2001 - 1000)::BIGINT AS score_ppm
                FROM bucketed GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
                   coalesce(a.score_ppm, 0)::BIGINT AS score_ppm
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY doc_id
        """,
        "text_train_classifier": r"""
            WITH labeled AS (
                SELECT doc_id,
                       CASE WHEN regexp_matches(lower(text), '\b(the|and)\b')
                            THEN 1 ELSE -1 END AS y,
                       text
                FROM documents
            ),
            b0 AS (  -- exploded (doc, y, bucket): one row per token occurrence
                SELECT doc_id, y,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(tok), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) % 64 AS bucket
                FROM (
                    SELECT doc_id, y,
                           unnest(list_filter(
                               regexp_split_to_array(trim(lower(text)), '\s+'),
                               t -> length(t) > 0)) AS tok
                    FROM labeled
                )
            ),
            -- iteration 1: zero weights => every doc misclassified
            w1 AS (
                SELECT bucket, sum(y)::BIGINT AS w FROM b0 GROUP BY bucket
            ),
            m2 AS (
                SELECT t.doc_id, any_value(t.y) AS y,
                       coalesce(sum(w.w), 0)::BIGINT AS m
                FROM b0 t LEFT JOIN w1 w USING (bucket) GROUP BY t.doc_id
            ),
            u2 AS (
                SELECT b.bucket, sum(b.y)::BIGINT AS delta
                FROM b0 b JOIN m2 USING (doc_id)
                WHERE m2.y * m2.m <= 0 GROUP BY b.bucket
            ),
            w2 AS (
                SELECT coalesce(w1.bucket, u2.bucket) AS bucket,
                       (coalesce(w1.w, 0) + coalesce(u2.delta, 0))::BIGINT AS w
                FROM w1 FULL JOIN u2 ON w1.bucket = u2.bucket
            ),
            m3 AS (
                SELECT t.doc_id, any_value(t.y) AS y,
                       coalesce(sum(w.w), 0)::BIGINT AS m
                FROM b0 t LEFT JOIN w2 w USING (bucket) GROUP BY t.doc_id
            ),
            u3 AS (
                SELECT b.bucket, sum(b.y)::BIGINT AS delta
                FROM b0 b JOIN m3 USING (doc_id)
                WHERE m3.y * m3.m <= 0 GROUP BY b.bucket
            ),
            w3 AS (
                SELECT coalesce(w2.bucket, u3.bucket) AS bucket,
                       (coalesce(w2.w, 0) + coalesce(u3.delta, 0))::BIGINT AS w
                FROM w2 FULL JOIN u3 ON w2.bucket = u3.bucket
            )
            SELECT bucket, w AS weight FROM w3 WHERE w != 0 ORDER BY bucket
        """,
        "text_quality": r"""
            WITH f AS (
                SELECT doc_id,
                       length(text) AS n_chars2,
                       len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
                       len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                       len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
                       len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|that)\b')) AS n_stop
                FROM documents
            )
            SELECT doc_id, n_chars2, n_tokens,
                   floor((n_alpha::DOUBLE / greatest(n_chars2, 1)) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
                   floor((n_punct::DOUBLE / greatest(n_chars2, 1)) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
                   floor((n_stop::DOUBLE / greatest(n_tokens, 1)) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
                   floor((least(n_tokens / 100.0, 1.0) * 0.3
                          + (floor((n_alpha::DOUBLE / greatest(n_chars2, 1)) * 10000.0 + 0.5) / 10000.0) * 0.4
                          + least((floor((n_stop::DOUBLE / greatest(n_tokens, 1)) * 10000.0 + 0.5) / 10000.0) * 5.0, 1.0) * 0.3)
                         * 10000.0 + 0.5) / 10000.0 AS q_score
            FROM f ORDER BY doc_id
        """,
        "text_tokens": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens,
                   ceil(length(text) / 4.0)::BIGINT AS bpe_est
            FROM documents ORDER BY doc_id
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   array_to_string(
                       (list_sort(list_distinct(list_transform(
                           generate_series(1, greatest(length(text) - 7, 1)),
                           i -> md5(substring(text, i, 8))))))[1:4], '') AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        # chunking: same word split + window starts as chunk_documents
        # (16-token windows, step 12, covered-tail filter)
        "text_chunks": r"""
            WITH base AS (
                SELECT doc_id,
                       list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                   w -> length(w) > 0) AS words
                FROM documents
            ),
            st AS (
                SELECT doc_id, words, s
                FROM base, unnest(generate_series(1, greatest(len(words), 1), 12)) AS u(s)
                WHERE len(words) > 0
            )
            SELECT doc_id,
                   (s - 1) // 12 AS chunk_id,
                   least(16, len(words) - s + 1) AS n_tokens,
                   array_to_string(words[s:s+15], ' ') AS chunk
            FROM st
            WHERE (s - 1) // 12 = 0 OR least(16, len(words) - s + 1) > 4
            ORDER BY doc_id, chunk_id
        """,
        # vocabulary: same lowercased word tokens and stopword exclusion as
        # corpus_vocabulary; deterministic top-k (tf DESC, term ASC)
        "corpus_vocab": r"""
            WITH t AS (
                SELECT doc_id, lower(w) AS term
                FROM documents,
                     unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                        w -> length(w) > 0)) AS u(w)
            )
            SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df_count
            FROM t
            WHERE term NOT IN ('the','be','to','of','and','that','have','with')
            GROUP BY term
            ORDER BY tf DESC, term ASC
            LIMIT 50
        """,
        # packing: the identical greedy recurrence (per source, doc_id
        # order, 256-token bins, overflow starts a new bin) replayed as a
        # recursive CTE — one recursion row per (source, rank) step
        "text_pack": r"""
            WITH RECURSIVE toks AS (
                SELECT source, doc_id,
                       len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                       w -> length(w) > 0))::INT AS n_tokens,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents
            ),
            rec(source, rn, doc_id, n_tokens, bin_id, bin_tokens) AS (
                SELECT source, rn, doc_id, n_tokens, 0::BIGINT, n_tokens
                FROM toks WHERE rn = 1
                UNION ALL
                SELECT t.source, t.rn, t.doc_id, t.n_tokens,
                       CASE WHEN r.bin_tokens + t.n_tokens <= 256
                            THEN r.bin_id ELSE r.bin_id + 1 END,
                       CASE WHEN r.bin_tokens + t.n_tokens <= 256
                            THEN r.bin_tokens + t.n_tokens ELSE t.n_tokens END
                FROM rec r JOIN toks t ON t.source = r.source AND t.rn = r.rn + 1
            )
            SELECT source, doc_id, n_tokens, bin_id
            FROM rec ORDER BY source, doc_id
        """,
        # incremental snapshot read: appended rows + genuinely changed rows
        # of the rewritten partitions {0,1}; rows carried forward unchanged
        # by the rewrite must NOT appear
        "catalog_incremental": """
            WITH base AS (
                SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS p, lang
                FROM documents
            ),
            marked AS (
                SELECT doc_id, p,
                       CASE WHEN doc_id % 2 = 0 THEN lang || '!' ELSE lang END AS lang
                FROM base
            )
            SELECT doc_id, lang, p FROM (
                SELECT doc_id, p, lang FROM base
                WHERE doc_id % 3 = 1 AND p NOT IN (0, 1)
                UNION ALL
                SELECT doc_id, p, lang FROM marked
                WHERE doc_id % 3 = 1 AND p IN (0, 1)
                UNION ALL
                SELECT doc_id, p, lang FROM marked
                WHERE doc_id % 3 = 0 AND p IN (0, 1) AND doc_id % 2 = 0
            )
            ORDER BY doc_id
        """,
        # CDX + random access: every record fetched by (offset, length)
        # must hash identically to the source row; SURT key restated in SQL
        "warc_cdx": """
            SELECT 'test,w)/d/' || doc_id AS surt_key,
                   'http://w.test/d/' || doc_id AS url,
                   200 AS status,
                   md5(text) AS body_md5
            FROM documents
            ORDER BY url
        """,
        # WARC round trip: the archive must hand back exactly what went in
        "warc_roundtrip": """
            SELECT 'http://w.test/d/' || doc_id AS url,
                   200 AS status,
                   'text/html' AS content_type,
                   md5(text) AS body_md5
            FROM documents
            ORDER BY url
        """,
        # Foreign/binary .warc.gz ingestion: the ranged re-read's body is
        # unhex(md5(doc_id)) ++ latin-1 'café' by construction, so its hex
        # restates directly from doc_id — any framing/compression/offset
        # error anywhere in the chain changes the bytes and fails the hash
        "warc_binary": """
            SELECT 'http://wb.test/d/' || doc_id AS url,
                   200 AS status,
                   'application/octet-stream' AS content_type,
                   upper(md5(doc_id::VARCHAR)) || '636166E9' AS body_hex
            FROM documents
            ORDER BY url
        """,
        # WET conversion export: visible text re-derived by ordered
        # string_agg over the shared synthesis (text chunks with non-space
        # content, kept verbatim, plus the trailing link anchor 'next')
        "warc_wet": f"""
            WITH {_INTERLEAVED_BASE_SQL},
            vis AS (
                SELECT doc_id, off, t AS entry
                FROM tspans WHERE length(trim(t)) > 0
                UNION ALL
                SELECT doc_id, (nc*2)::INT AS off, 'next' AS entry FROM d
            ),
            txt AS (
                SELECT doc_id,
                       coalesce(string_agg(entry, chr(10) ORDER BY off), '') AS text
                FROM vis GROUP BY doc_id
            )
            SELECT 'http://w.test/d/' || doc_id AS url, md5(text) AS text_md5
            FROM txt ORDER BY url
        """,
        # WAT metadata export: ordered outlink refs (media refs + trailing
        # link target) re-derived from the shared synthesis
        "warc_wat": f"""
            WITH {_INTERLEAVED_BASE_SQL},
            refs AS (
                SELECT doc_id, off, ref FROM mspans
                UNION ALL
                SELECT doc_id, (nc*2)::INT AS off, '/n/' || (doc_id + 1) AS ref FROM d
            ),
            agg AS (
                SELECT doc_id, count(*)::BIGINT AS n_out,
                       md5(string_agg(ref, chr(10) ORDER BY off)) AS links_md5
                FROM refs GROUP BY doc_id
            )
            SELECT 'http://w.test/d/' || doc_id AS url,
                   200 AS status,
                   'text/html' AS content_type,
                   n_out, links_md5
            FROM agg ORDER BY url
        """,
        # shard-export round trip: the text_pack recurrence aggregated per
        # (source, bin) — what the manifest rebuilt from disk must equal
        # token-shard index: portable hash48 sharding + per-shard cumsum
        "export_tokens": r"""
            WITH words AS (
                SELECT doc_id,
                       len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                                       w -> length(w) > 0)) AS n_tokens
                FROM documents
            ),
            -- empty docs survive with n_tokens=0 (tokens_to_ids keeps them
            -- via posexplode_outer; a dropped doc would read as missing)
            nz AS (SELECT * FROM words),
            tot AS (SELECT CAST(ceil(sum(n_tokens)::DOUBLE / 32768) AS BIGINT) AS n_shards FROM nz),
            sh AS (
                SELECT doc_id, n_tokens,
                       CAST(list_sum(list_transform(generate_series(1, 12),
                           i -> (strpos('0123456789abcdef',
                                        substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                                * 16 ** (12 - i))) AS BIGINT) % (SELECT n_shards FROM tot) AS shard_id
                FROM nz
            )
            SELECT shard_id, doc_id,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset",
                   n_tokens::BIGINT AS n_tokens
            FROM sh ORDER BY doc_id
        """,
        "export_shards": r"""
            WITH RECURSIVE toks AS (
                SELECT source, doc_id,
                       len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                       w -> length(w) > 0))::INT AS n_tokens,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents
            ),
            rec(source, rn, doc_id, n_tokens, bin_id, bin_tokens) AS (
                SELECT source, rn, doc_id, n_tokens, 0::BIGINT, n_tokens
                FROM toks WHERE rn = 1
                UNION ALL
                SELECT t.source, t.rn, t.doc_id, t.n_tokens,
                       CASE WHEN r.bin_tokens + t.n_tokens <= 2048
                            THEN r.bin_id ELSE r.bin_id + 1 END,
                       CASE WHEN r.bin_tokens + t.n_tokens <= 2048
                            THEN r.bin_tokens + t.n_tokens ELSE t.n_tokens END
                FROM rec r JOIN toks t ON t.source = r.source AND t.rn = r.rn + 1
            )
            SELECT source, bin_id, count(*) AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens
            FROM rec GROUP BY source, bin_id
            ORDER BY source, bin_id
        """,
        # TF-IDF: same tokenization; smoothed idf with explicit DOUBLE
        # casts (integer '/' differs between engines); half-up rounding
        "text_tfidf": r"""
            WITH t AS (
                SELECT doc_id, lower(w) AS term
                FROM documents,
                     unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                        w -> length(w) > 0)) AS u(w)
            ),
            dt AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
            tdf AS (
                SELECT term, count(*) AS df_count FROM dt GROUP BY term
                HAVING count(*) >= 2
            ),
            n AS (SELECT count(*) AS _n FROM documents)
            SELECT doc_id, term, tf, df_count,
                   floor((tf * (ln((_n + 1)::DOUBLE / (df_count + 1)) + 1.0))
                         * 10000.0 + 0.5) / 10000.0 AS score
            FROM dt JOIN tdf USING (term), n
            ORDER BY doc_id, term
        """,
        # BM25: float associations mirror the Spark expression exactly —
        # (1.2 + 1.0) folded by the engine, k1*(0.25 + (0.75*dl)/avgdl)
        # with python-prefolded 1.0-0.75=0.25, term-sorted left fold seeded
        # at 0.0 (list_reduce seeds at the first element; 0.0 + x == x)
        # corpus-unigram NLL: same ln() arithmetic, contributions folded in
        # term order (list ORDER BY term + list_reduce), half-up rounding
        "text_unigram_lm": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                       w -> length(w) > 0),
                           w -> lower(w)) AS ws
                FROM documents
            ),
            base AS (SELECT doc_id, ws, len(ws) AS dl FROM toks),
            total AS (SELECT SUM(dl)::DOUBLE AS t FROM base),
            ex AS (SELECT doc_id, w AS term FROM toks, UNNEST(ws) AS u(w)),
            freq AS (SELECT term, COUNT(*) AS cf FROM ex GROUP BY term),
            doc_terms AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term),
            contrib AS (
                SELECT d.doc_id, d.term,
                       d.tf * ln(f.cf / (SELECT t FROM total)) AS c
                FROM doc_terms d JOIN freq f USING (term)
            ),
            folded AS (
                SELECT doc_id,
                       list_reduce(list_prepend(0.0, list(c ORDER BY term)),
                                   (acc, x) -> acc + x) AS s
                FROM contrib GROUP BY doc_id
            )
            SELECT b.doc_id,
                   b.dl AS n_tokens,
                   CASE WHEN b.dl > 0
                        THEN floor((-f.s / b.dl) * 10000.0 + 0.5) / 10000.0
                   END AS nll
            FROM base b LEFT JOIN folded f USING (doc_id)
            ORDER BY b.doc_id
        """,
        # greedy BPE: 12 unrolled stages replaying the exact recurrence
        "text_bpe": _bpe_oracle_sql(),
        # script profile: generated from SCRIPT_RANGES/_MOJIBAKE_RE
        "text_script": _script_oracle_sql(),
        # Count-Min: identical md5 cell family, grid sums, min-over-rows
        "sketch_cms": """
            WITH keys AS (
                SELECT CASE WHEN l_orderkey % 3 = 0 THEN 'hot.test'
                            ELSE 'h' || (l_orderkey % 200)::VARCHAR || '.test'
                       END AS key
                FROM lineitem
            ),
            grid AS MATERIALIZED (
                SELECT r.r AS row,
                       ('0x' || substring(md5(r.r::VARCHAR || ':' || key), 1, 3)
                       )::BIGINT::INT AS col,
                       count(*)::BIGINT AS n
                FROM keys, unnest(generate_series(0, 3)) AS r(r)
                GROUP BY 1, 2
            ),
            probe AS (
                SELECT key, r.r AS row,
                       ('0x' || substring(md5(r.r::VARCHAR || ':' || key), 1, 3)
                       )::BIGINT::INT AS col
                FROM (VALUES ('hot.test'), ('h7.test'), ('h13.test'),
                             ('absent.test')) AS p(key),
                     unnest(generate_series(0, 3)) AS r(r)
            )
            SELECT p.key, min(coalesce(g.n, 0))::BIGINT AS est
            FROM probe p LEFT JOIN grid g USING (row, col)
            GROUP BY p.key ORDER BY p.key
        """,
        # HLL registers: bucket prefix + 49-minus-bit-length rho
        "sketch_hll": _hll_oracle_sql(),
        # HDR quantiles: comparison-cascade octave shift, cell cumsum,
        # nearest-rank lower-bound reps — generated from HDR_THRESHOLDS
        "sketch_hdr": _hdr_oracle_sql(),
        # KMV distinct estimate: bottom-64 of the 48-bit md5 hashes per
        # group; exact below k, integer (k-1)*2^48 // h_k at k
        "sketch_kmv": """
            WITH rows_ AS (
                SELECT CASE WHEN o_orderkey % 1000 = 0 THEN 'tiny'
                            ELSE 'g' || (o_orderkey % 8)::VARCHAR END AS grp,
                       'http://h' || (o_orderkey % 97)::VARCHAR ||
                       '.test/o/' || (o_orderkey % 1500)::VARCHAR AS key
                FROM orders
            ),
            hashed AS (
                SELECT DISTINCT grp,
                       ('0x' || substring(md5(key), 1, 12))::BIGINT AS h
                FROM rows_
            ),
            rk AS (
                SELECT grp, h,
                       row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
                FROM hashed
            ),
            bk AS (SELECT * FROM rk WHERE rn <= 64),
            agg AS (
                SELECT grp, count(*)::BIGINT AS n_hashes,
                       max(CASE WHEN rn = 64 THEN h END) AS hk
                FROM bk GROUP BY grp
            )
            SELECT grp AS "group", n_hashes,
                   (CASE WHEN n_hashes < 64 THEN n_hashes
                         ELSE (63 * 281474976710656) // greatest(hk, 1)
                    END)::BIGINT AS est_distinct
            FROM agg ORDER BY "group"
        """,
        # KMV mirror pairs: capped shared-hash candidates, then the
        # bottom-k-of-union Jaccard estimator as rank/join set algebra
        "host_mirror_kmv": """
            WITH rows_ AS (
                SELECT 'h' || (doc_id % 20)::VARCHAR AS grp,
                       'p' || (doc_id % 10)::VARCHAR || '_' ||
                       (doc_id // 20)::VARCHAR AS key
                FROM documents
            ),
            hashed AS (
                SELECT DISTINCT grp,
                       ('0x' || substring(md5(key), 1, 12))::BIGINT AS h
                FROM rows_
            ),
            rk AS (
                SELECT grp, h,
                       row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
                FROM hashed
            ),
            bk AS (SELECT grp, h FROM rk WHERE rn <= 64),
            capped AS (
                SELECT grp, h FROM (
                    SELECT grp, h,
                           row_number() OVER (PARTITION BY h ORDER BY grp) AS bn
                    FROM bk
                ) WHERE bn <= 50
            ),
            pairs AS (
                SELECT a.grp AS ga, b.grp AS gb
                FROM capped a JOIN capped b ON a.h = b.h AND a.grp < b.grp
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            uni AS (
                SELECT p.ga, p.gb, s.h FROM pairs p JOIN bk s ON s.grp = p.ga
                UNION
                SELECT p.ga, p.gb, s.h FROM pairs p JOIN bk s ON s.grp = p.gb
            ),
            ranked AS (
                SELECT ga, gb, h,
                       row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
                FROM uni
            ),
            s AS (SELECT ga, gb, h FROM ranked WHERE rn <= 64),
            stats AS (
                SELECT s.ga, s.gb, count(*)::BIGINT AS union_k,
                       count(CASE WHEN x.h IS NOT NULL AND y.h IS NOT NULL
                                  THEN 1 END)::BIGINT AS shared_k
                FROM s
                LEFT JOIN bk x ON x.grp = s.ga AND x.h = s.h
                LEFT JOIN bk y ON y.grp = s.gb AND y.h = s.h
                GROUP BY 1, 2
            )
            SELECT ga AS group_a, gb AS group_b, shared_k, union_k,
                   (shared_k * 1000000) // union_k AS jaccard_ppm
            FROM stats ORDER BY group_a, group_b
        """,
        # Stupid Backoff bigram LM: LM-subset counts, seen branch cb/cv,
        # backoff (0.4*cw)/N with OOV floor 1, bigram-ordered folds
        "text_bigram_lm": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                       w -> length(w) > 0),
                           w -> lower(w)) AS ws
                FROM documents
            ),
            base AS (SELECT doc_id, ws, len(ws) AS dl FROM toks),
            lmb AS (SELECT ws, dl FROM base WHERE doc_id % 5 = 0),
            total AS (SELECT SUM(dl)::DOUBLE AS n FROM lmb),
            uni AS (
                SELECT w, COUNT(*) AS cw FROM lmb, UNNEST(ws) AS t(w) GROUP BY w
            ),
            bi AS (
                SELECT ws[i-1] || ' ' || ws[i] AS bg, COUNT(*) AS cb
                FROM lmb, UNNEST(range(2, len(ws) + 1)) AS r(i)
                GROUP BY bg
            ),
            docbg AS (
                SELECT doc_id, ws[i-1] || ' ' || ws[i] AS bg, COUNT(*) AS tf
                FROM base, UNNEST(range(2, len(ws) + 1)) AS r(i)
                GROUP BY doc_id, bg
            ),
            contrib AS (
                SELECT d.doc_id, d.bg,
                       d.tf * ln(CASE WHEN coalesce(b.cb, 0) > 0
                                      THEN b.cb / coalesce(u1.cw, 1)
                                      ELSE (0.4 * coalesce(u2.cw, 1))
                                           / (SELECT n FROM total) END) AS c
                FROM docbg d
                LEFT JOIN bi b USING (bg)
                LEFT JOIN uni u1 ON u1.w = split_part(d.bg, ' ', 1)
                LEFT JOIN uni u2 ON u2.w = split_part(d.bg, ' ', 2)
            ),
            folded AS (
                SELECT doc_id,
                       list_reduce(list_prepend(0.0, list(c ORDER BY bg)),
                                   (acc, x) -> acc + x) AS s
                FROM contrib GROUP BY doc_id
            )
            SELECT b.doc_id,
                   greatest(b.dl - 1, 0) AS n_bigrams,
                   CASE WHEN b.dl >= 2
                        THEN floor((-f.s / (b.dl - 1)) * 10000.0 + 0.5) / 10000.0
                   END AS nll2
            FROM base b LEFT JOIN folded f USING (doc_id)
            ORDER BY b.doc_id
        """,
        # CCNet terciles: same LM CTE, cutpoints via quantile_cont (identical
        # p*(n-1) interpolation to Spark's exact percentile), both cutpoints
        # and nll half-up rounded BEFORE the <= compares
        "text_ccnet": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                       w -> length(w) > 0),
                           w -> lower(w)) AS ws
                FROM documents
            ),
            base AS (SELECT doc_id, ws, len(ws) AS dl FROM toks),
            total AS (SELECT SUM(dl)::DOUBLE AS t FROM base),
            ex AS (SELECT doc_id, w AS term FROM toks, UNNEST(ws) AS u(w)),
            freq AS (SELECT term, COUNT(*) AS cf FROM ex GROUP BY term),
            doc_terms AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term),
            contrib AS (
                SELECT d.doc_id, d.term,
                       d.tf * ln(f.cf / (SELECT t FROM total)) AS c
                FROM doc_terms d JOIN freq f USING (term)
            ),
            folded AS (
                SELECT doc_id,
                       list_reduce(list_prepend(0.0, list(c ORDER BY term)),
                                   (acc, x) -> acc + x) AS s
                FROM contrib GROUP BY doc_id
            ),
            scored AS (
                SELECT b.doc_id, b.dl AS n_tokens,
                       CASE WHEN b.dl > 0
                            THEN floor((-f.s / b.dl) * 10000.0 + 0.5) / 10000.0
                       END AS nll
                FROM base b LEFT JOIN folded f USING (doc_id)
            ),
            cuts AS (
                SELECT floor(quantile_cont(nll, 1.0/3.0) * 10000.0 + 0.5) / 10000.0 AS c1,
                       floor(quantile_cont(nll, 2.0/3.0) * 10000.0 + 0.5) / 10000.0 AS c2
                FROM scored WHERE nll IS NOT NULL
            )
            SELECT doc_id, n_tokens, nll,
                   CASE WHEN nll IS NULL THEN NULL
                        WHEN nll <= c1 THEN 'head'
                        WHEN nll <= c2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored, cuts ORDER BY doc_id
        """,
        # DUST mining: group-by evidence over (rest-of-url, param) — every
        # step (param explode, rest splice, absent-variant join, verdict)
        # restated in SQL; never the generator's irrelevance labels
        "url_dust": f"""
            WITH crawled AS (
                SELECT DISTINCT {_DUST_URL} AS url, {_DUST_HASH} AS hash
                FROM orders
            ),
            q AS (
                SELECT url, hash, split_part(url, '?', 1) AS base,
                       string_split(substr(url, instr(url, '?') + 1), '&') AS params
                FROM crawled
                WHERE instr(url, '?') > 0
                  AND length(substr(url, instr(url, '?') + 1)) > 0
            ),
            rested AS (
                SELECT CASE WHEN len(params) = 1 THEN base
                            ELSE base || '?' || array_to_string(
                                list_concat(params[1:pos-1], params[pos+1:]), '&')
                       END AS rest,
                       split_part(params[pos], '=', 1) AS param,
                       params[pos] AS variant, hash
                FROM q, UNNEST(range(1, len(params) + 1)) AS t(pos)
            ),
            absent AS (
                SELECT DISTINCT r.rest, r.param, '∅' AS variant, c.hash
                FROM (SELECT DISTINCT rest, param FROM rested) r
                JOIN crawled c ON c.url = r.rest
            ),
            grouped AS (
                SELECT rest, param,
                       count(DISTINCT variant) AS nv,
                       count(DISTINCT hash) AS nh
                FROM (SELECT * FROM rested UNION ALL SELECT * FROM absent)
                GROUP BY rest, param
            )
            SELECT param,
                   count(*)::BIGINT AS n_groups,
                   sum(CASE WHEN nv >= 2 AND nh = 1 THEN 1 ELSE 0 END)::BIGINT AS n_support,
                   sum(CASE WHEN nh >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_violation,
                   (sum(CASE WHEN nv >= 2 AND nh = 1 THEN 1 ELSE 0 END) >= 2
                    AND sum(CASE WHEN nh >= 2 THEN 1 ELSE 0 END) = 0) AS irrelevant
            FROM grouped GROUP BY param ORDER BY param
        """,
        # Jain's index: integer count sums cast to double in the same order
        # as metrics.fairness_stats, half-up rounded at 1e6
        # integer slot split + weight-desc round-robin, replayed in SQL
        "frontier_partition_plan": """
            WITH hc AS (
                SELECT CASE WHEN o_orderkey % 5 = 0
                            THEN 'big' || (o_orderkey % 2)::VARCHAR
                            ELSE 'h' || (o_orderkey % 400)::VARCHAR END AS host,
                       count(*)::BIGINT AS n
                FROM orders GROUP BY 1
            ),
            sl AS (
                SELECT host, n,
                       greatest(1, ceil(n / 500.0)::INT) AS n_slots
                FROM hc
            ),
            slots AS (
                SELECT host, n_slots, s.salt::INT AS salt,
                       (n // n_slots
                        + CASE WHEN (n % n_slots) > s.salt THEN 1 ELSE 0 END
                       )::BIGINT AS slot_weight
                FROM sl, unnest(generate_series(0, n_slots - 1)) AS s(salt)
            )
            SELECT host, salt, n_slots, slot_weight,
                   ((row_number() OVER (ORDER BY slot_weight DESC, host ASC,
                                        salt ASC) - 1) % 8)::INT AS partition
            FROM slots ORDER BY host, salt
        """,
        # AIMD delay fold: identical integer recurrence via list_reduce,
        # init prepended as the accumulator's first element
        "politeness_adaptive": """
            WITH f AS (
                SELECT 'h' || (user_id % 40)::VARCHAR || '.example.com' AS host,
                       ts, event_id,
                       ((CASE WHEN event_type = 'error' THEN 503 ELSE 200 END) >= 400
                        OR (event_id % 3000) >= 2000) AS bad
                FROM events
            ),
            g AS (
                SELECT host,
                       count(*)::BIGINT AS n_fetches,
                       sum(bad::BIGINT)::BIGINT AS n_penalties,
                       list_transform(
                           list_sort(list(struct_pack(ts := ts, eid := event_id,
                                                      bad := bad))),
                           e -> e.bad::BIGINT) AS evs
                FROM f GROUP BY host
            )
            SELECT host, n_fetches, n_penalties,
                   list_reduce(
                       list_prepend(1000::BIGINT, evs),
                       (acc, x) -> CASE WHEN x = 1
                                   THEN least(acc + 500, 60000)
                                   ELSE greatest((acc * 80) // 100, 100) END
                   )::BIGINT AS delay_ms
            FROM g ORDER BY host
        """,
        "politeness_fairness": """
            WITH fetched AS (
                SELECT 'h' || CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_custkey % 4
                               ELSE o_custkey % 40 END AS INT) AS host
                FROM orders
            ),
            counts AS (SELECT host, count(*) AS c FROM fetched GROUP BY host)
            SELECT count(*)::BIGINT AS n_hosts,
                   sum(c)::BIGINT AS n_fetched,
                   floor(((sum(c)::DOUBLE * sum(c)::DOUBLE)
                          / (count(*)::DOUBLE * sum(c*c)::DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0 AS jain,
                   floor((max(c)::DOUBLE / sum(c)::DOUBLE)
                         * 1000000.0 + 0.5) / 1000000.0 AS top_share
            FROM counts
        """,
        # sectional media near-dup: same substr/md5 chunking, same capped
        # (chunk_idx, chunk_md5) band join, same >= 6-of-8 threshold
        "media_chunk_dedup": f"""
            WITH assets AS (
                SELECT 'm' || lpad(CAST(p_partkey AS STRING), 8, '0') AS media_id,
                       {_MEDIA_CHUNK_DATA} AS data
                FROM part
            ),
            widths AS (
                SELECT media_id, data,
                       CAST(ceil(length(data) / 8.0) AS INT) AS w
                FROM assets WHERE length(data) > 0
            ),
            sigs AS (
                SELECT media_id, pos - 1 AS chunk_idx,
                       md5(substr(data, 1 + (pos - 1) * w, w)) AS chunk_md5
                FROM widths, UNNEST(range(1, 9)) AS t(pos)
                WHERE length(substr(data, 1 + (pos - 1) * w, w)) > 0
            ),
            capped AS (
                SELECT media_id, chunk_idx, chunk_md5 FROM (
                    SELECT *, row_number() OVER (PARTITION BY chunk_idx, chunk_md5
                                                 ORDER BY media_id) AS rn
                    FROM sigs
                ) WHERE rn <= 50
            ),
            pairs AS (
                SELECT l.media_id AS a, r.media_id AS b,
                       count(DISTINCT l.chunk_idx)::BIGINT AS shared
                FROM capped l JOIN capped r
                  ON l.chunk_idx = r.chunk_idx AND l.chunk_md5 = r.chunk_md5
                 AND l.media_id < r.media_id
                GROUP BY a, b
            )
            SELECT a, b, shared FROM pairs WHERE shared >= 6 ORDER BY a, b
        """,
        "text_bm25": r"""
            WITH b2 AS (
                SELECT doc_id,
                       list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                   w -> length(w) > 0) AS words
                FROM documents
            ),
            b3 AS (SELECT doc_id, words, len(words) AS dl FROM b2),
            stats AS (SELECT count(*) AS _n, avg(dl) AS _avgdl FROM b3),
            hits AS (
                SELECT doc_id, dl, lower(w) AS term, count(*) AS tf
                FROM b3, unnest(words) AS u(w)
                WHERE lower(w) IN ('table', 'scan', 'query')
                GROUP BY doc_id, dl, lower(w)
            ),
            tdf AS (SELECT term, count(*) AS df_count FROM hits GROUP BY term),
            per AS (
                SELECT h.doc_id, h.term,
                       (ln((s._n - t.df_count + 0.5) / (t.df_count + 0.5) + 1.0)
                        * ((h.tf * (1.2 + 1.0))
                           / (h.tf + 1.2 * (0.25 + ((0.75 * h.dl) / s._avgdl))))) AS c
                FROM hits h JOIN tdf t USING (term), stats s
            ),
            scored AS (
                SELECT doc_id,
                       floor(list_reduce(
                                 list_transform(list(struct_pack(term := term, c := c)
                                                     ORDER BY term),
                                                x -> x.c),
                                 (a, b) -> a + b) * 10000.0 + 0.5) / 10000.0 AS score
                FROM per GROUP BY doc_id
            )
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk,
                   score
            FROM scored ORDER BY score DESC, doc_id ASC LIMIT 25
        """,
        # DSIR importance resampling: same tokenization, add-one smoothed
        # target/raw unigram LMs over the union vocab, term-ordered fold,
        # half-up rounding — the ln() arithmetic mirrors ops.text.dsir_logratio
        # operation-for-operation.
        "text_dsir": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_transform(
                           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                       w -> length(w) > 0),
                           w -> lower(w)) AS ws
                FROM documents
            ),
            base AS (
                SELECT doc_id, ws, len(ws) AS dl,
                       len(list_filter(ws, w -> w = 'the')) >= 2 AS tgt
                FROM toks
            ),
            totals AS (
                SELECT SUM(dl)::BIGINT AS tr,
                       SUM(CASE WHEN tgt THEN dl ELSE 0 END)::BIGINT AS tt
                FROM base
            ),
            ex AS (SELECT doc_id, tgt, w AS term FROM base, UNNEST(ws) AS u(w)),
            freq AS (
                SELECT term, COUNT(*)::BIGINT AS cr,
                       SUM(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct
                FROM ex GROUP BY term
            ),
            vocab AS (SELECT COUNT(*)::BIGINT AS v FROM freq),
            doc_terms AS (
                SELECT doc_id, term, COUNT(*)::BIGINT AS tf
                FROM ex GROUP BY doc_id, term
            ),
            contrib AS (
                SELECT d.doc_id, d.term,
                       d.tf * (ln((f.ct + 1)::DOUBLE
                                  / ((SELECT tt FROM totals) + (SELECT v FROM vocab))::DOUBLE)
                               - ln((f.cr + 1)::DOUBLE
                                    / ((SELECT tr FROM totals) + (SELECT v FROM vocab))::DOUBLE)) AS c
                FROM doc_terms d JOIN freq f USING (term)
            ),
            folded AS (
                SELECT doc_id,
                       list_reduce(list_prepend(0.0, list(c ORDER BY term)),
                                   (acc, x) -> acc + x) AS s
                FROM contrib GROUP BY doc_id
            ),
            scored AS (
                SELECT b.doc_id, b.dl AS n_tokens, b.tgt AS is_target,
                       CASE WHEN b.dl > 0
                            THEN floor((f.s / b.dl) * 10000.0 + 0.5) / 10000.0
                       END AS logratio
                FROM base b LEFT JOIN folded f USING (doc_id)
            ),
            topk AS (
                SELECT * FROM scored
                ORDER BY logratio DESC NULLS LAST, doc_id LIMIT 200
            )
            SELECT row_number() OVER (ORDER BY logratio DESC NULLS LAST, doc_id) AS rnk,
                   doc_id, n_tokens, is_target, logratio
            FROM topk ORDER BY rnk
        """,
        # PII redaction: generated from the SAME PII_PATTERNS constant the
        # library op applies, in the same order, with the same injection.
        "text_redact": _pii_redact_oracle(),
        # Soft-404 detection: generated from the SAME SOFT404_MARKERS
        # constant with the identical per-residue text injection.
        "text_soft404": _soft404_oracle(),
        # SemDeDup: md5-sample centroids + argmax cells + within-cell
        # keep-lowest-id at cosine >= 0.95 (Spark float fold throughout).
        "semdedup": _semdedup_oracle(n_centroids=16, threshold=0.95, max_cluster=200),
        # JL projection: shared planes/dots CTEs, component = d/sqrt(8)
        "embedding_project": f"""
            WITH vec AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            {_lsh_bucket_ctes(8)}
            SELECT vec_id, p::INTEGER AS j,
                   round(d / sqrt(8.0), 6) AS comp
            FROM dots ORDER BY vec_id, j
        """,
        # Within-doc line dedup: same lined synthesis, 1-based index lambda
        # mirrors Spark's array_position == i + 1 first-occurrence rule.
        "text_line_dedup": r"""
            WITH lined AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                                 substring(coalesce(text, ''), 1, 40),
                                 substring(coalesce(text, ''), 41, 40),
                                 '',
                                 substring(coalesce(text, ''), 1, 40),
                                 substring(coalesce(text, ''), 41, 40)) AS t
                FROM documents
            ),
            l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM lined),
            k AS (
                SELECT doc_id, lines,
                       list_filter(lines,
                           (x, i) -> length(x) < 1 OR list_position(lines, x) = i)
                           AS kept
                FROM l
            )
            SELECT doc_id, array_to_string(kept, chr(10)) AS text_deduped,
                   len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept
            FROM k ORDER BY doc_id
        """,
        # Domain rollup: per-doc e4 score identical to the text_quality
        # oracle, then order-independent integer aggregation per source.
        "domain_quality": r"""
            WITH f AS (
                SELECT doc_id, source,
                       length(text) AS n_chars2,
                       len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
                       len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                       len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|that)\b')) AS n_stop
                FROM documents
            ),
            s AS (
                SELECT source, n_tokens,
                       floor((least(n_tokens / 100.0, 1.0) * 0.3
                          + (floor((n_alpha::DOUBLE / greatest(n_chars2, 1)) * 10000.0 + 0.5) / 10000.0) * 0.4
                          + least((floor((n_stop::DOUBLE / greatest(n_tokens, 1)) * 10000.0 + 0.5) / 10000.0) * 5.0, 1.0) * 0.3)
                         * 10000.0 + 0.5)::BIGINT AS s4
                FROM f
            ),
            g AS (
                SELECT source, count(*)::BIGINT AS n_docs,
                       sum(n_tokens)::BIGINT AS sum_tokens,
                       (sum(s4) // count(*))::BIGINT AS avg_score_e4,
                       sum((s4 < 5000)::INT)::BIGINT AS n_low
                FROM s GROUP BY source
            )
            SELECT source, n_docs, sum_tokens, avg_score_e4, n_low,
                   (n_low * 1000000 // n_docs)::BIGINT AS low_ppm,
                   (n_docs >= 3 AND n_low * 1000000 // n_docs >= 400000) AS blocked
            FROM g ORDER BY source
        """,
        # Boilerplate span classification: replays the chrome+body span
        # synthesis and the integerized jusText-style rules.
        "spans_boilerplate": _boilerplate_oracle(),
        # Gopher rules: same word/line/gram definitions as ops.text
        # .gopher_features (split on \s+, lines on \n, grams joined with one
        # space); rounding is the portable half-up form; the top-2-gram
        # tie-break is (count, char-length, value) DESC in both engines.
        # C4 cleaning: the oracle CONSTRUCTS the expected kept lines / flags
        # from the same synthesis template (which lines pass is known by
        # construction) — it never re-runs the engine's line predicates, so
        # any drift in terminal-punct / word-count / blockword / page-gate
        # logic mismatches. Slices w[a:b] are 1-based inclusive = Spark
        # slice(w, a, b-a+1).
        "text_c4": """
            WITH base AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            syn AS (
                SELECT doc_id,
                       array_to_string(w[1:6], ' ') || '.' AS l1,
                       array_to_string(w[5:10], ' ')
                           || (CASE WHEN doc_id % 3 = 0 THEN '!' ELSE '?' END) AS l3,
                       CASE WHEN doc_id % 17 = 0 THEN NULL
                            ELSE array_to_string(w[3:8], ' ')
                                 || (CASE WHEN doc_id % 4 = 0 THEN '."' ELSE '.' END)
                       END AS l6,
                       (doc_id % 5 = 0) AS js,
                       (doc_id % 11 = 0) AS b0,
                       (doc_id % 13 = 0) AS b1
                FROM base
            )
            SELECT doc_id,
                   l1 || chr(10) || l3
                      || (CASE WHEN l6 IS NULL THEN '' ELSE chr(10) || l6 END)
                       AS text_clean,
                   (4 + (CASE WHEN js THEN 1 ELSE 0 END)
                      + (CASE WHEN l6 IS NULL THEN 0 ELSE 1 END)
                      + (CASE WHEN b0 THEN 1 ELSE 0 END)
                      + (CASE WHEN b1 THEN 1 ELSE 0 END))::BIGINT AS n_lines,
                   (2 + (CASE WHEN l6 IS NULL THEN 0 ELSE 1 END))::BIGINT
                       AS n_kept_lines,
                   (2 + (CASE WHEN l6 IS NULL THEN 0 ELSE 1 END))::BIGINT
                       AS n_sentences,
                   b0 AS has_block_0,
                   b1 AS has_block_1,
                   (l6 IS NOT NULL AND NOT b0 AND NOT b1) AS c4_keep
            FROM syn ORDER BY doc_id
        """,
        "text_gopher": r"""
            WITH base AS (
                SELECT doc_id, coalesce(text, '') AS t,
                       list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                   w -> length(w) > 0) AS words,
                       string_split(coalesce(text, ''), chr(10)) AS lines
                FROM documents
            ),
            scal AS (
                SELECT doc_id,
                       length(t) AS n_chars,
                       len(words) AS n_words,
                       len(lines) AS n_lines,
                       floor((length(array_to_string(words, ''))::DOUBLE
                              / greatest(len(words), 1)) * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
                       floor((len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                              / greatest(len(words), 1)) * 10000.0 + 0.5) / 10000.0 AS frac_alpha_words,
                       floor((len(regexp_extract_all(t, '#|\.\.\.|…'))::DOUBLE
                              / greatest(len(words), 1)) * 10000.0 + 0.5) / 10000.0 AS symbol_ratio,
                       len(list_filter(words, w -> list_contains(
                           ['the','be','to','of','and','that','have','with'], lower(w)))) AS stop_hits,
                       floor((len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))::DOUBLE
                              / len(lines)) * 10000.0 + 0.5) / 10000.0 AS frac_bullet_lines,
                       floor((len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$')))::DOUBLE
                              / len(lines)) * 10000.0 + 0.5) / 10000.0 AS frac_ellipsis_lines
                FROM base
            ),
            lc AS (
                SELECT doc_id, l AS value, count(*) AS cnt, length(l) AS vlen
                FROM base, unnest(lines) AS u(l) GROUP BY doc_id, l
            ),
            g2 AS (
                SELECT doc_id, g AS value, count(*) AS cnt, length(g) AS vlen
                FROM base, unnest(list_transform(generate_series(1, len(words) - 1),
                                  i -> array_to_string(words[i:i+1], ' '))) AS u(g)
                GROUP BY doc_id, g
            ),
            g5 AS (
                SELECT doc_id, g AS value, count(*) AS cnt, length(g) AS vlen
                FROM base, unnest(list_transform(generate_series(1, len(words) - 4),
                                  i -> array_to_string(words[i:i+4], ' '))) AS u(g)
                GROUP BY doc_id, g
            ),
            linestats AS (
                SELECT doc_id, sum(cnt)::BIGINT AS ltot, count(*) AS ldist,
                       sum(CASE WHEN cnt > 1 THEN cnt * vlen ELSE 0 END)::BIGINT AS dupchars
                FROM lc GROUP BY doc_id
            ),
            toprow AS (
                SELECT doc_id, cnt, vlen FROM (
                    SELECT doc_id, cnt, vlen,
                           row_number() OVER (PARTITION BY doc_id
                               ORDER BY cnt DESC, vlen DESC, value DESC) AS rn
                    FROM g2
                ) WHERE rn = 1
            ),
            g5stats AS (
                SELECT doc_id,
                       sum(CASE WHEN cnt > 1 THEN cnt * vlen ELSE 0 END)::BIGINT AS dupchars
                FROM g5 GROUP BY doc_id
            ),
            feats AS (
                SELECT s.*,
                       floor(((ls.ltot - ls.ldist)::DOUBLE
                              / greatest(ls.ltot, 1)) * 10000.0 + 0.5) / 10000.0 AS dup_line_frac,
                       least(floor((ls.dupchars::DOUBLE / greatest(s.n_chars, 1))
                                   * 10000.0 + 0.5) / 10000.0, 1.0) AS dup_line_char_frac,
                       least(floor((coalesce(tr.cnt * tr.vlen, 0)::DOUBLE
                                    / greatest(s.n_chars, 1))
                                   * 10000.0 + 0.5) / 10000.0, 1.0) AS top_ngram_char_frac,
                       least(floor((coalesce(g5s.dupchars, 0)::DOUBLE
                                    / greatest(s.n_chars, 1))
                                   * 10000.0 + 0.5) / 10000.0, 1.0) AS dup_ngram_char_frac
                FROM scal s
                JOIN linestats ls USING (doc_id)
                LEFT JOIN toprow tr USING (doc_id)
                LEFT JOIN g5stats g5s USING (doc_id)
            )
            SELECT *,
                   (n_words BETWEEN 50 AND 100000
                    AND mean_word_len BETWEEN 3.0 AND 10.0
                    AND symbol_ratio < 0.1
                    AND frac_bullet_lines < 0.9
                    AND frac_ellipsis_lines < 0.3
                    AND frac_alpha_words >= 0.8
                    AND stop_hits >= 2
                    AND dup_line_frac <= 0.3
                    AND dup_line_char_frac <= 0.2
                    AND top_ngram_char_frac <= 0.2
                    AND dup_ngram_char_frac <= 0.15) AS gopher_pass
            FROM feats ORDER BY doc_id
        """,
        "events_sessionize": _SESSIONIZE_ORACLE,
        # the streaming op's latest-row-per-session output equals the batch
        # op (see q_events_sessionize_stream), so both share one oracle
        "events_sessionize_stream": _SESSIONIZE_ORACLE,
        # streaming exact dedup: the kept-digest-set contract — one row per
        # distinct (dup-injected) content, derivation independent of which
        # duplicate row the state store happened to keep
        "dedup_exact_stream": """
            SELECT DISTINCT md5(coalesce(
                       CASE WHEN doc_id % 2 = 1
                            THEN 'shared-' || (doc_id // 10)
                            ELSE text END, '')) AS digest
            FROM documents ORDER BY digest
        """,
        "events_windowed": """
            SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_v
            FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
        """,
        # the streaming twin converges to the identical batch result (update
        # mode, last emission per window) -- same oracle by construction
        "events_windowed_stream": """
            SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_v
            FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
        """,
        "headers_histogram": """
            WITH h AS (
                SELECT 'content-type' AS header,
                       CASE o_orderkey % 3 WHEN 0 THEN 'text/html'
                                           WHEN 1 THEN 'text/css'
                                           ELSE 'image/png' END AS value
                FROM orders
                UNION ALL
                SELECT 'server' AS header, 'srv-' || (o_orderkey % 4) AS value
                FROM orders
            )
            SELECT header, value, count(*) AS n
            FROM h GROUP BY header, value ORDER BY header, value
        """,
        # rel=canonical consolidation: expected groups constructed from the
        # same residue rule the Spark side renders into HTML and re-extracts.
        "canonical_dedup": """
            WITH d AS (SELECT doc_id FROM documents WHERE n_chars >= 140),
            m AS (
                SELECT doc_id,
                       'http://h0.test/d/' || doc_id::VARCHAR AS url,
                       'http://h0.test/d/' || (doc_id - (doc_id % 3))::VARCHAR
                           AS canonical_url
                FROM d
            ),
            sel AS (
                SELECT doc_id, url, canonical_url,
                       (url = canonical_url) AS is_self,
                       row_number() OVER (
                           PARTITION BY canonical_url
                           ORDER BY (url = canonical_url) DESC, url) AS rn,
                       count(*) OVER (PARTITION BY canonical_url) AS nv
                FROM m
            )
            SELECT doc_id, url, canonical_url, nv::BIGINT AS n_variants,
                   is_self AS is_canonical_self
            FROM sel WHERE rn = 1 ORDER BY canonical_url
        """,
        "anchor_texts": """
            WITH links AS (
                SELECT 'http://t.test/page/' || doc_id AS src,
                       'http://t.test/hub/' || (doc_id % 50) AS url,
                       'k' || (doc_id % 7) AS anchor
                FROM documents
                UNION ALL
                SELECT 'http://t.test/page/' || doc_id,
                       'http://t.test/hub/' || (doc_id % 50),
                       'dup'
                FROM documents
                UNION ALL
                SELECT 'http://t.test/page/' || doc_id,
                       'http://t.test/page/' || (doc_id + 1),
                       'next'
                FROM documents
            ),
            per_anchor AS (
                SELECT url, anchor, count(*) AS n
                FROM links WHERE anchor IS NOT NULL
                GROUP BY url, anchor
            ),
            top AS (
                SELECT url, anchor, n,
                       row_number() OVER (PARTITION BY url ORDER BY n DESC, anchor) AS rn
                FROM per_anchor
            )
            SELECT l.url,
                   count(*) AS n_inlinks,
                   count(DISTINCT l.src) AS n_docs,
                   any_value(t.anchor) AS top_anchor,
                   any_value(t.n) AS top_anchor_n
            FROM links l JOIN top t ON l.url = t.url AND t.rn = 1
            GROUP BY l.url
            ORDER BY l.url
        """,
        "media_caption": """
            WITH d AS (
                SELECT doc_id,
                       trim(regexp_replace(substring(regexp_replace(text, '[<>"'']', ' ', 'g'), 1, 60), '\\s+', ' ', 'g')) AS t1,
                       trim(regexp_replace(substring(regexp_replace(text, '[<>"'']', ' ', 'g'), 61, 60), '\\s+', ' ', 'g')) AS t2
                FROM documents WHERE n_chars >= 140
            )
            SELECT doc_id,
                   '/img/' || (doc_id % 50) || '.png' AS media_ref,
                   2 AS "offset",
                   t1 AS context_before,
                   t2 AS context_after
            FROM d
            ORDER BY doc_id, "offset"
        """,
        "media_sniff": _sniff_oracle_sql(),
        "media_frame_plan": """
            SELECT media_id, frame_no, media_id || '#f' || frame_no AS frame_ref
            FROM (SELECT md5(p_name) AS media_id FROM part),
                 unnest(generate_series(0, 20, 10)) AS t(frame_no)
            ORDER BY media_id, frame_no
        """,
        # audio segmentation plan: generate_series replays the same
        # start/hop/least arithmetic (zero-duration -> no rows; short tail
        # segment clamped by least)
        "media_audio_segments": """
            WITH m AS (
                SELECT md5(p_name) AS media_id,
                       ((p_partkey % 100) * 7000)::BIGINT AS dur
                FROM part
            )
            SELECT m.media_id,
                   CAST(u.s / 20000 AS INTEGER) AS seg_no,
                   u.s::BIGINT AS start_ms,
                   least(u.s + 30000, m.dur)::BIGINT AS end_ms,
                   m.media_id || '#s' || CAST(u.s / 20000 AS INTEGER) AS seg_ref
            FROM m, UNNEST(CASE WHEN m.dur > 0
                                THEN generate_series(0, m.dur - 1, 20000)
                                ELSE [] END) AS u(s)
            WHERE u.s = 0 OR u.s + 10000 < m.dur
            ORDER BY media_id, seg_no
        """,
        "media_features": """
            WITH m AS (
                SELECT md5(p_name) AS media_id, md5(p_name) AS doc_id,
                       'image' AS kind, 'image/png' AS content_type,
                       length(p_name)::BIGINT AS n_bytes, md5(p_name) AS h
                FROM part
            ),
            hd AS (
                SELECT *,
                       (strpos('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(h, 2, 1)) - 1) AS b0,
                       (strpos('0123456789abcdef', substring(h, 3, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(h, 4, 1)) - 1) AS b1,
                       (strpos('0123456789abcdef', substring(h, 5, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substring(h, 6, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substring(h, 7, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(h, 8, 1)) - 1) AS v16
                FROM m
            )
            SELECT media_id, doc_id, kind, content_type, n_bytes,
                   CAST(64 + b0 AS INTEGER) AS width,
                   CAST(64 + b1 AS INTEGER) AS height,
                   floor(v16 / 65535.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
                   false AS decode_ok
            FROM hd ORDER BY media_id
        """,
        # rows-only (engine-only pipeline): crawl_wave — the full multi-wave
        # crawl (snapshots + pandas UDFs + window dequeue) is not one SQL
        # statement; its correctness gate is the pytest golden suite against
        # an independent pure-Python oracle (tests/oracle.py).
    }

"""crawl_waves: ``Crawler.seed`` + one ``Crawler.crawl(1)`` call per wave over
a synthetic web of 48 hosts with Zipf-skewed page counts.

At this size a wave is almost all fixed per-wave cost (job launches, table
commits, robots probes), which is what this workload exists to measure. The
frontier stays far below the engine's Bloom threshold, so the seen filter is
bypassed and dedup is the plain anti-join; bodies are small, so the parse
Arrow boundary carries little. Gate: the URL-seen set and the (wave, host,
rank) crawl order equal the pure-Python oracle crawl on the same corpus,
seeds and budget.
"""

from __future__ import annotations

import os

from .common import Clock, cpu_count, snapshot_total

N_HOSTS = 48
BASE_PAGES = 1000
MEDIA_ID_SPACE = 200
SEEDS_PER_HOST = 4
BUDGET = 120
SETUP_REPS = 3


def _seed_urls(spec) -> list[str]:
    return [
        f"http://h{h}.test/p/{p}.html"
        for h in range(spec.n_hosts)
        for p in range(min(SEEDS_PER_HOST, spec.pages_for_host(h)))
    ]


def run(spark, seed: int, seconds: float, work_dir: str, run_ops, span=None) -> dict:
    # ``span`` goes unused: the crawler forces its dequeue and link discovery
    # inside run_wave, so their cost is part of the run_wave self time
    from pyspark.sql import functions as F

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.corpus import CorpusSpec, build_corpus
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness
    from oracle import oracle_crawl

    n = cpu_count()
    spec = CorpusSpec(
        seed=seed, n_hosts=N_HOSTS, base_pages=BASE_PAGES, media_id_space=MEDIA_ID_SPACE
    )
    seeds = _seed_urls(spec)
    cfg = CrawlConfig(
        num_partitions=n,
        politeness=Politeness((Limit(r".*", BUDGET),)),
        sub_salts=4,
    )

    setup_s = []
    corpus = crawler = None
    for rep in range(SETUP_REPS):
        clock = Clock()
        if corpus is not None:
            corpus.unpersist()
        # the corpus stands in for the network; one partition per core keeps
        # the fetch join's task count at the machine's parallelism
        corpus = build_corpus(spark, spec).coalesce(n).persist()
        corpus.count()
        catalog = SnapshotCatalog(spark, os.path.join(work_dir, f"crawl{rep}"))
        crawler = Crawler(spark, catalog, CorpusFetcher(corpus), cfg)
        crawler.seed(seeds)
        setup_s.append(clock.lap())

    def wave(i: int) -> dict:
        stats = crawler.crawl(1)
        if not stats:
            raise RuntimeError(f"frontier drained before wave {i}")
        s = stats[0]
        return {
            "wave": s.wave,
            "urls": s.n_selected + s.n_new_urls,
            "docs": s.n_fetched_ok + s.n_errors,
            "selected": s.n_selected,
            "new": s.n_new_urls,
        }

    snaps = {"n": snapshot_total(crawler.catalog)}

    def check(rec: dict) -> bool:
        total = snapshot_total(crawler.catalog)
        rec["snapshots"], snaps["n"] = total - snaps["n"], total
        return True  # the oracle gate runs once the loop is done

    ops = run_ops(wave, seconds, check)

    # -- gate: oracle crawl over the same corpus, seeds, budget and waves ----
    waves_run = [r["wave"] for r in ops if "wave" in r]
    corpus_map = {
        r["url"]: (r["status"], r["content_type"], r["body"])
        for r in corpus.select("url", "status", "content_type", "body").collect()
    }
    # corpus quoting style 5 appends '?a>b' inside an attribute; cleaning
    # percent-encodes it, so those variants can enter the frontier too
    urls = corpus.select("url").union(
        corpus.select(F.concat(F.col("url"), F.lit("?a%3Eb")).alias("url"))
    )
    url_hash = {r["url"]: r["h"] for r in urls.select("url", F.xxhash64("url").alias("h")).collect()}
    want = oracle_crawl(
        corpus_map, seeds, url_hash, limits=[(".*", BUDGET)], max_waves=len(waves_run)
    )
    got_order = {
        (r["p"], r["host"], r["rank"]): r["url"]
        for r in crawler.documents().select("p", "host", "rank", "url").collect()
    }
    got_seen = {r["url"] for r in crawler.frontier.read().select("url").collect()}
    for r in ops:
        if "wave" not in r:
            continue
        w = r["wave"]
        mine = {k: v for k, v in got_order.items() if k[0] == w}
        theirs = {k: v for k, v in want.crawl_order.items() if k[0] == w}
        r["ok"] = r["ok"] and mine == theirs
    if got_seen != set(want.frontier) and ops:
        ops[-1]["ok"] = False
    corpus.unpersist()
    return {
        "ops": ops,
        "setup_s": setup_s,
        "detail": {
            "corpus_rows": len(corpus_map),
            "seed_urls": len(seeds),
            "budget": BUDGET,
            "url_seen": len(got_seen),
            "order_rows": len(got_order),
        },
    }

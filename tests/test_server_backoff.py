"""Retry-After / 429-503 server-backoff policy (ServerBackoff):

  * throttled URLs are rescheduled, not terminal errors, until the
    throttle retry budget (tries) is exhausted;
  * the throttling HOST is excluded from dequeue for the server-requested
    number of waves (Retry-After delta-seconds → waves), riding the same
    host_budgets join as every other politeness cap;
  * a wave where every scheduled host is standing down WAITS (idle tick)
    instead of terminating the crawl — and still terminates once the
    frontier drains.

No reference analog (kermit treats any non-2xx as a terminal item error,
RequestItem.coffee:295-299); the policy is RFC 9110 §10.2.3 / RFC 6585
obedience a production crawler needs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.crawler import Crawler, CrawlConfig, ServerBackoff
from kermit_spark.fetch import CorpusFetcher
from kermit_spark.frontier import ERROR, VISITED


def _corpus(spark):
    rows = [
        # ok.test: a 3-page chain; p0 also links to the throttling host
        ("http://ok.test/p0", 200, "text/html",
         '<a href="http://ok.test/p1">n</a><a href="http://t.test/slow">s</a>',
         None),
        ("http://ok.test/p1", 200, "text/html",
         '<a href="http://ok.test/p2">n</a>', None),
        ("http://ok.test/p2", 200, "text/html", "done", None),
        # t.test: always throttles, asks for 120 s (= 2 waves at 60 s/wave)
        ("http://t.test/slow", 429, "text/html", "slow down", "120"),
    ]
    return spark.createDataFrame(
        rows, "url string, status int, content_type string, body string, retry_after string"
    )


def test_retry_after_reschedule_standdown_and_exhaustion(spark, tmp_path):
    cfg = CrawlConfig(
        num_partitions=4,
        sub_salts=2,
        server_backoff=ServerBackoff(seconds_per_wave=60.0, max_tries=2),
        max_waves=12,
    )
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path)), CorpusFetcher(_corpus(spark)), cfg
    )
    crawler.seed(["http://ok.test/p0"])
    stats = crawler.crawl()

    docs = spark.read.parquet(f"{tmp_path}/documents").filter(
        F.col("url") == "http://t.test/slow"
    )
    # documents are partitioned by FETCH wave (column p after the rename);
    # the `wave` column is the frontier row's discovery wave
    fetch_waves = sorted(r["p"] for r in docs.select("p").collect())
    statuses = {r["status"] for r in docs.select("status").collect()}
    # throttled at wave 1 → 120 s Retry-After = 2 stand-down waves: wave 2
    # runs capped (ok.test only), the next all-standing-down wave is an
    # idle tick (no commit), then the retry lands as committed wave 3 —
    # exactly max_tries=2 attempts total
    assert statuses == {429}
    assert fetch_waves == [1, 3]
    between = spark.read.parquet(f"{tmp_path}/documents").filter(F.col("p") == 2)
    assert {r["host"] for r in between.select("host").collect()} == {"ok.test"}

    frontier = crawler.frontier.read().filter(F.col("url") == "http://t.test/slow")
    row = frontier.collect()[0]
    # retry budget exhausted -> terminal error with the bumped tries count
    assert row["status"] == ERROR
    assert row["tries"] == 2

    ok = {
        r["url"]: r["status"]
        for r in crawler.frontier.read()
        .filter(F.col("host") == "ok.test")
        .collect()
    }
    assert ok == {
        "http://ok.test/p0": VISITED,
        "http://ok.test/p1": VISITED,
        "http://ok.test/p2": VISITED,
    }
    # the crawl terminated on its own (frontier drained), well under the cap
    assert len(stats) < cfg.max_waves


def test_server_backoff_off_is_reference_parity(spark, tmp_path):
    """Default config: a 429 is a terminal error on first sight — byte-for
    -byte the old disposition (tries bumps once, never rescheduled)."""
    cfg = CrawlConfig(num_partitions=4, sub_salts=2, max_waves=6)
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path)), CorpusFetcher(_corpus(spark)), cfg
    )
    crawler.seed(["http://ok.test/p0"])
    crawler.crawl()
    row = (
        crawler.frontier.read()
        .filter(F.col("url") == "http://t.test/slow")
        .collect()[0]
    )
    assert (row["status"], row["tries"]) == (ERROR, 1)
    n_fetches = (
        spark.read.parquet(f"{tmp_path}/documents")
        .filter(F.col("url") == "http://t.test/slow")
        .count()
    )
    assert n_fetches == 1


def test_throttle_budget_is_the_larger_of_both_budgets(spark, tmp_path):
    """A host that always answers 429 under ServerBackoff(max_tries=2) and
    max_tries=3 is fetched three times: a throttle retries while its tries
    stay under max(ServerBackoff.max_tries, max_tries), then ends 'error'."""
    cfg = CrawlConfig(
        num_partitions=4,
        sub_salts=2,
        server_backoff=ServerBackoff(seconds_per_wave=60.0, max_tries=2),
        max_tries=3,
        max_waves=20,
    )
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path)), CorpusFetcher(_corpus(spark)), cfg
    )
    crawler.seed(["http://ok.test/p0"])
    crawler.crawl()
    row = (
        crawler.frontier.read()
        .filter(F.col("url") == "http://t.test/slow")
        .collect()[0]
    )
    assert (row["status"], row["tries"]) == (ERROR, 3)
    n_fetches = (
        spark.read.parquet(f"{tmp_path}/documents")
        .filter(F.col("url") == "http://t.test/slow")
        .count()
    )
    assert n_fetches == 3

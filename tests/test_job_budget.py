"""Spark job budget of a steady crawl wave, pinned as exact counts.

Jobs are counted per job group through ``SparkContext.statusTracker()``,
with AQE off so the physical plan (and with it every broadcast build) is
fixed. A change that adds a job to the wave, to a catalog read or to the
lineage flush fails here with the new number.
"""

from __future__ import annotations

import uuid

import pytest

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.crawler import Crawler, CrawlConfig
from kermit_spark.fetch import CorpusFetcher
from kermit_spark.frontier import Limit, Politeness

# a steady wave: dequeue = Crawl-delay caps broadcast + per-host count
# collect; documents write = 3 broadcasts + write; frontier commit =
# 3 broadcasts + merge write
STEADY_WAVE_JOBS = 10


def _page(host: str, i: int, n: int) -> str:
    links = "".join(f'<a href="/p/{j}.html">{j}</a>' for j in (i + 1, i + 2) if j < n)
    return f"<html><body><p>{host} {i}</p>{links}</body></html>"


def _jobs(sc, fn):
    """(fn(), number of Spark jobs fn ran)."""
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job state reaches the tracker through the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def aqe_off(spark):
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, prev)


def test_steady_wave_and_bookkeeping_job_counts(spark, tmp_path, aqe_off):
    n_pages = 8
    rows = [
        (f"http://{h}.test/p/{i}.html", 200, "text/html", _page(h, i, n_pages))
        for h in ("a", "b", "c")
        for i in range(n_pages)
    ] + [
        ("http://a.test/robots.txt", 200, "text/plain", "User-agent: *\nDisallow: /p/7\n"),
        ("http://b.test/robots.txt", 200, "text/plain", "User-agent: *\nCrawl-delay: 20\n"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, status int, content_type string, body string"
    )
    cfg = CrawlConfig(num_partitions=2, politeness=Politeness((Limit(".*", 2),)), sub_salts=2)
    c = Crawler(spark, SnapshotCatalog(spark, str(tmp_path / "cat")), CorpusFetcher(corpus), cfg)
    c.seed([f"http://{h}.test/p/0.html" for h in ("a", "b", "c")])
    c.crawl(1)  # wave 0 fetches every host's robots.txt

    sc = spark.sparkContext
    stats, n_jobs = _jobs(sc, c.run_wave)
    assert stats.n_selected > 0 and stats.n_new_urls > 0
    assert c._has_crawl_delays is True  # learned from the robots write
    assert n_jobs == STEADY_WAVE_JOBS

    for table in ("frontier", "url_seen", "documents", "robots"):
        df, n_jobs = _jobs(sc, lambda: c.catalog.read(table))
        assert df.columns and n_jobs == 0, table

    assert c._lineage_buffer
    _, n_jobs = _jobs(sc, c.flush_lineage)
    assert n_jobs == 0 and not c._lineage_buffer
    assert c.lineage().filter("wave = 1 AND stage = 'dequeue'").first()["n"] == stats.n_selected


def test_steady_wave_with_retries_keeps_job_count_and_one_snapshot(spark, tmp_path, aqe_off):
    """max_tries > 1 costs a steady wave nothing: a failing page's retry
    settles inside the frontier commit, so the wave runs the same jobs and
    commits exactly one frontier snapshot."""
    n_pages = 8
    rows = [
        (f"http://{h}.test/p/{i}.html", 500 if (h, i) == ("c", 1) else 200,
         "text/html", _page(h, i, n_pages))
        for h in ("a", "b", "c")
        for i in range(n_pages)
    ] + [
        ("http://a.test/robots.txt", 200, "text/plain", "User-agent: *\nDisallow: /p/7\n"),
        ("http://b.test/robots.txt", 200, "text/plain", "User-agent: *\nCrawl-delay: 20\n"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, status int, content_type string, body string"
    )
    cfg = CrawlConfig(
        num_partitions=2, politeness=Politeness((Limit(".*", 2),)), sub_salts=2, max_tries=2
    )
    c = Crawler(spark, SnapshotCatalog(spark, str(tmp_path / "cat")), CorpusFetcher(corpus), cfg)
    c.seed([f"http://{h}.test/p/0.html" for h in ("a", "b", "c")])
    c.crawl(1)

    n_snaps = len(c.catalog.snapshots("frontier"))
    stats, n_jobs = _jobs(spark.sparkContext, c.run_wave)
    assert stats.n_errors == 1
    assert n_jobs == STEADY_WAVE_JOBS
    assert len(c.catalog.snapshots("frontier")) == n_snaps + 1
    row = c.frontier.read().filter("url = 'http://c.test/p/1.html'").first()
    assert (row["status"], row["tries"]) == ("scheduled", 1)


def test_commit_faces_run_one_write_job(spark, tmp_path, aqe_off):
    """``merge_write`` and ``overwrite_partitions`` run exactly their write
    job; a touched partition the base snapshot never had needs no empty
    marker, so naming it costs no job either."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame([(0, 1), (1, 2)], "p int, k long")
    cat.create("t", df, 4)
    sc = spark.sparkContext
    _, n_jobs = _jobs(sc, lambda: cat.merge_write("t", df, replace_parts=[0]))
    assert n_jobs == 1
    _, n_jobs = _jobs(sc, lambda: cat.overwrite_partitions("t", df, [0, 1]))
    assert n_jobs == 1
    _, n_jobs = _jobs(sc, lambda: cat.overwrite_partitions("t", df, [0, 1, 3]))
    assert n_jobs == 1
    assert cat.partitions("t") == [0, 1]

"""The crawl's resume point (the frontier snapshot's ``wave`` property,
QueueSystem.coffee:17-34 restore) survives every frontier writer: error
reschedules and between-wave schedule requests neither reset the wave
numbering nor let a later wave overwrite an earlier wave's documents."""

from __future__ import annotations

import pytest

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.control import RemoteControl
from kermit_spark.crawler import Crawler, CrawlConfig
from kermit_spark.fetch import CorpusFetcher
from kermit_spark.frontier import FRONTIER_TABLE, Limit, Politeness

HOSTS = ("a", "b")
N_PAGES = 5


def _page(i: int) -> str:
    links = "".join(f'<a href="/p/{j}.html">{j}</a>' for j in (i + 1,) if j < N_PAGES)
    return f"<html><body><p>page {i}</p>{links}</body></html>"


@pytest.fixture(scope="module")
def corpus_df(spark):
    # a chain per host; b's page 2 always answers 500
    rows = [
        (f"http://{h}.test/p/{i}.html", 500 if (h, i) == ("b", 2) else 200,
         "text/html", _page(i))
        for h in HOSTS
        for i in range(N_PAGES)
    ] + [(f"http://{h}.test/extra.html", 200, "text/html", _page(N_PAGES)) for h in HOSTS]
    df = spark.createDataFrame(
        rows, "url string, status int, content_type string, body string"
    ).persist()
    df.count()
    yield df
    df.unpersist()


def _crawler(spark, corpus_df, tmp_path, **cfg) -> Crawler:
    config = CrawlConfig(
        num_partitions=2, politeness=Politeness((Limit(r".*", 4),)), sub_salts=2, **cfg
    )
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path / "cat")), CorpusFetcher(corpus_df), config
    )
    crawler.seed([f"http://{h}.test/p/0.html" for h in HOSTS])
    return crawler


def _schedule_between_waves(crawler: Crawler, host: str) -> None:
    rc = RemoteControl(crawler)
    rc._pending.append((f"http://{host}.test/extra.html", {}))
    assert rc.drain_schedules(wave=crawler.last_wave + 1) == 1


def _frontier_rows(crawler: Crawler) -> list[tuple]:
    return sorted(tuple(r) for r in crawler.frontier.read().select("url", "status").collect())


def test_error_reschedules_keep_wave_numbering(spark, corpus_df, tmp_path):
    crawler = _crawler(spark, corpus_df, tmp_path, max_tries=2)
    stats = crawler.crawl(10)
    waves = [s.wave for s in stats]
    # b's page 2 fails at wave 2 and is retried at wave 3
    assert waves == list(range(N_PAGES))
    assert sum(s.n_errors for s in stats) == 2
    assert crawler.last_wave == N_PAGES - 1
    docs = crawler.documents()
    assert crawler.catalog.partitions("documents") == waves
    per_wave = {r["p"]: r["count"] for r in docs.groupBy("p").count().collect()}
    assert per_wave == {w: s.n_selected for w, s in zip(waves, stats)}


def test_between_wave_schedule_keeps_last_wave(spark, corpus_df, tmp_path):
    crawler = _crawler(spark, corpus_df, tmp_path)
    crawler.crawl(2)
    _schedule_between_waves(crawler, "a")
    assert crawler.last_wave == 1
    s = crawler.run_wave()
    assert s.wave == 2 and s.n_selected == 3  # a's p/2 and extra, b's p/2
    assert crawler.catalog.partitions("documents") == [0, 1, 2]


def test_rollback_lands_on_wave_end_plus_between_wave_commits(spark, corpus_df, tmp_path):
    crawler = _crawler(spark, corpus_df, tmp_path)
    crawler.crawl(2)
    _schedule_between_waves(crawler, "a")
    end_of_wave_1 = crawler.catalog.current_snapshot(FRONTIER_TABLE)
    frontier_then = _frontier_rows(crawler)
    crawler.crawl(1)
    _schedule_between_waves(crawler, "b")
    assert crawler.last_wave == 2
    assert crawler.rollback_to_wave(1) == end_of_wave_1
    assert crawler.last_wave == 1
    assert crawler.documents().filter("p > 1").count() == 0
    assert _frontier_rows(crawler) == frontier_then


def test_resume_with_higher_max_tries_retries_old_errors(spark, corpus_df, tmp_path):
    """A frontier holding an 'error' row from a run with max_tries=1 is
    retried when a new Crawler resumes it at max_tries=2."""
    crawler = _crawler(spark, corpus_df, tmp_path)
    crawler.crawl(3)  # b's page 2 fails at wave 2
    failed = "http://b.test/p/2.html"
    row = crawler.frontier.read().filter(f"url = '{failed}'").first()
    assert (row["status"], row["tries"]) == ("error", 1)

    resumed = Crawler(
        spark,
        SnapshotCatalog(spark, str(tmp_path / "cat")),
        CorpusFetcher(corpus_df),
        CrawlConfig(
            num_partitions=2, politeness=Politeness((Limit(r".*", 4),)), sub_salts=2,
            max_tries=2,
        ),
    )
    resumed.crawl(10)
    assert resumed.documents().filter(f"url = '{failed}'").count() == 2
    row = resumed.frontier.read().filter(f"url = '{failed}'").first()
    assert (row["status"], row["tries"]) == ("error", 2)

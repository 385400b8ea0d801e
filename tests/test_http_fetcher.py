"""Live-HTTP integration test against a localhost fixture server — the
analog of the reference's LocalHttpServer + Crawler.int.spec
(util/httpserver.coffee:6-22, Crawler.int.spec.coffee:10-55; SURVEY §2.1
S5/S9): the REAL HttpFetcher (urllib over mapInPandas) crawls a static site
served by stdlib http.server, robots.txt and all."""

import collections
import functools
import http.server
import os
import threading
import time
from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.crawler import Crawler, CrawlConfig
from kermit_spark.fetch import HttpFetcher
from kermit_spark.frontier import Limit, Politeness

SITE = {
    "robots.txt": "User-agent: *\nDisallow: /secret/\n",
    "p/0.html": '<html><body><p>root</p><a href="/p/1.html">one</a>'
    '<a href="/p/2.html">two</a><link href="/static/s.css"></body></html>',
    "p/1.html": '<html><body><p>one</p><a href="/p/2.html">two</a>'
    '<a href="/secret/x.html">hidden</a></body></html>',
    "p/2.html": '<html><body><p>leaf</p><a href="/missing.html">gone</a></body></html>',
    "secret/x.html": "<html><body><p>should never be fetched</p></body></html>",
    "static/s.css": "body{}",
}


# requests the static site has served, by path (tests reset it)
SITE_REQUESTS: collections.Counter = collections.Counter()
_site_requests_lock = threading.Lock()


class _CountingHandler(http.server.SimpleHTTPRequestHandler):
    def do_GET(self):
        with _site_requests_lock:
            SITE_REQUESTS[self.path] += 1
        super().do_GET()


@pytest.fixture(scope="module")
def site_url(tmp_path_factory):
    root = tmp_path_factory.mktemp("site")
    for path, body in SITE.items():
        f = root / path
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(body)
    handler = functools.partial(_CountingHandler, directory=str(root))
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


class _FidelityHandler(http.server.BaseHTTPRequestHandler):
    """Routes exercising session fidelity: cookie round-trip, Referer/UA
    echo, missing content-type, real 4xx status with body."""

    def log_message(self, *args):  # quiet
        pass

    def _send(self, status, body, content_type="text/plain", extra=()):
        data = body.encode() if isinstance(body, str) else body
        self.send_response(status)
        if content_type is not None:
            self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(data)))
        for k, v in extra:
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):
        if self.path == "/cookie/set":
            self._send(200, "cookie set", extra=[("Set-Cookie", "rid=abc123; Path=/")])
        elif self.path == "/cookie/check":
            self._send(200, "cookie:" + self.headers.get("Cookie", ""))
        elif self.path == "/echo":
            self._send(
                200,
                "referer:%s;ua:%s" % (self.headers.get("Referer", ""), self.headers.get("User-Agent", "")),
            )
        elif self.path == "/no-ct/style.css":
            self._send(200, "body{}", content_type=None)
        elif self.path == "/teapot.html":
            self._send(418, "short and stout", content_type="text/html")
        elif self.path == "/big.txt":
            self._send(200, "x" * 100_000)
        elif self.path == "/enc-echo":
            self._send(200, "ae:%s" % self.headers.get("Accept-Encoding", ""))
        elif self.path == "/gzip.html":
            import gzip
            body = '<html><body><a href="/zipped.html">z</a></body></html>'
            self._send(200, gzip.compress(body.encode()), content_type="text/html",
                       extra=[("Content-Encoding", "gzip")])
        elif self.path == "/deflate-zlib.txt":
            import zlib
            self._send(200, zlib.compress(b"deflate zlib body"),
                       extra=[("Content-Encoding", "deflate")])
        elif self.path == "/deflate-raw.txt":
            import zlib
            co = zlib.compressobj(wbits=-zlib.MAX_WBITS)
            self._send(200, co.compress(b"deflate raw body") + co.flush(),
                       extra=[("Content-Encoding", "deflate")])
        elif self.path == "/latin1.txt":
            self._send(200, "caf\xe9 r\xe9sum\xe9".encode("latin-1"),
                       content_type="text/plain; charset=ISO-8859-1")
        elif self.path == "/meta-latin1.html":
            self._send(
                200,
                '<html><head><meta charset="iso-8859-1"></head><body>ol\xe9</body></html>'.encode("latin-1"),
                content_type="text/html",
            )
        elif self.path == "/meta-vs-header.html":
            self._send(
                200,
                '<html><head><meta charset="utf-8"></head><body>ol\xe9</body></html>'.encode("latin-1"),
                content_type="text/html; charset=ISO-8859-1",
            )
        elif self.path == "/bom.txt":
            self._send(200, b"\xef\xbb\xbfbom body")
        elif self.path == "/bomb.txt":
            import gzip
            self._send(200, gzip.compress(b"\x00" * 4_000_000),
                       extra=[("Content-Encoding", "gzip")])
        elif self.path == "/versioned":
            # conditional GET: validators are a fixed version tag; a matching
            # If-None-Match (or, failing that, If-Modified-Since) → 304
            etag, lm = 'W/"v7"', "Tue, 01 Jan 2030 00:00:00 GMT"
            inm = self.headers.get("If-None-Match")
            ims = self.headers.get("If-Modified-Since")
            if inm == etag or (inm is None and ims == lm):
                self.send_response(304)
                self.send_header("ETag", etag)
                self.send_header("Last-Modified", lm)
                self.end_headers()
            else:
                self._send(
                    200, "fresh content", content_type="text/html",
                    extra=[("ETag", etag), ("Last-Modified", lm)],
                )
        elif self.path == "/redirect":
            self.send_response(302)
            self.send_header("Location", "/echo")
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path.startswith("/slow/"):
            cls = _FidelityHandler
            with cls.slow_lock:
                cls.slow_inflight += 1
                cls.slow_max = max(cls.slow_max, cls.slow_inflight)
            time.sleep(0.15)
            with cls.slow_lock:
                cls.slow_inflight -= 1
            self._send(200, "slow ok")
        else:
            self._send(404, "nope")

    # /slow concurrency tracking (per-host connection cap test)
    slow_lock = threading.Lock()
    slow_inflight = 0
    slow_max = 0


@pytest.fixture(scope="module")
def fidelity_url():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FidelityHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _selected(spark, rows):
    """rows: (url, referer) tuples -> a single-partition selected batch
    (order preserved; max_pool=1 then processes them sequentially)."""
    data = [(0, i, url, "127.0.0.1", 0, ref, 0, i) for i, (url, ref) in enumerate(rows, 1)]
    return spark.createDataFrame(
        data,
        "p int, url_hash long, url string, host string, depth int, referer string, wave int, rank int",
    ).coalesce(1)


def test_conditional_get_revalidates_with_304(spark, fidelity_url):
    """Conditional re-fetch over live HTTP: a selected batch carrying stored
    validators sends If-None-Match / If-Modified-Since; an unchanged
    resource answers 304 with no body but fresh validator headers (which
    the crawler re-stores). Rows without validators fetch normally."""
    url = f"{fidelity_url}/versioned"
    base = _selected(spark, [(url, None), (url, None), (url, None)])
    sel = base.withColumn(
        "etag",
        F.when(F.col("rank") == 2, F.lit('W/"v7"'))       # match → 304
        .when(F.col("rank") == 3, F.lit('W/"stale"'))      # mismatch → 200
        .otherwise(F.lit(None).cast("string")),            # none → 200
    ).withColumn("last_modified", F.lit(None).cast("string"))
    rows = {r["rank"]: r for r in HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()}
    assert rows[1]["status"] == 200 and rows[1]["body"] == "fresh content"
    assert rows[3]["status"] == 200  # stale validator: full response
    assert rows[2]["status"] == 304 and rows[2]["body"] is None
    assert rows[2]["headers"]["etag"] == 'W/"v7"'  # re-storable validators
    # If-Modified-Since alone also revalidates
    sel_lm = base.filter(F.col("rank") == 1).withColumn(
        "last_modified", F.lit("Tue, 01 Jan 2030 00:00:00 GMT")
    )
    (row,) = HttpFetcher(timeout_s=5, max_pool=1).fetch(sel_lm).collect()
    assert row["status"] == 304
    # validator columns never leak into the fetch-result schema
    assert "etag" not in rows[1].asDict() and "last_modified" not in rows[1].asDict()


def test_cookie_round_trip_within_worker_session(spark, fidelity_url):
    """U1: the jar replays a set-cookie on the next request of the same
    worker session (reference parses+replays cookies, core.users.coffee:6-31)."""
    sel = _selected(spark, [
        (f"{fidelity_url}/cookie/set", None),
        (f"{fidelity_url}/cookie/check", None),
    ])
    rows = {r["url"]: r for r in HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()}
    assert "rid=abc123" in rows[f"{fidelity_url}/cookie/check"]["body"]
    # and the set-cookie header was captured in the response headers map
    assert "set-cookie" in rows[f"{fidelity_url}/cookie/set"]["headers"]


def test_cookies_never_cross_hosts(spark, fidelity_url):
    """U1 isolation: two vhosts (same IP, different ports — the case where
    RFC 6265 domain matching alone would leak, since it ignores the port).
    A cookie set by host A must never be replayed to host B; each host keeps
    its own session jar (reference: per-UserAgent jars, core.users.coffee:6-31)."""
    srv_b = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FidelityHandler)
    threading.Thread(target=srv_b.serve_forever, daemon=True).start()
    url_b = f"http://127.0.0.1:{srv_b.server_address[1]}"
    try:
        sel = _selected(spark, [
            (f"{fidelity_url}/cookie/set", None),   # host A sets rid
            (f"{url_b}/cookie/check", None),        # host B must NOT see it
            (f"{fidelity_url}/cookie/check", None),  # host A still has it
        ])
        rows = {r["url"]: r for r in HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()}
        assert "rid=abc123" not in rows[f"{url_b}/cookie/check"]["body"]
        assert "rid=abc123" in rows[f"{fidelity_url}/cookie/check"]["body"]
    finally:
        srv_b.shutdown()


def test_per_host_connection_cap(spark, fidelity_url):
    """The thread pool must not land more than max_per_host simultaneous
    connections on one origin (politeness budgets cap per-wave volume, not
    instantaneous concurrency). The fixture handler tracks in-flight
    requests on /slow; 8 URLs through an 8-thread pool capped at 2 must
    never exceed 2 concurrent on the server."""
    _FidelityHandler.slow_max = 0
    _FidelityHandler.slow_inflight = 0
    sel = _selected(spark, [(f"{fidelity_url}/slow/{i}", None) for i in range(8)])
    rows = HttpFetcher(timeout_s=5, max_pool=8, max_per_host=2).fetch(sel).collect()
    assert all(r["status"] == 200 for r in rows)
    assert _FidelityHandler.slow_max <= 2, _FidelityHandler.slow_max


def test_redirect_final_url_captured(spark, fidelity_url):
    """urllib follows redirects silently; the fetched row keeps the
    REQUESTED url as its key (reference parity) and surfaces the landing
    URL as a final_url response-header entry."""
    sel = _selected(spark, [(f"{fidelity_url}/redirect", None)])
    row = HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()[0]
    assert row["status"] == 200
    assert row["url"] == f"{fidelity_url}/redirect"
    assert row["headers"].get("final_url") == f"{fidelity_url}/echo"
    assert row["body"].startswith("referer:")


def test_body_size_cap_truncates_and_flags(spark, fidelity_url):
    """Worker-memory guard: bodies beyond max_body_bytes are truncated, the
    row keeps its real status, and headers carry body_truncated=1."""
    sel = _selected(spark, [(f"{fidelity_url}/big.txt", None)])
    row = HttpFetcher(timeout_s=5, max_pool=1, max_body_bytes=1024).fetch(sel).collect()[0]
    assert row["status"] == 200
    assert len(row["body"]) == 1024
    assert row["headers"].get("body_truncated") == "1"
    # uncapped fetch of the same URL keeps the whole body
    row2 = HttpFetcher(timeout_s=5, max_pool=1, max_body_bytes=0).fetch(sel).collect()[0]
    assert len(row2["body"]) == 100_000
    assert "body_truncated" not in row2["headers"]


def test_referer_header_and_ua_pool_quirk(spark, fidelity_url):
    """U1/U2/U3: Referer sent from the carried column; the UA pool defaults
    to the reference's hashCode-quirk behavior (always agent[0])."""
    sel = _selected(spark, [(f"{fidelity_url}/echo", "http://parent.test/page.html")])
    fetcher = HttpFetcher(timeout_s=5, user_agents=("agent-a/1.0", "agent-b/2.0"))
    body = fetcher.fetch(sel).collect()[0]["body"]
    assert "referer:http://parent.test/page.html" in body
    assert "ua:agent-a/1.0" in body  # quirk: always the first agent


def test_gzip_and_deflate_bodies_decompressed(spark, fidelity_url):
    """Accept-Encoding: gzip, deflate is advertised (core.users.coffee:12)
    and compressed bodies arrive decompressed — both zlib-wrapped and raw
    deflate variants (real servers send both)."""
    sel = _selected(spark, [
        (f"{fidelity_url}/enc-echo", None),
        (f"{fidelity_url}/gzip.html", None),
        (f"{fidelity_url}/deflate-zlib.txt", None),
        (f"{fidelity_url}/deflate-raw.txt", None),
    ])
    rows = {r["url"]: r for r in HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()}
    assert "gzip" in rows[f"{fidelity_url}/enc-echo"]["body"]
    assert "deflate" in rows[f"{fidelity_url}/enc-echo"]["body"]
    gz = rows[f"{fidelity_url}/gzip.html"]
    assert gz["body"] == '<html><body><a href="/zipped.html">z</a></body></html>'
    assert gz["headers"].get("content-encoding") == "gzip"  # observability kept
    assert rows[f"{fidelity_url}/deflate-zlib.txt"]["body"] == "deflate zlib body"
    assert rows[f"{fidelity_url}/deflate-raw.txt"]["body"] == "deflate raw body"


def test_decompression_bomb_capped(spark, fidelity_url):
    """A small gzip expanding past max_body_bytes is truncated at the
    DECOMPRESSED cap and flagged — the network-byte cap alone doesn't bound
    worker memory against zip bombs."""
    sel = _selected(spark, [(f"{fidelity_url}/bomb.txt", None)])
    row = HttpFetcher(timeout_s=5, max_pool=1, max_body_bytes=64 * 1024).fetch(sel).collect()[0]
    assert row["status"] == 200
    assert len(row["body"]) == 64 * 1024
    assert row["headers"].get("body_truncated") == "1"


def test_charset_and_bom_decoding(spark, fidelity_url):
    """Bodies decode by the Content-Type charset parameter (latin-1 here);
    a UTF-8 BOM is honored and stripped."""
    sel = _selected(spark, [
        (f"{fidelity_url}/latin1.txt", None),
        (f"{fidelity_url}/bom.txt", None),
    ])
    rows = {r["url"]: r for r in HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()}
    assert rows[f"{fidelity_url}/latin1.txt"]["body"] == "café résumé"
    assert rows[f"{fidelity_url}/bom.txt"]["body"] == "bom body"


def test_content_type_fallback_by_extension(spark, fidelity_url):
    """Missing Content-Type header falls back to the ext→mime map
    (core.streaming.coffee:59 analog)."""
    sel = _selected(spark, [(f"{fidelity_url}/no-ct/style.css", None)])
    row = HttpFetcher(timeout_s=5).fetch(sel).collect()[0]
    assert row["status"] == 200
    assert row["content_type"] == "text/css"


def test_http_error_statuses_keep_code_headers_body(spark, fidelity_url):
    """4xx/5xx are real responses (status+headers+body), not 599 transport
    errors — ResultVerification needs the body of blocked pages."""
    sel = _selected(spark, [(f"{fidelity_url}/teapot.html", None)])
    row = HttpFetcher(timeout_s=5).fetch(sel).collect()[0]
    assert row["status"] == 418
    assert row["body"] == "short and stout"
    assert row["content_type"] == "text/html"
    assert row["headers"]["content-type"].startswith("text/html")


def test_http_fetch_batch(spark, site_url):
    selected = spark.createDataFrame(
        [
            (0, 1, f"{site_url}/p/0.html", site_url.split("//")[1], 0, None, 0, 1),
            (0, 2, f"{site_url}/missing.html", site_url.split("//")[1], 0, None, 0, 2),
        ],
        "p int, url_hash long, url string, host string, depth int, referer string, wave int, rank int",
    )
    rows = {r["url"]: r for r in HttpFetcher(timeout_s=5).fetch(selected).collect()}
    ok = rows[f"{site_url}/p/0.html"]
    assert ok["status"] == 200
    assert "text/html" in ok["content_type"]
    assert "/p/1.html" in ok["body"]
    # missing file: the server answers 404; fetcher maps errors to 599 —
    # urllib raises HTTPError for 404, which the fetcher treats as a fetch
    # failure (both are non-200 error dispositions)
    assert rows[f"{site_url}/missing.html"]["status"] != 200


def test_full_crawl_over_live_http(spark, site_url, tmp_path):
    cfg = CrawlConfig(
        num_partitions=4,
        politeness=Politeness((Limit(".*", 10),)),
        obey_robots=True,
    )
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path / "c")), HttpFetcher(timeout_s=5), cfg
    )
    crawler.seed([f"{site_url}/p/0.html"])
    crawler.crawl(4)

    frontier = {r["url"]: r["status"] for r in crawler.frontier.read().collect()}
    assert frontier[f"{site_url}/p/0.html"] == "visited"
    assert frontier[f"{site_url}/p/1.html"] == "visited"
    assert frontier[f"{site_url}/p/2.html"] == "visited"
    assert frontier[f"{site_url}/static/s.css"] == "visited"
    # robots: /secret/ blocked, never fetched
    assert frontier[f"{site_url}/secret/x.html"] == "robots_blocked"
    # dead link errored
    assert frontier[f"{site_url}/missing.html"] == "error"

    docs = {r["url"] for r in crawler.documents().filter(F.col("status") == 200).select("url").collect()}
    assert f"{site_url}/secret/x.html" not in docs
    # span extraction ran over live-fetched HTML
    spans = (
        crawler.documents()
        .filter(F.col("url") == f"{site_url}/p/0.html")
        .selectExpr("inline(spans)")
        .collect()
    )
    kinds = [s["kind"] for s in spans]
    assert "link" in kinds and "resource" in kinds and "text" in kinds


def test_live_crawl_fetches_each_dequeued_url_once_per_wave(spark, site_url, tmp_path):
    """The documents write is the only job that runs the live fetch: the
    phases after it (discovery, the frontier commit) read the stored
    documents, so no dequeued URL is requested twice in a wave."""
    cfg = CrawlConfig(
        num_partitions=4,
        politeness=Politeness((Limit(".*", 10),)),
        obey_robots=True,
    )
    crawler = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path / "c")), HttpFetcher(timeout_s=5), cfg
    )
    crawler.seed([f"{site_url}/p/0.html"])
    fetched_waves = 0
    for _ in range(4):
        with _site_requests_lock:
            SITE_REQUESTS.clear()
        stats = crawler.crawl(1)
        if not stats:
            break
        s = stats[0]
        with _site_requests_lock:
            hits = {p: n for p, n in SITE_REQUESTS.items() if p != "/robots.txt"}
        stored = [
            urlsplit(r["url"]).path
            for r in crawler.documents().filter(F.col("p") == s.wave).select("url").collect()
        ]
        assert len(stored) == s.n_selected - s.n_blocked
        assert hits == {p: 1 for p in stored}, (s.wave, hits)
        fetched_waves += bool(stored)
    assert fetched_waves >= 3


def test_meta_charset_sniffed_when_header_silent(spark, fidelity_url):
    """HTML served without a charset parameter decodes by the in-document
    <meta charset> (HTML5 1024-byte sniff); an explicit header charset
    always wins over the meta tag."""
    sel = _selected(spark, [
        (f"{fidelity_url}/meta-latin1.html", None),
        (f"{fidelity_url}/meta-vs-header.html", None),
    ])
    rows = {r["url"]: r for r in HttpFetcher(timeout_s=5, max_pool=1).fetch(sel).collect()}
    assert "olé" in rows[f"{fidelity_url}/meta-latin1.html"]["body"]
    # header says latin-1, meta lies utf-8: header wins, é decodes as latin-1
    assert "olé" in rows[f"{fidelity_url}/meta-vs-header.html"]["body"]


def test_min_interval_paces_same_host_requests(spark, fidelity_url):
    """min_interval_s spaces same-host requests in TIME (the Crawl-delay
    analog at fetch granularity): 4 URLs through an 8-thread pool with a
    0.2 s interval must arrive ≥ ~0.2 s apart at the server."""
    ts = []
    lock = threading.Lock()
    orig = _FidelityHandler.do_GET

    def tracking_get(self):
        if self.path == "/echo":
            with lock:
                ts.append(time.monotonic())
        orig(self)

    _FidelityHandler.do_GET = tracking_get
    try:
        sel = _selected(spark, [(f"{fidelity_url}/echo", None) for _ in range(4)])
        rows = HttpFetcher(timeout_s=5, max_pool=8, min_interval_s=0.2).fetch(sel).collect()
        assert all(r["status"] == 200 for r in rows)
    finally:
        _FidelityHandler.do_GET = orig
    ts.sort()
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    assert len(gaps) == 3
    assert all(g >= 0.15 for g in gaps), gaps  # scheduling slack allowed

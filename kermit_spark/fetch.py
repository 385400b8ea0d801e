"""Fetch stage — resolve dequeued URLs to response rows.

Re-expresses (parity review):
  * RequestStreamer (the HTTP fetcher) —
    /root/reference/src/kermit/extensions/core.streaming.coffee:16-64 (S5)
  * OfflineServer fixture-backed fetching —
    extensions/ext.offline.coffee:48-93 (S8): the reference intercepts HTTP
    and serves a local mirror; our CorpusFetcher resolves URLs against the
    synthetic corpus table the same way.
  * content-type fallback by extension —
    core.streaming.coffee:59 + util/mimetypes.coffee:5.

Two fetchers, one contract: ``fetch(selected) -> DataFrame`` with columns
  (p, url_hash, url, host, depth, referer, wave, rank,
   status:int, content_type:string, body:string)

CorpusFetcher — the test/bench path: a join against the corpus table.
  Corpus and frontier share the host-salt partition key, so with both sides
  bucketed by ``p`` the join shuffles only the (small) dequeued wave batch,
  never the corpus. URLs absent from the corpus become status=404 rows
  (dead links), mirroring a live fetcher's error path (P7: errors are data,
  never job failures).

HttpFetcher — the production path: Arrow-batched ``mapInPandas`` where each
  Python worker drains its batch with a bounded thread pool of HTTP
  connections (agent-pool analog, core.streaming.coffee:19-31).
  Integration-tested against a localhost fixture server
  (tests/test_http_fetcher.py — the Crawler.int.spec analog over real HTTP,
  robots.txt included); outbound internet is unavailable in this sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.urls import content_type_fallback

SELECT_COLS = ["p", "url_hash", "url", "host", "depth", "referer", "wave", "rank"]

# headers: lowercase-keyed response-header map (Pipeline.coffee:43-44 records
# status+headers per response; Histogrammer S12/A5 aggregates them)
FETCH_RESULT_DDL = (
    "p int, url_hash long, url string, host string, depth int, referer string, "
    "wave int, rank int, status int, content_type string, body string, "
    "headers map<string,string>"
)


class CorpusFetcher:
    """Resolve fetches against a corpus DataFrame (url, status, content_type,
    body). The corpus stands in for the network exactly as the reference's
    OfflineServer serves a local mirror instead of the live site."""

    def __init__(self, corpus: DataFrame, broadcast_threshold_rows: int | None = None):
        # project the corpus once; Catalyst prunes these columns at the scan
        cols = [
            F.col("url").alias("_c_url"),
            F.col("status").alias("_c_status"),
            F.col("content_type").alias("_c_ct"),
            F.col("body").alias("_c_body"),
        ]
        # optional validator columns: a corpus carrying etag/last_modified
        # models a server that supports conditional GETs — fetch() then
        # answers 304 when the batch row's stored validator still matches
        # (the OfflineServer analog of If-None-Match / If-Modified-Since)
        self.has_etag = "etag" in corpus.columns
        self.has_last_modified = "last_modified" in corpus.columns
        # optional throttle column: a corpus carrying retry_after models a
        # rate-limiting server — the value is emitted as a Retry-After
        # response header (only on rows that declare it), which
        # ServerBackoff consumes
        self.has_retry_after = "retry_after" in corpus.columns
        # optional redirect column: a corpus carrying location models 3xx
        # responses — emitted as a Location header, which the crawler's
        # follow_redirects mode turns into a discovery
        self.has_location = "location" in corpus.columns
        # optional freshness column: a corpus carrying cache_control models
        # a server declaring RFC 9111 freshness — emitted as a
        # Cache-Control response header, which cache_floor_waves /
        # adaptive_recrawl(respect_cache_headers=True) consume
        self.has_cache_control = "cache_control" in corpus.columns
        if self.has_etag:
            cols.append(F.col("etag").alias("_c_etag"))
        if self.has_last_modified:
            cols.append(F.col("last_modified").alias("_c_lm"))
        if self.has_retry_after:
            cols.append(F.col("retry_after").cast("string").alias("_c_ra"))
        if self.has_location:
            cols.append(F.col("location").alias("_c_loc"))
        if self.has_cache_control:
            cols.append(F.col("cache_control").alias("_c_cc"))
        self.corpus = corpus.select(*cols)
        self.broadcast_threshold_rows = broadcast_threshold_rows
        self._last_cache: DataFrame | None = None

    def fetch(self, selected: DataFrame) -> DataFrame:
        """The wave batch is the small side (≤ Σ budgets); the corpus must be
        streamed, never shuffled or broadcast.

        An outer join can only broadcast its non-preserved side, which here
        would be the corpus — so a single right-outer join cannot avoid
        shuffling it (Spark ignores a broadcast hint on the preserved side).
        Split instead: inner broadcast-hash join (corpus streamed once,
        batch broadcast) for hits, plus a small-vs-small anti-join producing
        the 404 rows for URLs absent from the corpus (dead links).

        ``hits`` is persisted: both the misses anti-join (via its broadcast
        URL set) and the final union consume it — without the persist the
        corpus join evaluates in BOTH branches, scanning the corpus twice
        per wave (r1 plan-audit finding). The cache is batch-sized; the
        previous wave's cache is dropped on the next call."""
        # conditional GET (If-None-Match / If-Modified-Since analog): when
        # the batch carries stored validators AND the corpus declares them,
        # an unchanged match answers 304 with no body — pure JVM CASE on the
        # join output, deterministic. ETag wins over Last-Modified (RFC 9110
        # §13.1.2 precedence).
        # Each validator clause exists only when both sides carry its
        # column: a missing one would compare NULL = NULL.
        vcols = []
        not_modified = None
        if self.has_etag and "etag" in selected.columns:
            vcols.append(F.col("etag").alias("_v_etag"))
            v_etag = F.col("_v_etag")
            not_modified = v_etag.isNotNull() & (v_etag == F.col("_c_etag"))
        if self.has_last_modified and "last_modified" in selected.columns:
            vcols.append(F.col("last_modified").alias("_v_lm"))
            lm = F.col("_v_lm").isNotNull() & (F.col("_v_lm") == F.col("_c_lm"))
            not_modified = lm if not_modified is None else not_modified | (v_etag.isNull() & lm)
        not_modified = (
            F.lit(False) if not_modified is None else (F.col("_c_status") == 200) & not_modified
        )
        left = selected.select(*SELECT_COLS, *vcols)
        if (
            self.has_etag
            or self.has_last_modified
            or self.has_retry_after
            or self.has_location
            or self.has_cache_control
        ):
            header_kvs = [
                (F.lit("content-type"), F.col("_c_ct")),
                (
                    F.lit("content-length"),
                    F.when(not_modified, F.lit("0")).otherwise(
                        F.length("_c_body").cast("string")
                    ),
                ),
            ]
            # a real server repeats the current validators on both 200 and
            # 304 responses — the crawler re-stores them (sticky merge)
            # either way
            if self.has_etag:
                header_kvs.append((F.lit("etag"), F.col("_c_etag")))
            if self.has_last_modified:
                header_kvs.append((F.lit("last-modified"), F.col("_c_lm")))
            if self.has_retry_after:
                header_kvs.append((F.lit("retry-after"), F.col("_c_ra")))
            if self.has_location:
                header_kvs.append((F.lit("location"), F.col("_c_loc")))
            if self.has_cache_control:
                header_kvs.append((F.lit("cache-control"), F.col("_c_cc")))
            # null-valued entries (a corpus row without an ETag) are dropped
            # so the map only carries headers the "server" actually sent
            headers_col = F.map_filter(
                F.create_map(*[x for kv in header_kvs for x in kv]),
                lambda _, v: v.isNotNull(),
            )
        else:
            headers_col = F.create_map(
                F.lit("content-type"), F.col("_c_ct"),
                F.lit("content-length"), F.length("_c_body").cast("string"),
            )
        hits = self.corpus.join(
            F.broadcast(left), left.url == self.corpus._c_url, "inner"
        ).select(
            *SELECT_COLS,
            F.when(not_modified, F.lit(304))
            .otherwise(F.col("_c_status").cast("int"))
            .alias("status"),
            F.col("_c_ct").alias("content_type"),
            F.when(not_modified, F.lit(None).cast("string"))
            .otherwise(F.col("_c_body"))
            .alias("body"),
            headers_col.alias("headers"),
        ).persist()
        if self._last_cache is not None:
            self._last_cache.unpersist()
        self._last_cache = hits
        misses = left.join(
            F.broadcast(hits.select(F.col("url").alias("_hit_url"))),
            left.url == F.col("_hit_url"),
            "left_anti",
        ).select(
            *SELECT_COLS,
            F.lit(404).alias("status"),
            F.lit("text/plain").alias("content_type"),
            F.lit(None).cast("string").alias("body"),
            F.create_map(F.lit("content-type"), F.lit("text/plain")).alias("headers"),
        )
        return hits.unionByName(misses)


class HttpFetcher:
    """Live-HTTP fetcher over mapInPandas (stdlib urllib; tested end-to-end
    against a localhost fixture server in tests/test_http_fetcher.py).

    Session fidelity vs the reference:
      * UA pool (``user_agents``) — core.users.coffee:76-80 builds a 20-agent
        pool; its UserAgentFor hashCode quirk always picks agent[0]
        (polyfill.coffee:22-26 folds in NaN → 0), which is the default here
        too. ``hash_agent_choice=True`` is the fixed variant: stable
        crc32(referer or url) % n pick.
      * Cookie jar PER HOST within each worker (``use_cookies``) —
        core.users.coffee:6-31 parses set-cookie and replays the jar on
        subsequent requests per UserAgent session; per-host jars give the
        same isolation (cookies set by host A are never replayed to host B,
        even for same-domain/different-port vhosts where RFC 6265 matching
        alone would leak them).
      * Referer header from the carried ``referer`` column
        (core.streaming.coffee:47-64 sends it on every request).
      * 4xx/5xx responses keep their REAL status, headers and body —
        the reference imports the response for any status and reserves the
        error path for transport failures; 599 marks transport errors only.
      * content-type sanitized by extension when missing/generic
        (core.streaming.coffee:59) — JVM-side, after the UDF.
      * ``Accept-Encoding: gzip, deflate`` sent and the response body
        transparently decompressed (core.users.coffee:12 advertises
        'gzip, deflate, sdch'; the reference's request lib decompresses —
        sdch is a dead Chrome experiment, not advertised here). Decompressed
        output is capped at ``max_body_bytes`` (zip-bomb guard) with the
        same ``body_truncated`` flag; undecodable streams keep the raw bytes
        text-decoded and flag ``content_decode_error``.
      * charset honored when decoding: BOM first (UTF-8/UTF-16 signatures),
        then the Content-Type ``charset=`` parameter, then UTF-8 with
        replacement — bodies are *text columns*, so decode happens here,
        once, at the edge.
    """

    def __init__(
        self,
        timeout_s: float = 10.0,
        max_pool: int = 15,
        user_agent: str = "kermit-spark/0.1",
        user_agents: tuple[str, ...] | None = None,
        send_referer: bool = True,
        use_cookies: bool = True,
        hash_agent_choice: bool = False,
        max_per_host: int = 2,
        max_body_bytes: int = 16 * 1024 * 1024,
        min_interval_s: float = 0.0,
    ):
        # max_pool mirrors the reference agent pool maxSockets=15
        # (core.streaming.coffee:22-27)
        self.timeout_s = timeout_s
        self.max_pool = max_pool
        self.agents = tuple(user_agents) if user_agents else (user_agent,)
        self.send_referer = send_referer
        self.use_cookies = use_cookies
        self.hash_agent_choice = hash_agent_choice
        # politeness budgets cap per-wave VOLUME; this caps INSTANTANEOUS
        # connections per host within a worker's thread pool (the 15-thread
        # pool must not land 15 simultaneous sockets on one origin).
        # 0/None = uncapped.
        self.max_per_host = max_per_host
        # bound worker memory against pathological responses: bodies are
        # read at most to this size and truncated beyond it (the row keeps
        # its real status/headers; a body_truncated response header marks
        # the cut). 0/None = unbounded.
        self.max_body_bytes = max_body_bytes
        # true inter-request pacing per host WITHIN a worker: politeness
        # budgets cap per-wave volume and max_per_host caps concurrency,
        # but neither spaces requests in time — this does (the Crawl-delay
        # analog at fetch granularity). Reserved-slot scheduling: each
        # request takes the next free slot ≥ interval after the previous
        # one, so N queued same-host URLs serialize at the interval even
        # through the thread pool. 0 = no pacing.
        self.min_interval_s = min_interval_s

    def fetch(self, selected: DataFrame) -> DataFrame:
        timeout, pool_size = self.timeout_s, self.max_pool
        agents = self.agents
        send_referer, use_cookies = self.send_referer, self.use_cookies
        hash_choice = self.hash_agent_choice
        max_per_host = self.max_per_host
        max_body = self.max_body_bytes
        min_interval = self.min_interval_s

        def run(batches):
            import codecs
            import concurrent.futures as cf
            import http.cookiejar
            import re
            import threading
            import urllib.error
            import urllib.parse
            import urllib.request
            import zlib

            if use_cookies:
                # one CookieJar PER HOST (netloc incl. port): the reference
                # keeps jars per-UserAgent session (core.users.coffee:6-31);
                # a single worker-wide jar would replay same-domain cookies
                # across vhosts/ports (RFC 6265 cookie matching ignores the
                # port), leaking sessions between crawl targets.
                openers: dict[str, urllib.request.OpenerDirector] = {}
                olock = threading.Lock()
                max_jars = 4096  # bound per-worker memory on wide crawls

                def opener_for(url: str):
                    host = urllib.parse.urlsplit(url).netloc
                    with olock:
                        op = openers.get(host)
                        if op is None:
                            if len(openers) >= max_jars:
                                openers.pop(next(iter(openers)))  # FIFO evict
                            op = urllib.request.build_opener(
                                urllib.request.HTTPCookieProcessor(
                                    http.cookiejar.CookieJar()  # thread-safe
                                )
                            )
                            openers[host] = op
                    return op
            else:
                shared_opener = urllib.request.build_opener()

                def opener_for(url: str):
                    return shared_opener

            def agent_for(url: str, referer) -> str:
                if len(agents) == 1 or not hash_choice:
                    return agents[0]  # the reference's hashCode-quirk behavior
                key = (referer if isinstance(referer, str) and referer else url)
                return agents[zlib.crc32(key.encode()) % len(agents)]

            if max_per_host:
                sem_lock = threading.Lock()
                host_sems: dict[str, threading.BoundedSemaphore] = {}

                def sem_for(url: str) -> threading.BoundedSemaphore:
                    host = urllib.parse.urlsplit(url).netloc
                    with sem_lock:
                        s = host_sems.get(host)
                        if s is None:
                            if len(host_sems) >= 4096:
                                # bound memory on wide crawls; an evicted
                                # in-flight host briefly exceeds the cap —
                                # acceptable for a politeness rail
                                host_sems.pop(next(iter(host_sems)))
                            s = threading.BoundedSemaphore(max_per_host)
                            host_sems[host] = s
                    return s
            else:
                _open_sem = threading.BoundedSemaphore(pool_size)

                def sem_for(url: str) -> threading.BoundedSemaphore:
                    return _open_sem

            def inflate(raw: bytes, encoding: str, hdrs: dict) -> bytes:
                """Decompress a gzip/deflate body, capping the OUTPUT at
                max_body (a 10 KB gzip can hold gigabytes of zeros — the
                network-byte cap alone doesn't bound worker memory)."""
                if encoding in ("gzip", "x-gzip"):
                    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
                elif encoding == "deflate":
                    # RFC says zlib-wrapped; some servers send raw deflate.
                    # Sniff the zlib header (0x78 first byte, checksum valid).
                    wbits = zlib.MAX_WBITS if (raw[:1] == b"\x78") else -zlib.MAX_WBITS
                    d = zlib.decompressobj(wbits)
                else:
                    return raw
                try:
                    if max_body:
                        out = d.decompress(raw, max_body + 1)
                        if len(out) > max_body or d.unconsumed_tail:
                            hdrs["body_truncated"] = "1"
                            return out[:max_body]
                        return out
                    return d.decompress(raw)
                except zlib.error:
                    hdrs["content_decode_error"] = encoding
                    return raw

            def decode(raw: bytes, ct_header: str | None) -> str:
                """bytes → str: BOM, then Content-Type charset, then (for
                markup without either) the HTML5 in-document sniff —
                <meta charset=...> / http-equiv content-type in the first
                1024 bytes — then UTF-8 with replacement."""
                if raw.startswith(codecs.BOM_UTF8):
                    return raw.decode("utf-8-sig", "replace")
                if raw.startswith((codecs.BOM_UTF16_LE, codecs.BOM_UTF16_BE)):
                    return raw.decode("utf-16", "replace")  # codec eats the BOM
                m = re.search(r"charset\s*=\s*\"?([\w.-]+)", ct_header or "", re.I)
                if not m and raw[:64].lstrip()[:1] == b"<":
                    head = raw[:1024].decode("ascii", "ignore")
                    m = re.search(
                        r"<meta\s[^>]*charset\s*=\s*[\"']?([\w.-]+)", head, re.I
                    )
                if m:
                    try:
                        return raw.decode(codecs.lookup(m.group(1)).name, "replace")
                    except LookupError:
                        pass
                return raw.decode("utf-8", "replace")

            if min_interval:
                import time as _time

                pace_lock = threading.Lock()
                next_slot: dict[str, float] = {}

                def pace(url: str) -> None:
                    host = urllib.parse.urlsplit(url).netloc
                    with pace_lock:
                        if len(next_slot) >= 4096:
                            next_slot.pop(next(iter(next_slot)))  # FIFO bound
                        t = max(_time.monotonic(), next_slot.get(host, 0.0))
                        next_slot[host] = t + min_interval
                    wait = t - _time.monotonic()
                    if wait > 0:
                        _time.sleep(wait)
            else:

                def pace(url: str) -> None:
                    return None

            import time as _lt

            def get(url: str, referer, etag=None, last_modified=None):
                pace(url)
                # server latency measured AFTER the politeness pacing wait
                # (our own delay is not the server's slowness) — emitted as
                # a synthetic response header so the schema stays unchanged;
                # frontier.adaptive_host_delays consumes it
                _t0 = _lt.monotonic()

                def _stamp(hdrs: dict) -> dict:
                    hdrs["x-kermit-latency-ms"] = str(
                        int((_lt.monotonic() - _t0) * 1000)
                    )
                    return hdrs

                req_headers = {
                    "User-Agent": agent_for(url, referer),
                    "Accept-Encoding": "gzip, deflate",
                }
                if send_referer and isinstance(referer, str) and referer:
                    req_headers["Referer"] = referer
                # conditional GET from stored validators (re-crawl rows carry
                # them from their last visit); a 304 flows back through the
                # HTTPError branch below with its real status/headers
                if isinstance(etag, str) and etag:
                    req_headers["If-None-Match"] = etag
                if isinstance(last_modified, str) and last_modified:
                    req_headers["If-Modified-Since"] = last_modified
                req = urllib.request.Request(url, headers=req_headers)
                try:
                    with sem_for(url), opener_for(url).open(req, timeout=timeout) as resp:
                        hdrs = {k.lower(): v for k, v in resp.headers.items()}
                        # urllib follows redirects silently; keep the
                        # canonical mapping observable (requested url stays
                        # the row key — same as the reference, whose request
                        # lib also follows silently)
                        final = resp.geturl()
                        if final and final != url:
                            hdrs["final_url"] = final
                        ct_full = resp.headers.get("Content-Type") or ""
                        ct = ct_full.split(";")[0]
                        if max_body:
                            raw = resp.read(max_body + 1)
                            if len(raw) > max_body:
                                raw = raw[:max_body]
                                hdrs["body_truncated"] = "1"
                        else:
                            raw = resp.read()
                        enc = hdrs.get("content-encoding", "").strip().lower()
                        if enc:
                            # on a network-truncated stream decompressobj
                            # still yields the recoverable prefix
                            raw = inflate(raw, enc, hdrs)
                        return resp.status, ct or None, decode(raw, ct_full), _stamp(hdrs)
                except urllib.error.HTTPError as e:
                    hdrs = {k.lower(): v for k, v in (e.headers or {}).items()}
                    ct_full = (e.headers.get("Content-Type") if e.headers else None) or ""
                    try:
                        raw = e.read(max_body) if max_body else e.read()
                        enc = hdrs.get("content-encoding", "").strip().lower()
                        if enc:
                            raw = inflate(raw, enc, hdrs)
                        body = decode(raw, ct_full)
                    except Exception:
                        body = None
                    if e.code == 304:
                        body = None  # a 304 carries no representation
                    ct = ((e.headers.get("Content-Type") if e.headers else None) or "").split(";")[0]
                    return e.code, ct or None, body, _stamp(hdrs)
                except Exception:
                    # transport failure (DNS, refused, timeout): no HTTP status
                    return 599, None, None, _stamp({})

            with cf.ThreadPoolExecutor(max_workers=pool_size) as ex:
                for pdf in batches:
                    if not len(pdf):
                        continue
                    etags = pdf["etag"] if "etag" in pdf.columns else [None] * len(pdf)
                    lms = (
                        pdf["last_modified"]
                        if "last_modified" in pdf.columns
                        else [None] * len(pdf)
                    )
                    results = list(ex.map(get, pdf["url"], pdf["referer"], etags, lms))
                    pdf = pdf.copy()
                    pdf["status"] = [r[0] for r in results]
                    pdf["content_type"] = [r[1] for r in results]
                    pdf["body"] = [r[2] for r in results]
                    pdf["headers"] = [r[3] for r in results]
                    yield pdf.drop(
                        columns=[c for c in ("etag", "last_modified") if c in pdf.columns]
                    )

        in_cols = list(SELECT_COLS) + [
            c for c in ("etag", "last_modified") if c in selected.columns
        ]
        out = selected.select(*in_cols).mapInPandas(run, FETCH_RESULT_DDL)
        return out.withColumn(
            "content_type", content_type_fallback(F.col("url"), F.col("content_type"))
        )

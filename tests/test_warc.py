"""WARC export/import (kermit_spark/warc.py): byte-exact framing, lossless
round trip, determinism, and robustness to adversarial bodies."""

import glob
import gzip

from pyspark.sql import functions as F

from kermit_spark.warc import read_warc, write_warc, write_warc_gz

# both response sinks: the text sink (.warc) and the per-record-gzip sink
# (.warc.gz); every reader takes either
_WRITERS = (write_warc, write_warc_gz)


_DOC_ROWS = [
    ("http://a.test/1", 0, 200, "text/html", "<html>one é</html>"),
    ("http://a.test/2", 0, 404, "text/plain", ""),
    ("http://a.test/3", 1, 200, "text/html",
     "body containing\r\n\r\nWARC/1.0\r\nfake record header"),
    ("http://a.test/4", 1, 200, None, None),
]


def _docs(spark):
    return spark.createDataFrame(
        _DOC_ROWS, "url string, wave int, status int, content_type string, body string"
    )


def _write(write, docs, path):
    """Archive string-bodied ``docs`` through either response sink
    (write_warc_gz takes the bodies as their UTF-8 bytes)."""
    if write is write_warc_gz:
        docs = docs.withColumn("body", F.col("body").cast("binary"))
    write(docs, path)


def test_warc_round_trip(spark, tmp_path):
    for write in _WRITERS:
        path = str(tmp_path / write.__name__)
        _write(write, _docs(spark).repartition(2), path)
        back = {r["url"]: r for r in read_warc(spark, path).collect()}
        assert len(back) == 4
        r1 = back["http://a.test/1"]
        assert (r1["status"], r1["content_type"], r1["body"]) == (
            200, "text/html", "<html>one é</html>".encode()
        )
        assert back["http://a.test/2"]["status"] == 404
        # a body that LOOKS like a record header parses fine (length-framed)
        assert back["http://a.test/3"]["body"].endswith(b"fake record header")
        assert back["http://a.test/3"]["wave"] == 1
        # null body/content-type: octet-stream default, empty body
        assert back["http://a.test/4"]["body"] == b""
        assert back["http://a.test/4"]["content_type"] == "application/octet-stream"


def test_warc_files_are_valid_and_deterministic(spark, tmp_path):
    """Writing the same rows twice produces byte-identical files — for the
    .warc.gz sink too (zlib gzip framing carries no timestamp; python's
    gzip module would stamp wall-clock and break reproducible
    archives)."""
    docs = _docs(spark).repartition(2, "url")
    for write in _WRITERS:
        a = str(tmp_path / write.__name__ / "a")
        b = str(tmp_path / write.__name__ / "b")
        _write(write, docs, a)
        _write(write, docs, b)
        fa = sorted(glob.glob(f"{a}/part-*"))
        fb = sorted(glob.glob(f"{b}/part-*"))
        assert fa and len(fa) == len(fb)
        for x, y in zip(fa, fb):
            bytes_x = open(x, "rb").read()
            assert bytes_x == open(y, "rb").read()   # identical re-run
            if write is write_warc_gz:
                bytes_x = gzip.decompress(bytes_x)
            assert bytes_x.startswith(b"WARC/1.0\r\n")
            assert bytes_x.endswith(b"\r\n\r\n")
            # fixed date parameter, never wall clock
            assert b"WARC-Date: 2000-01-01T00:00:00Z" in bytes_x


def test_crawler_archives_waves_to_warc(spark, tmp_path):
    """CrawlConfig(warc_path=...) archives every wave's raw fetches —
    bodies included, which the documents table does not keep — as
    wave-partitioned WARC; read-back restores them."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness

    corpus = spark.createDataFrame(
        [
            ("http://a.test/1.html", "a.test", 200, "text/html",
             '<html><body><a href="/2.html">n</a></body></html>'),
            ("http://a.test/2.html", "a.test", 200, "text/html",
             "<html><body><p>leaf two</p></body></html>"),
        ],
        "url string, host string, status int, content_type string, body string",
    )
    warc_dir = str(tmp_path / "archive")
    cfg = CrawlConfig(
        num_partitions=2,
        politeness=Politeness((Limit(".*", 10),)),
        obey_robots=False,
        warc_path=warc_dir,
    )
    c = Crawler(spark, SnapshotCatalog(spark, str(tmp_path / "c")),
                CorpusFetcher(corpus), cfg)
    c.seed(["http://a.test/1.html"])
    c.crawl(3)

    w0 = {r["url"]: r for r in read_warc(spark, f"{warc_dir}/wave=0").collect()}
    assert b'<a href="/2.html">n</a>' in w0["http://a.test/1.html"]["body"]
    w1 = {r["url"]: r for r in read_warc(spark, f"{warc_dir}/wave=1").collect()}
    assert b"leaf two" in w1["http://a.test/2.html"]["body"]
    # the documents table itself keeps spans, not bodies — the archive is
    # the only place the raw payload survives
    assert "body" not in c.documents().columns


# -- CDX index + random access ----------------------------------------------


def test_cdx_offsets_are_byte_exact(spark, tmp_path):
    """Every (filename, offset, length) must frame a complete record: a raw
    seek+read of exactly those bytes re-parses to the same row read_warc
    returns — including the multi-byte-UTF-8 and header-lookalike bodies.
    For a .warc.gz the coordinates are the record's gzip MEMBER inside the
    COMPRESSED file (the Range-GET contract of the .warc.gz ecosystem), so
    the bytes read start with the gzip magic and gunzip to one record.
    Either way the ranges tile the file exactly."""
    import collections
    import hashlib
    import os

    from kermit_spark.warc import (
        _iter_records_bytes,
        _parse_http_payload_bytes,
        build_cdx,
    )

    bodies = {u: (b or "").encode() for u, _, _, _, b in _DOC_ROWS}
    for write in _WRITERS:
        path = str(tmp_path / write.__name__)
        _write(write, _docs(spark).repartition(2), path)
        cdx = build_cdx(spark, path).collect()
        assert len(cdx) == 4
        per_file = collections.defaultdict(list)
        for r in cdx:
            local = r["filename"][len("file:"):]
            with open(local, "rb") as f:
                f.seek(r["offset"])
                blob = f.read(r["length"])
            if write is write_warc_gz:
                assert blob[:2] == b"\x1f\x8b"
                rec = gzip.decompress(blob)
                assert rec.startswith(b"WARC/1.0") and rec.endswith(b"\r\n\r\n")
            parsed = list(_iter_records_bytes(blob))
            assert len(parsed) == 1, f"offset/length misframes {r['url']}"
            headers, raw, _, _ = parsed[0]
            assert headers["warc-target-uri"] == r["url"]
            body = _parse_http_payload_bytes(raw)[2]
            assert body == bodies[r["url"]]
            # digest is md5 over the raw BODY bytes
            assert r["digest"] == hashlib.md5(body).hexdigest()
            per_file[local].append((r["offset"], r["length"]))
        for local, spans in per_file.items():
            spans.sort()
            assert spans[0][0] == 0
            for (o1, l1), (o2, _) in zip(spans, spans[1:]):
                assert o1 + l1 == o2  # records tile the file exactly
            assert spans[-1][0] + spans[-1][1] == os.path.getsize(local)


def test_cdx_random_access_equals_sequential_read(spark, tmp_path):
    from kermit_spark.warc import build_cdx, read_warc_at

    for write in _WRITERS:
        path = str(tmp_path / write.__name__)
        _write(write, _docs(spark).repartition(2), path)
        cdx = build_cdx(spark, path)
        # fetch a subset by key: exactly those records come back, nothing else
        want = cdx.filter(F.col("url").isin("http://a.test/2", "http://a.test/3"))
        got = {r["url"]: r for r in read_warc_at(spark, want).collect()}
        assert set(got) == {"http://a.test/2", "http://a.test/3"}
        seq = {r["url"]: r for r in read_warc(spark, path).collect()}
        # and the whole index fetches every record, identical to the scan
        every = {r["url"]: r for r in read_warc_at(spark, cdx).collect()}
        assert set(every) == set(seq)
        for u, r in list(got.items()) + list(every.items()):
            assert (r["wave"], r["status"], r["content_type"], r["body"]) == (
                seq[u]["wave"], seq[u]["status"], seq[u]["content_type"], seq[u]["body"]
            )


def test_cdx_surt_key_and_digest(spark, tmp_path):
    import hashlib

    from kermit_spark.warc import build_cdx, surt_key

    path = str(tmp_path / "w")
    write_warc(_docs(spark), path)
    rows = {r["url"]: r for r in build_cdx(spark, path).collect()}
    assert rows["http://a.test/1"]["surt_key"] == "test,a)/1"
    assert rows["http://a.test/1"]["digest"] == hashlib.md5(
        "<html>one é</html>".encode()
    ).hexdigest()
    # golden SURT forms (expression-level): host reversal, case folding, query
    df = spark.createDataFrame(
        [("http://WWW.Example.COM/A/b?X=1",), ("https://sub.dom.org/",)], "u string"
    )
    got = [r["k"] for r in df.select(surt_key(F.col("u")).alias("k")).collect()]
    assert got == ["com,example,www)/a/b?x=1", "org,dom,sub)/"]


def test_cdx_table_lookup_prunes_buckets_and_fetches(spark, tmp_path):
    """Stored CDX: a lookup reads only the buckets its URLs hash into
    (partition pruning visible in inputFiles), and the resolved rows
    random-access the right records — .warc.gz member coordinates
    included (same CDX schema)."""
    from kermit_spark.warc import (
        build_cdx, lookup_cdx, read_warc_at, write_cdx_table,
    )

    # many hosts so buckets actually separate domains
    rows = [
        (f"http://h{i}.test/p/{i}", 0, 200, "text/html", f"body-{i}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "url string, wave int, status int, content_type string, body string"
    )
    for write in _WRITERS:
        warc_dir = str(tmp_path / write.__name__ / "w")
        cdx_dir = str(tmp_path / write.__name__ / "cdx")
        _write(write, docs.repartition(4), warc_dir)
        write_cdx_table(build_cdx(spark, warc_dir), cdx_dir, buckets=16)

        hits = lookup_cdx(
            spark, cdx_dir, ["http://h3.test/p/3", "http://h17.test/p/17"], buckets=16
        )
        got = {r["url"]: r for r in hits.collect()}
        assert set(got) == {"http://h3.test/p/3", "http://h17.test/p/17"}
        # pruning: the kb predicate reaches the scan as a PartitionFilter
        # (inputFiles() lists the pre-pruning relation, so inspect the plan)
        plan = hits._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "kb" in plan.split("PartitionFilters", 1)[1][:200]
        # the resolved rows fetch the exact bodies
        recs = {r["url"]: r["body"] for r in read_warc_at(spark, hits).collect()}
        assert recs == {
            "http://h3.test/p/3": b"body-3",
            "http://h17.test/p/17": b"body-17",
        }


SPANS_DDL = (
    "url string, wave int, "
    "spans array<struct<kind string, text string, media_ref string, offset int>>"
)


def test_wet_round_trip_and_text_rule(spark, tmp_path):
    """WET conversion records: visible text = text-span bodies + link
    anchors in span order, newline-joined; whitespace-only and media/
    resource spans contribute nothing; empty docs round-trip as ''."""
    from kermit_spark.warc import read_wet, write_wet

    docs = spark.createDataFrame(
        [
            (
                "http://a.test/1",
                0,
                [
                    ("text", "hello  world", None, 0),
                    ("link", "next", "/n/2", 1),
                    ("media", None, "/img/x.png", 2),
                    ("text", "  ", None, 3),
                    ("resource", None, "/s.css", 4),
                    ("text", "tail", None, 5),
                ],
            ),
            ("http://a.test/2", 1, []),
        ],
        SPANS_DDL,
    )
    path = str(tmp_path / "wet")
    write_wet(docs.repartition(3), path)
    back = {r["url"]: r for r in read_wet(spark, path).collect()}
    assert back["http://a.test/1"]["text"] == "hello  world\nnext\ntail"
    assert back["http://a.test/1"]["wave"] == 0
    assert back["http://a.test/2"]["text"] == ""
    assert back["http://a.test/2"]["wave"] == 1


def test_wet_refers_to_matches_response_record_id(spark, tmp_path):
    """The conversion record's WARC-Refers-To is the WARC-Record-ID the
    response archive writes for the SAME (url, wave) — the Common Crawl
    wet→warc linkage."""
    import re

    from kermit_spark.warc import write_warc, write_wet

    spans_docs = spark.createDataFrame(
        [("http://a.test/x", 3, [("text", "t", None, 0)])], SPANS_DDL
    )
    resp_docs = spark.createDataFrame(
        [("http://a.test/x", 3, 200, "text/html", "<p>t</p>")],
        "url string, wave int, status int, content_type string, body string",
    )
    wet_dir, warc_dir = str(tmp_path / "wet"), str(tmp_path / "warc")
    write_wet(spans_docs, wet_dir)
    write_warc(resp_docs, warc_dir)

    def slurp(d):
        import pathlib

        return "".join(
            p.read_text() for p in sorted(pathlib.Path(d).glob("part-*"))
        )

    wet_text_raw, warc_text = slurp(wet_dir), slurp(warc_dir)
    refers = re.search(r"WARC-Refers-To: <urn:uuid:([0-9a-f-]+)>", wet_text_raw).group(1)
    resp_id = re.search(r"WARC-Record-ID: <urn:uuid:([0-9a-f-]+)>", warc_text).group(1)
    assert refers == resp_id
    wet_id = re.search(r"WARC-Record-ID: <urn:uuid:([0-9a-f-]+)>", wet_text_raw).group(1)
    assert wet_id != resp_id
    assert "WARC-Type: conversion" in wet_text_raw
    assert "Content-Type: text/plain" in wet_text_raw


def test_documents_from_warc_replay_matches_live_parse(spark, tmp_path):
    """Archive replay: write_warc → documents_from_warc re-derives key
    columns (url_hash/host/p) like the live path and produces the SAME
    spans the live parse does — re-extraction without re-fetch."""
    from kermit_spark.functions.urls import host_of, url_hash
    from kermit_spark.parse import parse_documents
    from kermit_spark.warc import documents_from_warc, write_warc

    resp = spark.createDataFrame(
        [
            ("http://a.test/p.html", 2, 200, "text/html",
             "<p>hi</p><a href='/n.html'>n</a><img src=/i.png>"),
            # note: a NULL body archives as zero bytes (nullness is not a
            # byte property), so replay parity is defined over "" bodies
            ("http://B.test:8080/x", 0, 404, "text/html", ""),
        ],
        "url string, wave int, status int, content_type string, body string",
    )
    path = str(tmp_path / "warc")
    write_warc(resp, path)
    replayed = documents_from_warc(spark, path, num_partitions=8)
    live = parse_documents(
        resp.select(
            url_hash(F.col("url")).alias("url_hash"), "url",
            host_of(F.col("url")).alias("host"),
            F.pmod(F.xxhash64(host_of(F.col("url"))), F.lit(8)).cast("int").alias("p"),
            "wave", F.lit(0).alias("rank"), F.lit(0).alias("depth"),
            "status", "content_type", "body",
        )
    )
    got = {r["url"]: r for r in replayed.collect()}
    want = {r["url"]: r for r in live.collect()}
    assert set(got) == set(want)
    for url in want:
        for col in ("doc_id", "url_hash", "host", "p", "wave", "spans"):
            assert got[url][col] == want[url][col], (url, col)
    # host is lower-cased with port kept, like the live path
    assert got["http://B.test:8080/x"]["host"] == "b.test:8080"
    # the 404 replays as an empty spans array, not null
    assert got["http://B.test:8080/x"]["spans"] == []


def test_wat_round_trip_outlinks_and_refers_to(spark, tmp_path):
    """WAT metadata records: canonical-JSON payload round-trips the fetch
    facts + ordered outlinks; text spans contribute nothing."""
    import re

    from kermit_spark.warc import read_wat, write_wat

    docs = spark.createDataFrame(
        [
            ("http://a.test/1", 0, 200, "text/html",
             [("text", "t", None, 0), ("link", "n", "/n/2", 1),
              ("media", None, "/img/a.png", 2), ("resource", None, "/s.css", 3)]),
            ("http://a.test/2", 1, 404, "text/html", []),
        ],
        "url string, wave int, status int, content_type string, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    path = str(tmp_path / "wat")
    write_wat(docs, path)
    back = {r["url"]: r for r in read_wat(spark, path).collect()}
    assert list(back["http://a.test/1"]["outlinks"]) == ["/n/2", "/img/a.png", "/s.css"]
    assert back["http://a.test/1"]["status"] == 200
    assert back["http://a.test/2"]["outlinks"] == []
    assert back["http://a.test/2"]["status"] == 404

    import pathlib

    raw = "".join(p.read_text() for p in sorted(pathlib.Path(path).glob("part-*")))
    assert "WARC-Type: metadata" in raw
    assert "Content-Type: application/json" in raw
    assert re.search(r"WARC-Refers-To: <urn:uuid:[0-9a-f-]+>", raw)


def test_wat_and_wet_tolerate_null_spans(spark, tmp_path):
    """A null-body HTML row parses to null spans; both conversion sinks
    must archive it as an empty payload instead of failing the task."""
    from kermit_spark.warc import read_wat, read_wet, write_wat, write_wet

    docs = spark.createDataFrame(
        [("http://a.test/null", 0, 200, "text/html", None)],
        "url string, wave int, status int, content_type string, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    wat_dir, wet_dir = str(tmp_path / "wat"), str(tmp_path / "wet")
    write_wat(docs, wat_dir)
    write_wet(docs, wet_dir)
    assert read_wat(spark, wat_dir).collect()[0]["outlinks"] == []
    assert read_wet(spark, wet_dir).collect()[0]["text"] == ""


def test_crawler_exports_wet_and_wat(spark, tmp_path):
    """Crawler.export_wet/export_wat derive the conversion/metadata archive
    faces from the documents table — visible text and outlinks of every
    visited page, re-crawl aware."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness
    from kermit_spark.warc import read_wat, read_wet

    corpus = spark.createDataFrame(
        [
            ("http://a.test/1.html", "a.test", 200, "text/html",
             '<html><body><p>intro</p><a href="/2.html">next page</a></body></html>'),
            ("http://a.test/2.html", "a.test", 200, "text/html",
             "<html><body><p>leaf two</p></body></html>"),
        ],
        "url string, host string, status int, content_type string, body string",
    )
    cfg = CrawlConfig(
        num_partitions=2,
        politeness=Politeness((Limit(".*", 10),)),
        obey_robots=False,
    )
    c = Crawler(spark, SnapshotCatalog(spark, str(tmp_path / "c")),
                CorpusFetcher(corpus), cfg)
    c.seed(["http://a.test/1.html"])
    c.crawl(3)

    wet_dir, wat_dir = str(tmp_path / "wet"), str(tmp_path / "wat")
    c.export_wet(wet_dir)
    c.export_wat(wat_dir)
    wet = {r["url"]: r["text"] for r in read_wet(spark, wet_dir).collect()}
    assert wet["http://a.test/1.html"] == "intro\nnext page"
    assert wet["http://a.test/2.html"] == "leaf two"
    wat = {r["url"]: r for r in read_wat(spark, wat_dir).collect()}
    assert list(wat["http://a.test/1.html"]["outlinks"]) == ["/2.html"]
    assert wat["http://a.test/2.html"]["outlinks"] == []
    assert wat["http://a.test/1.html"]["status"] == 200


def test_build_cdx_indexes_non_utf8_archive_byte_exact(spark, tmp_path):
    """A non-UTF-8 byte inside a record body cannot shift the CDX: the
    walker frames records in bytes and never decodes a payload, so the
    corrupted archive indexes with offsets that tile the file, and the
    ranged read returns the raw bytes exactly."""
    import os

    from kermit_spark.warc import build_cdx, read_warc_at

    good = str(tmp_path / "good")
    write_warc(_docs(spark).repartition(1), good)
    src = sorted(glob.glob(f"{good}/part-*"))[0]
    data = open(src, "rb").read()
    # corrupt the first record body ('<html>one é') with bytes that are not
    # UTF-8, keeping its length so the record's Content-Length stays true
    bad_bytes = data.replace("é".encode("utf-8"), b"\xff\xff", 1)
    assert bad_bytes != data and len(bad_bytes) == len(data)
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    bad_file = bad_dir / "part-00000.txt"
    bad_file.write_bytes(bad_bytes)

    cdx = build_cdx(spark, str(bad_dir))
    spans = sorted((r["offset"], r["length"]) for r in cdx.collect())
    assert len(spans) == 4
    assert spans[0][0] == 0
    for (o1, l1), (o2, _) in zip(spans, spans[1:]):
        assert o1 + l1 == o2
    assert spans[-1][0] + spans[-1][1] == os.path.getsize(bad_file)

    back = {r["url"]: r["body"] for r in read_warc_at(spark, cdx).collect()}
    assert back["http://a.test/1"] == b"<html>one \xff\xff</html>"
    assert back["http://a.test/3"] == _DOC_ROWS[2][4].encode()


def test_build_cdx_accepts_genuine_replacement_char(spark, tmp_path):
    """A VALID UTF-8 archive whose text legitimately contains U+FFFD
    indexes and reads back like any other bytes."""
    from kermit_spark.warc import build_cdx, read_warc_at, write_warc

    docs = spark.createDataFrame(
        [("http://a.test/fffd", 0, 200, "text/html", "literal \ufffd marker")],
        "url string, wave int, status int, content_type string, body string",
    )
    path = str(tmp_path / "w")
    write_warc(docs.repartition(1), path)
    cdx = build_cdx(spark, path)
    rows = cdx.collect()
    assert len(rows) == 1
    back = read_warc_at(spark, cdx).collect()
    assert back[0]["body"] == "literal \ufffd marker".encode()


def test_crawler_replay_documents_uses_crawl_partitioning(spark, tmp_path):
    """Crawler.replay_documents must derive the p column under THIS crawl's
    config.num_partitions (not documents_from_warc's default of 32), so
    replayed rows are drop-in rows of the same documents table."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness

    corpus = spark.createDataFrame(
        [
            ("http://a.test/1.html", "a.test", 200, "text/html",
             '<html><body><a href="/2.html">n</a></body></html>'),
            ("http://a.test/2.html", "a.test", 200, "text/html",
             "<html><body><p>leaf</p></body></html>"),
        ],
        "url string, host string, status int, content_type string, body string",
    )
    warc_dir = str(tmp_path / "archive")
    cfg = CrawlConfig(
        num_partitions=5,  # deliberately NOT the warc module default (32)
        politeness=Politeness((Limit(".*", 10),)),
        obey_robots=False,
        warc_path=warc_dir,
    )
    c = Crawler(spark, SnapshotCatalog(spark, str(tmp_path / "c")),
                CorpusFetcher(corpus), cfg)
    c.seed(["http://a.test/1.html"])
    c.crawl(3)

    # stored documents rows carry the host partition as host_p (table p is
    # the wave); replay reproduces the parse-stage shape where p IS the
    # host salt — the two must agree under the crawl's num_partitions=5
    live = {
        (r["url"], r["host_p"])
        for r in c.documents().select("url", "host_p").collect()
    }
    replayed = {
        (r["url"], r["p"])
        for r in c.replay_documents(warc_dir).select("url", "p").collect()
    }
    assert replayed == live  # same rows, SAME host-partition assignment
    # and the free function's default (32) would NOT line up — the helper
    # passing config.num_partitions is load-bearing
    from kermit_spark.warc import documents_from_warc

    default_p = {
        (r["url"], r["p"])
        for r in documents_from_warc(spark, warc_dir).select("url", "p").collect()
    }
    assert default_p != live


# ---------------------------------------------------------------------------
# Foreign/binary archives (r5): per-record-gzip .warc.gz + raw-bytes bodies
# ---------------------------------------------------------------------------

_BIN_ROWS = [
    ("http://a.test/latin1.html", 1, 200, "text/html; charset=latin-1",
     "café crème ¡voilà!".encode("latin-1")),          # NOT valid UTF-8
    ("http://a.test/img.png", 1, 200, "image/png",
     b"\x89PNG\r\n\x1a\n" + bytes(range(256))),         # raw binary, CRLFs inside
    ("http://b.test/utf8.html", 2, 200, "text/html",
     "héllo <a href='/x'>x</a>".encode()),
    ("http://b.test/trap", 1, 200, "text/plain",
     b"body with\r\n\r\nWARC/1.0\r\nfake header"),      # framing decoy
    ("http://b.test/empty", 2, 404, None, b""),
]


def _bin_docs(spark):
    return spark.createDataFrame(
        _BIN_ROWS,
        "url string, wave int, status int, content_type string, body binary",
    )


def test_warc_gz_roundtrip_bit_exact(spark, tmp_path):
    """write_warc_gz → read_warc round-trips latin-1, raw binary,
    UTF-8 and empty bodies BIT-exactly."""
    from kermit_spark.warc import read_warc, write_warc_gz

    path = str(tmp_path / "arc")
    write_warc_gz(_bin_docs(spark), path)
    back = {
        r["url"]: (r["wave"], r["status"], r["content_type"], bytes(r["body"]))
        for r in read_warc(spark, path).collect()
    }
    assert len(back) == len(_BIN_ROWS)
    for url, wave, status, ctype, body in _BIN_ROWS:
        assert back[url] == (
            wave, status, ctype or "application/octet-stream", body
        ), url


def test_warc_gz_member_coordinates_are_compressed_byte_true(spark, tmp_path):
    """build_cdx's (offset, length) over a .warc.gz must be the record's
    gzip MEMBER coordinates inside the COMPRESSED file: a manual seek+read
    of exactly those bytes must gunzip to a complete WARC record — the
    Range-GET contract of the .warc.gz ecosystem."""
    import hashlib
    import zlib

    from kermit_spark.warc import build_cdx, write_warc_gz

    path = str(tmp_path / "arc")
    write_warc_gz(_bin_docs(spark), path)
    rows = build_cdx(spark, path).collect()
    assert len(rows) == len(_BIN_ROWS)
    bodies = {u: b for u, _, _, _, b in _BIN_ROWS}
    for r in rows:
        local = r["filename"][len("file:"):]
        with open(local, "rb") as f:
            f.seek(r["offset"])
            blob = f.read(r["length"])
        assert blob[:2] == b"\x1f\x8b"
        rec = zlib.decompress(blob, wbits=31)
        assert rec.startswith(b"WARC/1.0") and rec.endswith(b"\r\n\r\n")
        # digest is md5 over the raw BODY bytes
        assert r["digest"] == hashlib.md5(bodies[r["url"]]).hexdigest()


def test_warc_gz_ranged_read_back(spark, tmp_path):
    """CDX → read_warc_at returns every .warc.gz record's body bit-exactly
    through seek+read+one-member-gunzip; lookup_cdx pruning composes with
    the index unchanged (same CDX schema)."""
    from kermit_spark.warc import (
        build_cdx,
        lookup_cdx,
        read_warc_at,
        write_cdx_table,
        write_warc_gz,
    )

    path = str(tmp_path / "arc")
    write_warc_gz(_bin_docs(spark), path)
    cdx = build_cdx(spark, path)
    back = {
        r["url"]: bytes(r["body"])
        for r in read_warc_at(spark, cdx).collect()
    }
    for url, _, _, _, body in _BIN_ROWS:
        assert back[url] == body, url
    # stored + pruned lookup path
    table = str(tmp_path / "cdx")
    write_cdx_table(cdx, table, buckets=8)
    hit = lookup_cdx(spark, table, ["http://a.test/img.png"], buckets=8)
    got = read_warc_at(spark, hit).collect()
    assert len(got) == 1 and bytes(got[0]["body"]) == _BIN_ROWS[1][4]


def test_warc_gz_rewrite_is_byte_identical(spark, tmp_path):
    """Determinism: writing the same binary rows twice produces
    byte-identical .warc.gz files, file for file."""
    from kermit_spark.warc import write_warc_gz

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    docs = _bin_docs(spark).repartition(2, "url")
    write_warc_gz(docs, p1)
    write_warc_gz(docs, p2)
    f1 = {f.split("/")[-1]: open(f, "rb").read() for f in glob.glob(p1 + "/*.warc.gz")}
    f2 = {f.split("/")[-1]: open(f, "rb").read() for f in glob.glob(p2 + "/*.warc.gz")}
    assert f1 and f1 == f2


def test_plain_binary_warc_and_trailing_garbage(spark, tmp_path):
    """An UNCOMPRESSED foreign .warc with binary/latin-1 bodies reads via
    the same byte-space walker with uncompressed coordinates; trailing
    garbage after the last record is tolerated (records are a prefix)."""
    import os

    from kermit_spark.warc import (
        _render_record_bytes,
        build_cdx,
        read_warc,
        read_warc_at,
    )

    d = str(tmp_path / "plain")
    os.makedirs(d)
    with open(os.path.join(d, "f.warc"), "wb") as f:
        for url, wave, status, ctype, body in _BIN_ROWS:
            f.write(_render_record_bytes(url, wave, status, ctype, body,
                                         "2000-01-01T00:00:00Z"))
        f.write(b"\x00trailing-garbage-not-a-record")
    back = {r["url"]: bytes(r["body"]) for r in read_warc(spark, d).collect()}
    assert len(back) == len(_BIN_ROWS)
    for url, _, _, _, body in _BIN_ROWS:
        assert back[url] == body
    at = {
        r["url"]: bytes(r["body"])
        for r in read_warc_at(spark, build_cdx(spark, d)).collect()
    }
    for url, _, _, _, body in _BIN_ROWS:
        assert at[url] == body


def test_documents_from_warc_binary_replays_foreign_archive(spark, tmp_path):
    """Common Crawl replay face: a foreign per-record-gzip archive with a
    charset-DECLARED latin-1 HTML page, an undeclared UTF-8 page, and a
    binary image must replay into documents rows — links extracted from
    both HTML pages (accented latin-1 text decoded correctly), the image
    routed to a single media span, and (p, url_hash) re-derived exactly
    as the live fetch path derives them."""
    from pyspark.sql import functions as F

    from kermit_spark.functions.urls import host_salt, url_hash
    from kermit_spark.warc import documents_from_warc, write_warc_gz

    rows = [
        ("http://f.test/l1.html", 1, 200, "text/html; charset=latin-1",
         '<html><body>caf\xe9 <a href="/next.html">entr\xe9e</a></body></html>'
         .encode("latin-1")),
        ("http://f.test/u8.html", 1, 200, "text/html",
         '<html><body>héllo <a href="/x.html">go</a></body></html>'.encode()),
        ("http://f.test/pic.png", 2, 200, "image/png",
         b"\x89PNG\r\n\x1a\n" + bytes(range(64))),
    ]
    df = spark.createDataFrame(
        rows, "url string, wave int, status int, content_type string, body binary"
    )
    path = str(tmp_path / "arc")
    write_warc_gz(df, path)

    docs = documents_from_warc(spark, path, num_partitions=4)
    got = {r["url"]: r for r in docs.collect()}
    assert set(got) == {u for u, *_ in rows}

    l1 = [tuple(s) for s in got["http://f.test/l1.html"]["spans"]]
    assert ("text", "café", None, 0) in l1
    assert ("link", "entrée", "/next.html", 1) in l1
    u8 = [tuple(s) for s in got["http://f.test/u8.html"]["spans"]]
    assert ("link", "go", "/x.html", 1) in u8
    pic = [tuple(s) for s in got["http://f.test/pic.png"]["spans"]]
    assert pic == [("media", None, "http://f.test/pic.png", 0)]

    # key re-derivation matches the live path exactly
    expect = (
        spark.createDataFrame([(u,) for u, *_ in rows], "url string")
        .select(
            "url",
            url_hash(F.col("url")).alias("h"),
            host_salt(F.lit("f.test"), 4).alias("p"),
        )
        .collect()
    )
    for r in expect:
        assert got[r["url"]]["url_hash"] == r["h"]
        assert got[r["url"]]["p"] == r["p"]


def test_documents_from_warc_binary_mislabeled_body_never_crashes(spark, tmp_path):
    """An undeclared body that is NOT valid UTF-8 (mislabeled text, the
    real-web norm) must fall back to byte-preserving latin-1 instead of
    failing the replay task."""
    from kermit_spark.warc import documents_from_warc, write_warc_gz

    df = spark.createDataFrame(
        [("http://f.test/bad.html", 1, 200, "text/html",
          b"<html><body>caf\xe9 broken</body></html>")],  # latin-1, undeclared
        "url string, wave int, status int, content_type string, body binary",
    )
    path = str(tmp_path / "arc")
    write_warc_gz(df, path)
    docs = documents_from_warc(spark, path, num_partitions=2).collect()
    assert len(docs) == 1
    spans = [tuple(s) for s in docs[0]["spans"]]
    assert spans == [("text", "café broken", None, 0)]


def test_single_stream_gzip_archive_no_duplication(spark, tmp_path):
    """Review finding: a foreign .warc.gz gzipped as ONE stream holds all
    N records in one member, so every CDX row carries the member's
    coordinates. The ranged reader must (a) parse each distinct range
    once — the full CDX returns exactly N rows, not N² — and (b) return
    only the requested urls: a one-URL lookup yields 1 record, not the
    member's whole contents."""
    import gzip
    import os

    from pyspark.sql import functions as F

    from kermit_spark.warc import (
        _render_record_bytes,
        build_cdx,
        read_warc,
        read_warc_at,
    )

    d = str(tmp_path / "ss")
    os.makedirs(d)
    blob = b"".join(
        _render_record_bytes(u, w, s, c, b, "2000-01-01T00:00:00Z")
        for u, w, s, c, b in _BIN_ROWS
    )
    with open(os.path.join(d, "whole.warc.gz"), "wb") as f:
        f.write(gzip.compress(blob))

    back = read_warc(spark, d).collect()
    assert len(back) == len(_BIN_ROWS)

    cdx = build_cdx(spark, d)
    rows = cdx.collect()
    assert len(rows) == len(_BIN_ROWS)
    assert {(r["offset"], r["length"]) for r in rows} == {
        (rows[0]["offset"], rows[0]["length"])
    }  # one member -> shared coordinates
    # (a) full fetch: exactly one row per record
    at = read_warc_at(spark, cdx).collect()
    assert sorted(r["url"] for r in at) == sorted(u for u, *_ in _BIN_ROWS)
    bodies = {u: b for u, _, _, _, b in _BIN_ROWS}
    for r in at:
        assert bytes(r["body"]) == bodies[r["url"]]
    # (b) one-URL lookup: one record only
    one = read_warc_at(
        spark, cdx.filter(F.col("url") == "http://a.test/img.png")
    ).collect()
    assert len(one) == 1 and bytes(one[0]["body"]) == _BIN_ROWS[1][4]


def test_binary_walker_tolerates_truncation(spark, tmp_path):
    """Review finding: a partially-downloaded foreign archive (header cut
    before its blank line, payload cut mid-body, or a truncated gzip
    member) must yield the valid record prefix, never crash the task."""
    import gzip
    import os
    import zlib

    from kermit_spark.warc import _render_record_bytes, read_warc

    recs = [
        _render_record_bytes(u, w, s, c, b, "2000-01-01T00:00:00Z")
        for u, w, s, c, b in _BIN_ROWS[:3]
    ]
    cases = {
        # plain: full record + header cut off mid-headers
        "plain_hdr": recs[0] + recs[1][: len(recs[1]) // 3],
        # plain: full record + payload cut mid-body
        "plain_body": recs[0] + recs[1][: -10],
        # gzip: full member + truncated member
        "gz_member": (
            gzip.compress(recs[0]) + gzip.compress(recs[1])[: 20]
        ),
    }
    for name, blob in cases.items():
        d = str(tmp_path / name)
        os.makedirs(d)
        ext = "warc.gz" if name.startswith("gz") else "warc"
        with open(os.path.join(d, f"f.{ext}"), "wb") as f:
            f.write(blob)
        back = read_warc(spark, d).collect()
        assert len(back) == 1, name                      # the valid prefix
        assert back[0]["url"] == _BIN_ROWS[0][0], name


def test_non_ascii_target_uri_round_trips(spark, tmp_path):
    """WARC headers are UTF-8 on both sides of the byte layer: a non-ASCII
    target URI survives either sink, the CDX scan and the ranged read."""
    from kermit_spark.warc import build_cdx, read_warc_at

    url = "http://a.test/\u65e5\u672c"
    docs = spark.createDataFrame(
        [(url, 0, 200, "text/html", "<p>x</p>")],
        "url string, wave int, status int, content_type string, body string",
    )
    for write in _WRITERS:
        path = str(tmp_path / write.__name__)
        _write(write, docs, path)
        assert [r["url"] for r in read_warc(spark, path).collect()] == [url]
        cdx = build_cdx(spark, path)
        assert [r["url"] for r in cdx.collect()] == [url]
        back = read_warc_at(spark, cdx).collect()
        assert [(r["url"], r["body"]) for r in back] == [(url, b"<p>x</p>")]


def _cc_record(i, warc_type, payload, uri=None,
               content_type="application/warc-fields"):
    """One record framed the way a Common Crawl writer frames it: its own
    header set, no WARC-Kermit-Wave, a target URI only where the type has
    one."""
    head = [
        "WARC/1.0",
        f"WARC-Type: {warc_type}",
        "WARC-Date: 2024-02-20T10:00:00Z",
        f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{i:012d}>",
        f"Content-Length: {len(payload)}",
        f"Content-Type: {content_type}",
    ]
    if uri is not None:
        head.insert(2, f"WARC-Target-URI: {uri}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"


def test_common_crawl_shaped_archive_reads_only_response_records(spark, tmp_path):
    """A Common-Crawl-shaped .warc.gz — warcinfo first, then request,
    response and metadata records per fetch, a revisit record, one gzip
    member per record and a truncated tail member — ingests cleanly: the
    response readers return exactly the response records, and every
    other WARC-Type is skipped."""
    import os

    from kermit_spark.warc import build_cdx, documents_from_warc, read_warc_at

    pages = {
        "http://cc.test/a.html": (
            "text/html; charset=UTF-8",
            '<html><body>h\u00e9llo <a href="/next.html">next</a></body></html>'
            .encode("utf-8"),
        ),
        "http://cc.test/b.html": (
            "text/html; charset=ISO-8859-1",
            "<html><body>caf\u00e9</body></html>".encode("latin-1"),
        ),
    }
    http = "application/http; msgtype="
    recs = [_cc_record(0, "warcinfo", b"software: test-crawler\r\n")]
    for url, (ctype, body) in pages.items():
        n = len(recs)
        path = url.split("cc.test", 1)[1].encode()
        recs += [
            _cc_record(n, "request",
                       b"GET " + path + b" HTTP/1.1\r\nHost: cc.test\r\n\r\n",
                       url, http + "request"),
            _cc_record(n + 1, "response",
                       f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
                       f"Content-Length: {len(body)}\r\n\r\n".encode() + body,
                       url, http + "response"),
            _cc_record(n + 2, "metadata", b"fetchTimeMs: 12\r\n", url),
        ]
    recs.append(
        _cc_record(len(recs), "revisit",
                   b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n",
                   "http://cc.test/a.html", http + "response")
    )
    tail = gzip.compress(
        _cc_record(len(recs), "response", b"HTTP/1.1 200 OK\r\n\r\ncut",
                   "http://cc.test/cut.html", http + "response")
    )[:25]
    d = str(tmp_path / "cc")
    os.makedirs(d)
    with open(os.path.join(d, "CC-MAIN-test-00000.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r) for r in recs) + tail)

    back = {r["url"]: r for r in read_warc(spark, d).collect()}
    assert set(back) == set(pages)
    for url, (ctype, body) in pages.items():
        assert (back[url]["wave"], back[url]["status"]) == (0, 200)
        assert back[url]["content_type"] == ctype
        assert back[url]["body"] == body

    cdx = build_cdx(spark, d)
    assert sorted(r["url"] for r in cdx.collect()) == sorted(pages)
    at = {r["url"]: r["body"] for r in read_warc_at(spark, cdx).collect()}
    assert at == {url: body for url, (_, body) in pages.items()}

    docs = {r["url"]: r for r in documents_from_warc(spark, d, num_partitions=2).collect()}
    assert set(docs) == set(pages)
    a_spans = [tuple(x) for x in docs["http://cc.test/a.html"]["spans"]]
    assert ("link", "next", "/next.html", 1) in a_spans
    b_spans = [tuple(x) for x in docs["http://cc.test/b.html"]["spans"]]
    assert b_spans == [("text", "caf\u00e9", None, 0)]


def test_heritrix_dns_response_records_are_skipped(spark, tmp_path):
    """Heritrix archives its DNS lookups as WARC-Type: response records
    with a ``dns:`` target URI and a text/dns payload, which is no HTTP
    message. Every response reader skips them instead of failing the task
    on the missing HTTP status line."""
    import os

    from kermit_spark.warc import _iter_responses, build_cdx, documents_from_warc, read_warc_at

    dns = _cc_record(
        1, "response", b"20240220100000\nher.test.\t300\tIN\tA\t10.0.0.7\n",
        "dns:her.test", "text/dns",
    )
    body = b"<html><body>ok</body></html>"
    page = _cc_record(
        2, "response",
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body,
        "http://her.test/", "application/http; msgtype=response",
    )
    data = _cc_record(0, "warcinfo", b"software: Heritrix/3.4\r\n") + dns + page
    assert [r[:5] for r in _iter_responses(data)] == [
        ("http://her.test/", 0, 200, "text/html", body)
    ]

    d = str(tmp_path / "heritrix")
    os.makedirs(d)
    with open(os.path.join(d, "heritrix-00000.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r) for r in (dns, page)))
    assert [(r["url"], r["body"]) for r in read_warc(spark, d).collect()] == [
        ("http://her.test/", body)
    ]
    cdx = build_cdx(spark, d)
    assert [r["url"] for r in read_warc_at(spark, cdx).collect()] == ["http://her.test/"]
    docs = documents_from_warc(spark, d, num_partitions=2).select("url", "status")
    assert [tuple(r) for r in docs.collect()] == [("http://her.test/", 200)]


def test_wet_and_wat_read_gzipped_part_files(spark, tmp_path):
    """read_wet / read_wat walk gzip archives too: a write_wet (write_wat)
    part file gzip-compressed behind a warcinfo member, the layout of a
    Common Crawl .wet.gz (.wat.gz), reads back with the same rows as the
    plain part file."""
    import os

    from kermit_spark.warc import read_wat, read_wet, write_wat, write_wet

    docs = spark.createDataFrame(
        [
            ("http://a.test/1", 0, 200, "text/html",
             [("text", "h\u00e9llo", None, 0), ("link", "n", "/n/2", 1)]),
            ("http://a.test/2", 1, 404, "text/html", []),
        ],
        "url string, wave int, status int, content_type string, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    warcinfo = gzip.compress(_cc_record(0, "warcinfo", b"software: test\r\n"))
    for write, read, ext in ((write_wet, read_wet, "wet"), (write_wat, read_wat, "wat")):
        plain, gz = str(tmp_path / ext), str(tmp_path / f"{ext}_gz")
        write(docs.repartition(1), plain)
        os.makedirs(gz)
        for i, part in enumerate(sorted(glob.glob(f"{plain}/part-*"))):
            with open(os.path.join(gz, f"part-{i:05d}.{ext}.gz"), "wb") as f:
                f.write(warcinfo + gzip.compress(open(part, "rb").read()))
        want = sorted(tuple(r) for r in read(spark, plain).collect())
        assert len(want) == 2
        assert sorted(tuple(r) for r in read(spark, gz).collect()) == want


def test_read_wat_maps_common_crawl_envelopes(spark, tmp_path):
    """A Common Crawl WAT nests the fetch facts in an ``Envelope`` and also
    writes envelopes for its request and metadata records. read_wat maps a
    response envelope to (url, wave, status, content_type, outlinks) in
    link order and skips the envelopes that describe no HTTP response."""
    import json
    import os

    from kermit_spark.warc import read_wat

    def envelope(i, uri, payload_meta):
        doc = {
            "Container": {"Filename": "CC-MAIN-00000.warc.gz", "Compressed": True},
            "Envelope": {
                "Format": "WARC",
                "WARC-Header-Metadata": {"WARC-Type": "response", "WARC-Target-URI": uri},
                "Payload-Metadata": payload_meta,
            },
        }
        return _cc_record(i, "metadata", json.dumps(doc).encode(), uri, "application/json")

    uri = "http://cc.test/page"
    response = {
        "Actual-Content-Type": "application/http; msgtype=response",
        "HTTP-Response-Metadata": {
            "Response-Message": {"Version": "HTTP/1.1", "Status": "200", "Reason": "OK"},
            "Headers": {"content-type": "text/html; charset=UTF-8", "Server": "x"},
            "HTML-Metadata": {
                "Head": {"Title": "t"},
                "Links": [
                    {"path": "A@/href", "url": "/a.html", "text": "a"},
                    {"path": "IMG@/src", "url": "//img.test/i.png"},
                    {"path": "A@/href", "text": "no url"},
                ],
            },
        },
    }
    records = [
        _cc_record(0, "warcinfo", b"software: test\r\n"),
        envelope(1, uri, {"HTTP-Request-Metadata": {"Request-Message": {"Method": "GET"}}}),
        envelope(2, uri, response),
        envelope(3, uri, {"WARC-Metadata-Metadata": {"Metadata-Records": []}}),
        envelope(4, "http://cc.test/img.png", {"HTTP-Response-Metadata": {
            "Response-Message": {"Status": "404"}, "Headers": {}}}),
    ]
    d = str(tmp_path / "ccwat")
    os.makedirs(d)
    with open(os.path.join(d, "CC-MAIN-00000.warc.wat.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(r) for r in records))
    assert [tuple(r) for r in read_wat(spark, d).collect()] == [
        (uri, 0, 200, "text/html; charset=UTF-8", ["/a.html", "//img.test/i.png"]),
        ("http://cc.test/img.png", 0, 404, None, []),
    ]

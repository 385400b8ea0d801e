"""WARC export/import — the interchange format of the crawl world.

The reference stores fetched files on disk via toLocalPath
(`/root/reference/src/kermit/extensions/ext.offline.coffee`); production
crawls store WARC (ISO 28500) so archives interoperate (wget, Heritrix,
Common Crawl, warcio all speak it). This module writes the three Common
Crawl record families — response (.warc), conversion (.wet) and metadata
(.wat) — and reads any WARC-family archive back, its own or a foreign one
such as a Common Crawl ``.warc.gz``: stdlib only, no warcio dependency.

Writing: each DataFrame row is rendered to ONE complete record (CRLF
headers, exact Content-Length over the payload bytes, two trailing
CRLFs) so records concatenate byte-exactly — every partition becomes one
valid part file written in parallel, no driver funnel. ``write_warc_gz``
writes each record as its own gzip member, the Common Crawl framing.

Reading: ONE byte-space record layer. ``_iter_records_bytes`` walks a
file by Content-Length (never by scanning for separators, never
decoding the framing), member by member for a gzip archive, so bodies
containing literal "WARC/1.0" text or arbitrary bytes round-trip
bit-exactly and every record's (offset, length) is a ranged-read
coordinate. Each reader keeps only its own WARC-Type: the response
readers skip the warcinfo, request, metadata and revisit records a
crawler's archive interleaves, and ``response`` records whose payload is
not HTTP (Heritrix ``dns:`` lookups). Response bodies surface as ``binary``
columns; decoding is the consumer's choice (``documents_from_warc``
decodes by declared charset). WARC headers are UTF-8 on both sides.

Determinism: the caller passes the crawl timestamp; record ids derive
from md5(url, wave) — same crawl, same archive.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WARC_VERSION = "WARC/1.0"

WARC_READ_SCHEMA = (
    "url string, wave int, status int, content_type string, body binary"
)

# WARC-Type -> (record-id kind, Content-Type) of each family this module
# writes; a family with a kind is derived from a response record and
# carries WARC-Refers-To that record's id
_FAMILIES = {
    "response": (None, "application/http; msgtype=response"),
    "conversion": ("wet", "text/plain"),
    "metadata": ("wat", "application/json"),
}


def _record_uuid(url, wave, kind: str | None = None) -> str:
    """Deterministic record id from (url, wave[, kind]). ONE derivation for
    all three record families — the WET/WAT ``WARC-Refers-To`` linkage is
    exactly this function with kind=None, so the chain cannot drift."""
    import hashlib

    key = str(url) + chr(0) + str(wave) + ((chr(0) + kind) if kind else "")
    rid = hashlib.md5(key.encode()).hexdigest()
    return f"{rid[:8]}-{rid[8:12]}-{rid[12:16]}-{rid[16:20]}-{rid[20:32]}"


def _warc_head(warc_type: str, url, wave, date: str, length: int) -> str:
    """The WARC header block of one record, blank line included — the one
    header renderer of every record family and both response sinks."""
    kind, content_type = _FAMILIES[warc_type]
    refers = (
        f"WARC-Refers-To: <urn:uuid:{_record_uuid(url, wave)}>\r\n" if kind else ""
    )
    return (
        f"{_WARC_VERSION}\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Record-ID: <urn:uuid:{_record_uuid(url, wave, kind)}>\r\n"
        f"{refers}"
        f"WARC-Kermit-Wave: {wave}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {length}\r\n"
        "\r\n"
    )


def _http_head(status, content_type) -> str:
    return (
        f"HTTP/1.1 {status}\r\n"
        f"Content-Type: {content_type or 'application/octet-stream'}\r\n"
        "\r\n"
    )


def _render_record(url, wave, status, content_type, body, date: str) -> str:
    payload = _http_head(status, content_type) + (body or "")
    n = len(payload.encode("utf-8"))
    # one CRLF here; the text writer's lineSep="\r\n" row terminator
    # supplies the second, completing the two-CRLF record framing
    return _warc_head("response", url, wave, date, n) + payload + "\r\n"


def write_warc(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """documents rows (url, wave, status, content_type, body) → ``path``
    as parallel .warc part files. ``date`` is the archive's WARC-Date —
    an explicit parameter, never wall-clock, so re-runs are identical.

    The render runs as an Arrow-batched mapInPandas (string assembly is
    the whole job); partition count controls file count; rows are sorted
    by ``order_cols`` WITHIN each partition so a file's record order is
    reproducible without a global sort.
    """

    _write_records(
        documents.select("url", "wave", "status", "content_type", "body"),
        lambda u, w, s, ct, b: _render_record(u, w, s, ct, b, date),
        path,
        order_cols,
    )


def _write_records(prepared: DataFrame, render_row, path: str,
                   order_cols: tuple[str, ...]) -> None:
    """Shared record sink for all three archive families: rows sorted by
    ``order_cols`` WITHIN each partition (reproducible file order, no
    global sort), each row rendered to one complete record string in an
    Arrow batch, every partition written as one part file. The
    ``lineSep="\\r\\n"`` row terminator supplies each record's second
    trailing CRLF — the framing contract _iter_plain_records_bytes' ``+4``
    advance depends on, kept in exactly one place."""

    cols = prepared.columns

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {"value": [render_row(*vals) for vals in zip(*(pdf[c] for c in cols))]}
            )

    (
        prepared.sortWithinPartitions(*order_cols)
        .mapInPandas(render, "value string")
        .write.mode("overwrite")
        .option("lineSep", "\r\n")
        .text(path)
    )


# ---------------------------------------------------------------------------
# The record layer: one byte-space walker under every reader. Real-world
# archives — Common Crawl's .warc.gz — store each record as its own gzip
# MEMBER (concatenated members = one valid gzip stream, but ranged access
# needs the member's compressed offset/length), carry arbitrary body bytes
# (images, latin-1 HTML, truncated junk) and interleave record types the
# engine never writes. So:
#
#   * framing is walked in bytes by Content-Length; nothing near it decodes,
#   * a gzip archive is walked member by member and each record reports its
#     member's COMPRESSED offset/length — exactly the coordinates a Common
#     Crawl CDX stores for HTTP Range-GET access,
#   * readers load files through the binaryFile source (one row per archive
#     file, content:binary) and select records by WARC-Type,
#   * truncated or malformed tails end the walk: records are a prefix.
# ---------------------------------------------------------------------------

_GZIP_MAGIC = b"\x1f\x8b"


def _decode_head(block: bytes) -> str:
    """A WARC or HTTP header block: UTF-8 (the WARC spec's header
    charset), falling back to byte-preserving latin-1 so a foreign
    non-UTF-8 header never fails the task."""
    try:
        return block.decode("utf-8")
    except UnicodeDecodeError:
        return block.decode("latin-1")


def _iter_gzip_members(data: bytes):
    """Walk concatenated gzip members, yielding (decompressed_bytes,
    member_offset, member_compressed_length). Stops at the first byte that
    is not a gzip magic (trailing garbage / truncation — members are a
    prefix), the same tolerance contract as the record walker.

    Streaming decompress in bounded chunks via ``memoryview`` slices: a
    ``decompress(data[pos:])`` per member would COPY the whole remaining
    file per member (and ``unused_data`` copies it again) — O(members ×
    filesize) memcpy, quadratic on a real per-record-gzip part file with
    ~10^4-10^5 members. Chunked feeding keeps the walk O(filesize) with
    the residual ``unused_data`` copy bounded by one chunk."""
    import zlib

    mv = memoryview(data)
    chunk_size = 1 << 20
    pos = 0
    while pos < len(data) - 1:
        if data[pos:pos + 2] != _GZIP_MAGIC:
            break
        obj = zlib.decompressobj(wbits=31)
        out: list[bytes] = []
        fed = 0
        try:
            while not obj.eof and pos + fed < len(data):
                chunk = mv[pos + fed: pos + fed + chunk_size]
                out.append(obj.decompress(chunk))
                fed += len(chunk)
        except zlib.error:  # corrupt member: records are a prefix
            break
        if not obj.eof:  # truncated member (partial download)
            break
        consumed = fed - len(obj.unused_data)
        if consumed <= 0:
            break
        yield b"".join(out), pos, consumed
        pos += consumed


def _iter_plain_records_bytes(data: bytes):
    """THE WARC framing walker: records of an uncompressed buffer by
    Content-Length, yielding (headers, payload bytes, byte_offset,
    byte_length) with lower-cased header names. Only the header block is
    decoded (_decode_head); payloads stay raw bytes, and each record
    advances by its payload plus the two trailing CRLFs.

    Tolerance contract (this walker INGESTS FOREIGN archives): a record
    whose header block is truncated before its blank line, or that lacks
    a parseable Content-Length, ends the walk — the valid record prefix
    is yielded rather than crashing the task on a partial download."""
    version = _WARC_VERSION.encode()
    pos = 0
    while pos < len(data):
        if not data.startswith(version, pos):
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:  # truncated header: yield the prefix, stop
            break
        headers = {}
        for line in _decode_head(data[pos:head_end]).split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            n = int(headers["content-length"])
        except (KeyError, ValueError):  # malformed foreign record
            break
        body_start = head_end + 4
        if body_start + n > len(data):  # payload cut off mid-record
            break
        payload = data[body_start:body_start + n]
        end = body_start + n + 4  # payload + its two trailing CRLFs
        yield headers, payload, pos, end - pos
        pos = end


def _iter_records_bytes(data: bytes):
    """Every record of one archive file (or one ranged read of it): a gzip
    buffer yields one record per MEMBER with the member's COMPRESSED
    (offset, length) — the ranged-read coordinates of the .warc.gz
    ecosystem; a plain buffer yields records with their uncompressed
    coordinates. Either way (headers, payload bytes, byte_offset,
    byte_length)."""
    if data[:2] == _GZIP_MAGIC:
        for raw, off, ln in _iter_gzip_members(data):
            for headers, payload, _, _ in _iter_plain_records_bytes(raw):
                yield headers, payload, off, ln
        return
    yield from _iter_plain_records_bytes(data)


def _iter_typed(data: bytes, warc_type: str):
    """The records of one WARC-Type that name a target URI, as (url, wave,
    payload bytes, offset, length). Every other record a foreign archive
    holds — warcinfo, request, revisit, another family — is skipped."""
    for headers, payload, off, ln in _iter_records_bytes(data):
        url = headers.get("warc-target-uri")
        if url is not None and headers.get("warc-type") == warc_type:
            yield url, int(headers.get("warc-kermit-wave", 0)), payload, off, ln


def _iter_responses(data: bytes):
    """The HTTP response records of one archive as (url, wave, status,
    content_type, body bytes, offset, length). A ``response`` record whose
    payload is not an HTTP message (Heritrix writes its ``dns:`` lookups as
    ``response`` records with a ``text/dns`` payload) is skipped like a
    record of a foreign type."""
    for url, wave, raw, off, ln in _iter_typed(data, "response"):
        if raw.startswith(b"HTTP/"):
            yield (url, wave, *_parse_http_payload_bytes(raw), off, ln)


def _parse_http_payload_bytes(raw: bytes) -> tuple[int, str | None, bytes]:
    """One response record's raw payload → (status, content_type,
    body_bytes)."""
    http_head, _, body = raw.partition(b"\r\n\r\n")
    head_lines = _decode_head(http_head).split("\r\n")
    status = int(head_lines[0].split(" ", 1)[1].split(" ")[0])
    ctype = None
    for line in head_lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, body


def _map_archives(spark: SparkSession, path: str, rows_of, schema: str) -> DataFrame:
    """The archive files under ``path`` (binaryFile source, one row per
    file) → the rows ``rows_of(filename, data)`` yields for each, in
    ``schema`` field order, assembled in Arrow batches."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for fname, data in zip(pdf["path"], pdf["content"])
                for row in rows_of(fname, bytes(data))
            ]
            if rows:
                # integer column labels: mapInPandas matches them to the
                # schema's fields by position
                yield pd.DataFrame(rows)

    return files.mapInPandas(parse, schema)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Parse the .warc / .warc.gz files under ``path`` back to (url, wave,
    status, content_type, body:binary), one response record per row and
    one task per file. Latin-1 HTML, images or any other payload
    round-trips bit-exactly."""

    def rows(_, data):
        for rec in _iter_responses(data):
            yield rec[:5]

    return _map_archives(spark, path, rows, WARC_READ_SCHEMA)


CDX_SCHEMA = (
    "surt_key string, url string, wave int, status int, content_type string, "
    "digest string, filename string, offset long, length long"
)


def surt_key(url) -> "F.Column":
    """Simplified SURT (Sort-friendly URI Reordering Transform) key — the
    sort key of the CDX ecosystem: lowercase, scheme dropped, host
    components reversed and comma-joined, then ``)/path?query``. Pure JVM
    (parse_url stays in codegen). Simplifications vs. the full pywb
    canonicalizer, documented deliberately: no www-stripping, no query-param
    sorting, no session-id scrubbing — the key is deterministic and
    prefix-sortable per domain, which is what partition pruning needs."""
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    path = F.lower(F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/")))
    query = F.parse_url(url, F.lit("QUERY"))
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        path,
        F.when(query.isNotNull(), F.concat(F.lit("?"), F.lower(query))).otherwise(
            F.lit("")
        ),
    )


def build_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Scan the archives under ``path`` once and emit one CDX row per
    response record: (surt_key, url, wave, status, content_type,
    digest=md5(body bytes), filename, offset, length) so a consumer can
    fetch any single record with one ranged read (the Common Crawl
    cdx → HTTP Range-GET access pattern; locally, a seek+read —
    read_warc_at below). The coordinates come from the record walker:
    for a .warc.gz the record's gzip MEMBER inside the compressed file
    (a consumer reads exactly those bytes and gunzips one member), for a
    plain .warc the record's own bytes.

    Store the result sorted by surt_key and partitioned/bucketed on the
    key prefix and lookups prune to one file set per domain."""
    import hashlib

    def rows(fname, data):
        for url, wave, status, ctype, body, off, ln in _iter_responses(data):
            yield (
                url, wave, status, ctype, hashlib.md5(body).hexdigest(),
                fname, off, ln,
            )

    idx = _map_archives(
        spark, path, rows,
        "url string, wave int, status int, content_type string, "
        "digest string, filename string, offset long, length long",
    )
    return idx.select(surt_key(F.col("url")).alias("surt_key"), "*")


def write_cdx_table(cdx: DataFrame, path: str, buckets: int = 64) -> None:
    """Persist a CDX index hive-partitioned by ``kb = xxhash64(registered
    domain prefix of surt_key) % buckets`` and sorted by surt_key within
    each file. A lookup for one URL (or one domain) then touches ONE
    bucket directory — partition pruning at the path level — and parquet
    min/max stats on the sorted surt_key prune row groups inside it. At
    Common Crawl scale (10^10 records) this is the difference between a
    full index scan and a few MB read per lookup."""
    keyed = cdx.withColumn(
        "kb",
        F.pmod(F.xxhash64(F.split(F.col("surt_key"), r"\)").getItem(0)), F.lit(buckets)).cast("int"),
    )
    (
        keyed.repartition(F.col("kb"))
        .sortWithinPartitions("surt_key", "filename", "offset")
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(path)
    )


def lookup_cdx(spark: SparkSession, path: str, urls: list[str], buckets: int = 64) -> DataFrame:
    """Resolve URLs against a stored CDX table: returns the matching index
    rows (surt_key, url, ..., filename, offset, length) reading ONLY the
    buckets those URLs hash into. The bucket predicate is computed
    driver-side from the same surt/hash recipe write_cdx_table used, so
    Spark's scan plans `PartitionFilters: kb IN (...)` — untouched buckets
    contribute zero files. Feed the result to ``read_warc_at`` for the
    records themselves."""
    probe = spark.createDataFrame([(u,) for u in urls], "url string").select(
        "url", surt_key(F.col("url")).alias("surt_key")
    )
    keys = [
        (r["url"], r["surt_key"], r["kb"])
        for r in probe.withColumn(
            "kb",
            F.pmod(
                F.xxhash64(F.split(F.col("surt_key"), r"\)").getItem(0)),
                F.lit(buckets),
            ).cast("int"),
        ).collect()
    ]
    want_kb = sorted({kb for _, _, kb in keys})
    want_surt = sorted({s for _, s, _ in keys})
    idx = spark.read.parquet(path)
    return idx.filter(F.col("kb").isin(want_kb)).filter(
        F.col("surt_key").isin(want_surt)
    )


def read_warc_at(spark: SparkSession, cdx: DataFrame) -> DataFrame:
    """Random-access fetch: given CDX rows (url, filename, offset, length),
    return exactly those records as (url, wave, status, content_type,
    body:binary) — one seek+read of ``length`` bytes per RANGE, never a
    file scan; a gzip member is gunzipped after the ranged read (the
    Range-GET + gunzip access pattern archives serve at scale). Rows are
    grouped by filename within each task so a file is opened once per
    batch. Scales with |requested records|, independent of archive size.

    Two contracts a foreign archive forces (a member may hold MORE THAN
    ONE record — e.g. a whole-file single-stream gzip indexes every
    record at the member's coordinates):
      * each distinct (filename, offset, length) range is read and
        parsed ONCE, however many CDX rows point at it;
      * only the REQUESTED urls within the range are returned — a lookup
        for one URL in a multi-record member yields that record, not the
        member's whole contents."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for fname, grp in pdf.groupby("filename", sort=True):
                local = fname[len("file:"):] if fname.startswith("file:") else fname
                with open(local, "rb") as f:
                    for (off, ln), want in grp.groupby(
                        ["offset", "length"], sort=True
                    )["url"]:
                        wanted = set(want)
                        f.seek(int(off))
                        blob = f.read(int(ln))
                        for rec in _iter_responses(blob):
                            if rec[0] in wanted:
                                rows.append(rec[:5])
            if rows:
                yield pd.DataFrame(rows)

    return cdx.select("url", "filename", "offset", "length").mapInPandas(
        fetch, WARC_READ_SCHEMA
    )


# ---------------------------------------------------------------------------
# WET — the extracted-text conversion sibling of the response archive
# (Common Crawl ships crawl text as WARC-Type: conversion records in .wet
# files; text-pipeline consumers read those instead of raw WARC). Same
# framing discipline as write_warc: one complete record string per row,
# parallel part files, explicit date, ids derived from (url, wave) so the
# conversion record's WARC-Refers-To matches the response record write_warc
# produced for the same row.
# ---------------------------------------------------------------------------

WET_READ_SCHEMA = "url string, wave int, text string"


def wet_text(spans) -> "F.Column":
    """Visible text of an interleaved document, as one newline-joined
    string in span order: text-span bodies and link anchor text (what a
    text extractor keeps), media/resource refs dropped. Whitespace-only
    entries contribute nothing. Pure JVM expression — no Python on the
    extraction path."""
    visible = F.transform(
        spans,
        lambda s: F.when(s["kind"].isin("text", "link"), s["text"]),
    )
    return F.array_join(
        F.filter(visible, lambda t: t.isNotNull() & (F.trim(t) != "")),
        "\n",
    )


def _render_wet_record(url, wave, text, date: str) -> str:
    body = text or ""
    n = len(body.encode("utf-8"))
    return _warc_head("conversion", url, wave, date, n) + body + "\r\n"


def write_wet(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """documents rows (url, wave, spans) → ``path`` as parallel .wet part
    files of WARC/1.0 conversion records. Text derivation (wet_text) runs
    JVM-side; only the record assembly is an Arrow batch."""
    _write_records(
        documents.select("url", "wave", wet_text(F.col("spans")).alias("text")),
        lambda u, w, t: _render_wet_record(u, w, t, date),
        path,
        order_cols,
    )


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Parse .wet / .wet.gz files back to (url, wave, text), one
    conversion record per row and one task per file. The text is UTF-8
    (the WET convention); an undecodable byte becomes U+FFFD instead of
    failing the task."""

    def rows(_, data):
        for url, wave, raw, _, _ in _iter_typed(data, "conversion"):
            yield url, wave, raw.decode("utf-8", errors="replace")

    return _map_archives(spark, path, rows, WET_READ_SCHEMA)


# ---------------------------------------------------------------------------
# Replay — an archive back into documents rows through the extractor.
# ---------------------------------------------------------------------------

_CHARSET_RE = re.compile(r"charset=([\w.\-]+)", re.IGNORECASE)


def _decode_body(body: bytes, ctype: str | None) -> str:
    """A response body as text: the charset the Content-Type declares
    (``text/html; charset=latin-1``), else UTF-8, else latin-1 —
    byte-preserving for any 8-bit content, so a mislabeled body never
    crashes the replay (it parses as the garbled text a browser would
    have shown). Non-text payloads pass through latin-1 too (codepoints
    0-255 = the original bytes, the convention parse_documents' sniff
    path documents), where the non-HTML content_type routes them to a
    single media span rather than the tokenizer."""
    m = _CHARSET_RE.search(ctype or "")
    if m:
        try:
            return body.decode(m.group(1), errors="replace")
        except LookupError:
            pass  # unknown charset label -> fall through
    try:
        return body.decode("utf-8")
    except UnicodeDecodeError:
        return body.decode("latin-1")


def documents_from_warc(
    spark: SparkSession,
    path: str,
    num_partitions: int = 32,
    **parse_kwargs,
) -> DataFrame:
    """Re-extraction REPLAY: parse an archived crawl's raw bodies back into
    documents rows without a single re-fetch — the Common Crawl workflow of
    running a new/improved extractor over old WARCs, this engine's own or
    foreign ones (.warc or .warc.gz). Key columns (url_hash, host, p) are
    re-derived from the archived URL exactly as the live fetch path
    derives them, so replayed rows are drop-in rows of the same documents
    table (wave comes from the archive record; rank/depth are not
    archived and replay as 0; a NULL body archives as zero bytes, so it
    replays as "" — an empty spans array where the live parse of a
    null-body HTML row yields null). Bodies decode per _decode_body in
    the same Arrow batch as the record parse. ``parse_kwargs`` pass
    through to parse_documents (html_meta/sniff_content), which is the
    point: replay with better extraction settings than the original crawl
    had.

    CAUTION: ``num_partitions`` must equal the target crawl's
    ``config.num_partitions`` or the re-derived ``p`` column silently
    disagrees with the live partitioning and the drop-in claim above
    breaks — replaying into an existing crawl should go through
    ``Crawler.replay_documents``, which passes its own config's value."""
    from .functions.urls import host_of, host_salt, url_hash
    from .parse import parse_documents

    def rows(_, data):
        for url, wave, status, ctype, body, _, _ in _iter_responses(data):
            yield url, wave, status, ctype, _decode_body(body, ctype)

    raw = _map_archives(
        spark, path, rows,
        "url string, wave int, status int, content_type string, body string",
    )
    host = host_of(F.col("url"))
    fetched = raw.select(
        url_hash(F.col("url")).alias("url_hash"),
        F.col("url"),
        host.alias("host"),
        # host_salt IS the live partitioning recipe (frontier.partition_of
        # delegates to the same hash) — reuse keeps replay/live equivalence
        # structural rather than copy-paste
        host_salt(host, num_partitions).alias("p"),
        F.col("wave"),
        F.lit(0).alias("rank"),
        F.lit(0).alias("depth"),
        F.col("status"),
        # foreign archives carry full media types with parameters
        # ("text/html; charset=latin-1"); parse_documents routes on the
        # bare type (the charset already served its purpose in decode)
        F.trim(F.split(F.col("content_type"), ";").getItem(0)).alias(
            "content_type"
        ),
        F.col("body"),
    )
    return parse_documents(fetched, **parse_kwargs)


# perfbench/warc_replay.py imports the replay under this earlier name
documents_from_warc_binary = documents_from_warc


# ---------------------------------------------------------------------------
# WAT — the metadata sibling (Common Crawl's third archive face): one
# WARC-Type: metadata record per fetch whose payload is canonical JSON
# (sorted keys, no whitespace — byte-deterministic) carrying the fetch
# facts and the ordered outlink list. Consumers build link graphs from WAT
# without touching bodies.
# ---------------------------------------------------------------------------

WAT_READ_SCHEMA = (
    "url string, wave int, status int, content_type string, outlinks array<string>"
)


def wat_outlinks(spans) -> "F.Column":
    """Ordered raw outlink refs of a document (link/resource/media span
    targets, document order) — pure JVM expression."""
    return F.transform(
        F.filter(
            spans, lambda s: s["kind"].isin("link", "resource", "media")
        ),
        lambda s: s["media_ref"],
    )


def _render_wat_record(url, wave, status, content_type, outlinks, date: str) -> str:
    import json

    body = json.dumps(
        {
            "content_type": content_type,
            # null spans (e.g. a null-body HTML row) carry no outlinks
            "outlinks": [] if outlinks is None else [x for x in outlinks],
            "status": int(status),
            "url": url,
        },
        sort_keys=True,
        separators=(",", ":"),
    )
    n = len(body.encode("utf-8"))
    return _warc_head("metadata", url, wave, date, n) + body + "\r\n"


def write_wat(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """documents rows (url, wave, status, content_type, spans) → ``path``
    as parallel .wat part files. Outlink derivation runs JVM-side; null
    spans columns (a null-body HTML row parses to null spans) coalesce to
    an empty outlink list instead of failing the task."""
    _write_records(
        documents.select(
            "url", "wave", "status", "content_type",
            F.coalesce(
                wat_outlinks(F.col("spans")), F.array().cast("array<string>")
            ).alias("outlinks"),
        ),
        lambda u, w, s, ct, ol: _render_wat_record(u, w, s, ct, ol, date),
        path,
        order_cols,
    )


def _wat_row(doc: dict, url: str, wave: int) -> tuple | None:
    """One WAT JSON payload → (url, wave, status, content_type, outlinks),
    or None for a Common Crawl envelope that describes no HTTP response.

    Common Crawl nests the facts in ``{"Envelope": {"WARC-Header-Metadata":
    {...}, "Payload-Metadata": {"HTTP-Response-Metadata": {...}}}}`` and
    also writes envelopes for its request, metadata and warcinfo records,
    which carry no ``HTTP-Response-Metadata``. Outlinks are the page's
    ``HTML-Metadata.Links`` URLs in document order."""
    env = doc.get("Envelope")
    if env is None:
        return doc["url"], wave, doc["status"], doc["content_type"], doc["outlinks"]
    http = env.get("Payload-Metadata", {}).get("HTTP-Response-Metadata")
    if http is None:
        return None
    headers = {k.lower(): v for k, v in http.get("Headers", {}).items()}
    links = http.get("HTML-Metadata", {}).get("Links", [])
    return (
        env.get("WARC-Header-Metadata", {}).get("WARC-Target-URI", url),
        wave,
        int(http["Response-Message"]["Status"]),
        headers.get("content-type"),
        [link["url"] for link in links if "url" in link],
    )


def read_wat(spark: SparkSession, path: str) -> DataFrame:
    """Parse .wat / .wat.gz files back to (url, wave, status,
    content_type, outlinks), one metadata record per row and one task per
    file — JSON payloads length-framed like every other record family
    here. Common Crawl WAT envelopes map through ``_wat_row``."""
    import json

    def rows(_, data):
        for url, wave, raw, _, _ in _iter_typed(data, "metadata"):
            row = _wat_row(json.loads(raw), url, wave)
            if row is not None:
                yield row

    return _map_archives(spark, path, rows, WAT_READ_SCHEMA)


# ---------------------------------------------------------------------------
# Common-Crawl-framed sink: each response record its own gzip member with a
# binary body, so the engine can also EMIT .warc.gz archives (and tests can
# synthesize foreign corpora deterministically). The record bytes are the
# ones write_warc writes for the same row; only the member framing differs.
# ---------------------------------------------------------------------------


def _render_record_bytes(url, wave, status, content_type, body: bytes,
                         date: str) -> bytes:
    """The full response record as bytes, INCLUDING both trailing CRLFs
    (no text-writer lineSep here to supply the second one)."""
    payload = _http_head(status, content_type).encode("utf-8") + (body or b"")
    head = _warc_head("response", url, wave, date, len(payload))
    return head.encode("utf-8") + payload + b"\r\n\r\n"


def write_warc_gz(
    documents: DataFrame,
    path: str,
    date: str = "2000-01-01T00:00:00Z",
    order_cols: tuple[str, ...] = ("url",),
) -> None:
    """Common-Crawl-framed sink: (url, wave, status, content_type,
    body:binary) rows → ``path`` as parallel part-*.warc.gz files, each
    record its OWN gzip member (zlib wbits=31 — mtime 0, so re-runs are
    byte-identical; python's gzip module would stamp wall-clock). One file
    per partition, rows sorted by ``order_cols`` within the partition —
    the same parallel, reproducible layout as the text sink, but carrying
    arbitrary byte bodies. Spark has no binary-line sink, so each task
    writes its part file directly (posix locally; at cluster scale the
    same code targets a fuse/NFS mount, or swap the open() for an object-
    store client — the record bytes are sink-agnostic)."""
    import shutil
    import zlib

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    cols = ["url", "wave", "status", "content_type", "body"]
    prepared = documents.select(*cols).sortWithinPartitions(*order_cols)

    def write_part(idx: int, rows) -> Iterator[int]:
        out = None
        n = 0
        for row in rows:
            if out is None:
                out = open(os.path.join(path, f"part-{idx:05d}.warc.gz"), "wb")
            rec = _render_record_bytes(
                row["url"], row["wave"], row["status"], row["content_type"],
                bytes(row["body"]) if row["body"] is not None else b"", date,
            )
            obj = zlib.compressobj(9, zlib.DEFLATED, 31)
            out.write(obj.compress(rec) + obj.flush())
            n += 1
        if out is not None:
            out.close()
        yield n

    prepared.rdd.mapPartitionsWithIndex(write_part).sum()

"""Span extraction — fetched bodies → interleaved text + media spans.

Re-expresses (parity review):
  * HtmlExtractor / HtmlToJson — /root/reference/src/kermit/Extractor.coffee:11-18,
    extensions/ext.htmlprocessor.coffee:11-32 (X1/X2)
  * ResourceDiscovery — extensions/ext.discovery.coffee:12-47 (X3): extracts
    ``link[href]`` (kind=resource) and ``a[href]`` (kind=link) in document
    order, cleans each against the base URL, schedules survivors with
    depth+1 and Referer.
  * span-ordering golden — Extractor.spec.coffee:13-36 (X4).

Output schema is the authoritative input_hint document payload:
  spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>
with kind ∈ {text, link, resource, media}; ``offset`` is the 0-based document
-order position of the span — the per-row invariant vs the reference is
span-sequence equality over (kind, text, media_ref, order).

The tokenizer runs as an Arrow-batched pandas UDF (one regex pass per body,
vectorized at the batch level); discovery is then pure DataFrame algebra:
explode → filter kind → clean (pandas UDF) → dedup against the frontier.
The reference declares but never implements media extraction
(ext.discovery.coffee:15-19 TODO flags); we extract <img src> as kind=media —
a superset, flagged for the parity review.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .udf import session_safe_pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .functions.urls import clean_links, clean_urls

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType(), False),
            StructField("text", StringType(), True),
            StructField("media_ref", StringType(), True),
            StructField("offset", IntegerType(), False),
        ]
    )
)

# one combined scanner: anchors (with inner text), link-tags, images —
# everything else between matches is text content once tags are stripped.
#
# Attribute values cover the real-web quoting forms the reference's cheerio
# parser handles (Extractor.coffee:11-18 / ext.htmlprocessor.coffee:11-32):
# double-quoted, single-quoted, and unquoted, with optional whitespace around
# '='. Unquoted values terminate at whitespace or '>' per the HTML5 tokenizer
# — so a trailing '/' in <img src=a.png/> belongs to the VALUE ("a.png/"),
# matching stdlib html.parser (the independent e2e oracle). The lookbehind
# rejects attributes merely ENDING in href/src (data-href=...).
#
# The in-tag skips (_IN_TAG: the attribute soup before/after the href|src
# match) are QUOTE-AWARE — a quoted VALUE is consumed atomically, so a '>'
# inside any quoted attribute value (legal HTML the reference's cheerio
# parser handles, Extractor.coffee:11-18) no longer ends the tag match early:
# <a title="x>y" href="u">t</a> parses as one link span, not truncated
# garbage. Same for _TAG_RE (tag stripping inside text runs), matching
# html.parser's tokenizer on e.g. <p class="x>y">.
#
# A quote opens a quoted value ONLY directly after '=' (+ optional
# whitespace) — exactly where html.parser's attribute tokenizer treats it
# as one. A STRAY quote anywhere else (<a class=foo" href="/u">, malformed
# -but-common real HTML) is consumed as a single ordinary character, so the
# following href is still found; a bare-quote alternative here would
# swallow '" href="' as one quoted string and silently drop the link.
#
# The group is ATOMIC ((?>...), 3.11+): at a '=' the engine COMMITS to
# consuming the whole value (quoted or unquoted) and may never re-segment
# it char-by-char on backtracking — otherwise a failed overall match
# retries with loop boundaries INSIDE quoted values and extracts phantom
# links from attribute text (<a onclick="...href='/js/x';">click</a> must
# be a text-only tag, exactly as html.parser reads it). The unquoted-value
# alternative stops before quotes so the stray-quote case above still
# works one char at a time.
_IN_TAG = "(?>=\\s*\"[^\"]*\"|=\\s*'[^']*'|=[^\\s>\"']*|[^>])"
_ATTR_VAL = r"\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]*))"
_TOKEN_RE = re.compile(
    rf"<a\s{_IN_TAG}*?(?<![-\w])href{_ATTR_VAL}{_IN_TAG}*>(.*?)</a>"  # 1|2|3: href, 4: anchor text
    rf"|<link\s{_IN_TAG}*?(?<![-\w])href{_ATTR_VAL}{_IN_TAG}*/?>"  # 5|6|7: resource href
    rf"|<img\s{_IN_TAG}*?(?<![-\w])src{_ATTR_VAL}{_IN_TAG}*/?>",  # 8|9|10: media src
    re.DOTALL | re.IGNORECASE,
)
_TAG_RE = re.compile(rf"<{_IN_TAG}+>")


def _first_group(m: re.Match, *idxs: int) -> str | None:
    # one C-level group() call for all indices (NOT `a or b or c` — an
    # EMPTY string is a present, valid attribute value: href=""). group()
    # of ONE index returns the value itself, not a 1-tuple.
    if len(idxs) == 1:
        return m.group(idxs[0])
    for v in m.group(*idxs):
        if v is not None:
            return v
    return None


def extract_spans_one(body: str | None) -> list[tuple] | None:
    """Tokenize one document into ordered spans.

    Contract per span kind:
      text     -> (kind='text', text=run, media_ref=None)
      link     -> (kind='link', text=anchor_text, media_ref=raw href)
      resource -> (kind='resource', text=None, media_ref=raw href)
      media    -> (kind='media', text=None, media_ref=raw src)
    Hrefs here are RAW (as written in the document); canonicalization happens
    in the discovery step against the page's base URL, exactly where the
    reference applies uri.clean (ext.discovery.coffee:34-44).

    HTML character references decode EVERYWHERE a real DOM parser decodes
    them — text runs, anchor text, and attribute values — matching both the
    reference's cheerio (.text()/attribs are entity-decoded) and the
    independent html.parser e2e oracle (convert_charrefs=True). Decode
    order matters for text: tags are stripped from the RAW markup first,
    so ``&lt;b&gt;`` decodes to literal ``<b>`` TEXT and is never mistaken
    for a tag — the same result a real tokenizer produces.
    (html.unescape short-circuits on '&'-free strings, so entity-free
    corpora pay nothing.)
    """
    if body is None:
        return None
    spans: list[tuple] = []
    append = spans.append
    pos = 0
    unescape = _html.unescape
    tag_sub = _TAG_RE.sub

    # Hot-loop micro-optimizations (r4 VERDICT #7 — parse is the steady-
    # state ceiling of the crawl loop; profiled 45% of tokenizer time in
    # this helper): empty gaps return before any allocation (adjacent
    # tokens are the common corpus shape), the tag-strip regex only runs
    # when the chunk can contain a tag ('<'), and unescape only when it
    # can contain a reference ('&') — same results by construction, the
    # guards are exactly the patterns' necessary preconditions.
    def text_between(lo: int, hi: int) -> None:
        if lo >= hi:
            return
        chunk = body[lo:hi]
        if "<" in chunk:
            chunk = tag_sub(" ", chunk)
        if "&" in chunk:
            chunk = unescape(chunk)
        chunk = " ".join(chunk.split())
        if chunk:
            append(("text", chunk, None, len(spans)))

    for m in _TOKEN_RE.finditer(body):
        text_between(pos, m.start())
        a_href = _first_group(m, 1, 2, 3)
        if a_href is not None:
            raw = m.group(4)
            if "<" in raw:
                raw = tag_sub(" ", raw)
            if "&" in raw:
                raw = unescape(raw)
            anchor = " ".join(raw.split())
            append(("link", anchor or None, unescape(a_href), len(spans)))
        else:
            l_href = _first_group(m, 5, 6, 7)
            if l_href is not None:
                append(("resource", None, unescape(l_href), len(spans)))
            else:
                append(
                    ("media", None, unescape(_first_group(m, 8, 9, 10)), len(spans))
                )
        pos = m.end()
    text_between(pos, len(body))
    return spans


def _extract_series(body: pd.Series) -> pd.Series:
    return body.map(extract_spans_one)


extract_spans = session_safe_pandas_udf(_extract_series, SPAN_TYPE)


# NOTE (r5, VERDICT #7): a JVM "fast path" for token-free bodies
# (predicate-gated codegen tag-strip + whitespace collapse, UDF input
# nulled) was implemented and MEASURED — it LOSES 3-5x to the Arrow UDF
# on 10 kB bodies in every regime tried, because java.util.regex
# regexp_replace over long strings (~1 ms/doc, and ~0.5 ms/doc even with
# no tag-strip at all) is slower than CPython sre + the whole Arrow round
# trip (~0.2 ms/doc). Evidence: BENCH/BASELINE.md "Parse-leg probe (r5)".
# The tokenizer below keeps the profiled hot-loop micro-optimizations
# from the same probe (~19% single-core).


def _attr_value(body, tag_prefix: str, attr: str):
    """First value of ``attr`` inside the first matching tag, across the
    three HTML5 quoting forms (JVM regexp_extract; empty → null)."""
    forms = (
        rf'(?i){tag_prefix}{attr}\s*=\s*"([^"]*)"',
        rf"(?i){tag_prefix}{attr}\s*=\s*'([^']*)'",
        rf"(?i){tag_prefix}{attr}\s*=\s*([^\s>'\"][^\s>]*)",
    )
    return F.coalesce(
        *[F.nullif(F.regexp_extract(body, p, 1), F.lit("")) for p in forms]
    )


def _html_meta_cols(body):
    """(base_href, robots_nofollow, robots_noindex) from an HTML body —
    pure JVM regexp extraction, no Python. Honored only when the caller
    opts in: the reference ignores both (<base> and <meta name=robots> are
    absent from ext.discovery.coffee / Extractor.coffee), so crawl parity
    demands the default stays off."""
    base = _attr_value(body, r"<base\s[^>]*?(?<![-\w])", "href")
    # <meta name=robots content=...> — either attribute order
    robots = F.coalesce(
        _attr_value(body, r"<meta\s[^>]*?name\s*=\s*[\"']?robots[\"']?[^>]*?(?<![-\w])", "content"),
        F.when(
            F.regexp_like(
                body, F.lit(r"(?i)<meta\s[^>]*?content\s*=[^>]*?name\s*=\s*[\"']?robots")
            ),
            _attr_value(body, r"<meta\s[^>]*?(?<![-\w])", "content"),
        ),
    )
    lower = F.lower(robots)
    flag = lambda word: F.coalesce(  # noqa: E731
        lower.rlike(rf"(^|[\s,])({word}|none)([\s,]|$)"), F.lit(False)
    )
    # <meta http-equiv=refresh content="N; url=X"> — the client-side
    # redirect real sites use; the url= clause of the content attribute
    refresh_content = F.coalesce(
        _attr_value(
            body, r"<meta\s[^>]*?http-equiv\s*=\s*[\"']?refresh[\"']?[^>]*?(?<![-\w])", "content"
        ),
        F.when(
            F.regexp_like(
                body,
                F.lit(r"(?i)<meta\s[^>]*?content\s*=[^>]*?http-equiv\s*=\s*[\"']?refresh"),
            ),
            _attr_value(body, r"<meta\s[^>]*?(?<![-\w])", "content"),
        ),
    )
    refresh_url = F.nullif(
        F.regexp_extract(refresh_content, r"(?i)url\s*=\s*['\"]?([^'\"\s;>]+)", 1),
        F.lit(""),
    )
    # <link rel=canonical href=...> — the duplicate-URL consolidation hint
    # real sites publish (RFC 6596); either attribute order, all three
    # quoting forms. Same first-matching-tag limitation as the robots meta:
    # the href-first fallback reads the first <link> that declares
    # rel=canonical anywhere in the tag.
    canonical = F.coalesce(
        _attr_value(
            body, r"<link\s[^>]*?rel\s*=\s*[\"']?canonical[\"']?[^>]*?(?<![-\w])", "href"
        ),
        F.when(
            F.regexp_like(
                body,
                F.lit(r"(?i)<link\s[^>]*?href\s*=[^>]*?rel\s*=\s*[\"']?canonical"),
            ),
            _attr_value(body, r"<link\s[^>]*?(?<![-\w])", "href"),
        ),
    )
    return base, flag("nofollow"), flag("noindex"), refresh_url, canonical


def parse_documents(
    fetched: DataFrame, html_meta: bool = False, sniff_content: bool = False
) -> DataFrame:
    """Fetched rows → documents rows (input_hint schema + crawl metadata).

    Non-HTML bodies (media fetches) become a single media span pointing at
    the object itself; 404s produce an empty spans array (the document row
    still records the failed fetch for lineage).

    ``html_meta=True`` additionally extracts real-web compliance columns —
    ``base_href`` (the <base href> a compliant client resolves links
    against), ``robots_nofollow`` / ``robots_noindex`` (<meta
    name=robots>), ``refresh_url`` and ``canonical_href`` (<link
    rel=canonical>, RFC 6596) — consumed by
    discover_links(honor_base/honor_nofollow), ops.dedup.canonical_dedup
    and downstream export filters. Default off: reference parity (the
    reference honors neither), and the documents schema stays unchanged.
    """
    # sniff_content=True: route (and record) by the magic-byte EFFECTIVE
    # type instead of trusting the server header — a lying Content-Type
    # otherwise makes an HTML page a single opaque media span (links
    # silently lost) or feeds binary to the span tokenizer. Default off =
    # reference parity (kermit trusts the header + extension fallback,
    # extensions/core.streaming.coffee:59).
    content_type = F.col("content_type")
    if sniff_content:
        from .ops.media import sniff_mime

        # body is a STRING column; binary payloads are byte-preserving only
        # under the latin-1 convention (codepoints 0-255 = original bytes).
        # Spark 4's encode() THROWS on unmappable chars, so the latin-1
        # re-encode is gated on the prefix being pure 8-bit (lazy CASE);
        # genuine text falls back to UTF-8, where the ASCII markup sniff
        # still works. Only the sniffable prefix is ever re-encoded.
        prefix = F.substring(F.col("body"), 1, 32)
        bin_prefix = F.when(
            prefix.rlike(r"^[\x00-\xff]*$"), F.encode(prefix, "ISO-8859-1")
        ).otherwise(F.encode(prefix, "UTF-8"))
        content_type = F.coalesce(sniff_mime(bin_prefix), content_type)
    # 304 Not Modified (conditional re-fetch revalidation): the row records
    # the revalidation for lineage; content/spans live in the earlier
    # wave's row — an empty array, like a 404, never a null
    is_html = (content_type == "text/html") & (F.col("status") != 304)
    spans = F.when(is_html, extract_spans(F.col("body"))).otherwise(
        F.when(
            F.col("status") == 200,
            F.array(
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    F.col("url").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ),
        ).otherwise(F.array().cast(SPAN_TYPE))
    )
    cols = [
        F.format_string("%016x", F.col("url_hash")).alias("doc_id"),
        F.col("url_hash"),
        F.col("url"),
        F.col("host"),
        F.col("p"),
        F.col("wave"),
        F.col("rank"),
        F.col("depth"),
        F.col("status"),
        content_type.alias("content_type"),
    ]
    # response headers ride along when the fetcher captured them (S12/A5:
    # Pipeline.coffee:43-44 records them; Histogrammer aggregates them)
    if "headers" in fetched.columns:
        cols.append(F.col("headers"))
    if html_meta:
        base, nofollow, noindex, refresh, canonical = _html_meta_cols(
            F.when(is_html, F.col("body"))
        )
        cols.extend(
            [
                base.alias("base_href"),
                nofollow.alias("robots_nofollow"),
                noindex.alias("robots_noindex"),
                refresh.alias("refresh_url"),
                canonical.alias("canonical_href"),
            ]
        )
    cols.append(spans.alias("spans"))
    return fetched.select(*cols)


def discover_links(
    documents: DataFrame,
    honor_base: bool = False,
    honor_nofollow: bool = False,
    max_outlinks: int | None = None,
) -> DataFrame:
    """X3: spans → candidate URLs for the next wave.

    explode (ordered) → keep link/resource/media kinds → uri.clean against
    the base URL and drop nulls in one Arrow pass (``clean_links``) →
    (url, referer, depth+1, priority).
    Dedup against the frontier happens in Frontier.schedule (Q1).

    ``honor_base`` / ``honor_nofollow`` consume the html_meta columns from
    parse_documents(html_meta=True): links resolve against the page's
    <base href> (itself resolved against the page URL, per HTML5), pages
    declaring <meta name=robots content=nofollow> contribute no links,
    and a <meta http-equiv=refresh url=...> target is discovered like a
    link (honor_base gates it — it's part of the same compliance mode).
    All default off — reference parity.

    ``max_outlinks`` keeps only the FIRST n discovery-kind
    (link/resource/media) spans per page in document order (the Heritrix
    extractor link-budget analog) — resource and media refs draw from the
    SAME budget as anchors, since every kind feeds the dedup join a
    machine-generated page could flood. Shuffle-free — the cap is an array
    slice on the spans column BEFORE the explode, so no (page_url)
    repartition ever happens.
    """
    if honor_nofollow and "robots_nofollow" in documents.columns:
        documents = documents.filter(~F.coalesce(F.col("robots_nofollow"), F.lit(False)))
    if honor_base and "base_href" in documents.columns:
        base_url = F.coalesce(
            clean_urls(F.col("url"), F.col("base_href")), F.col("url")
        )
    else:
        base_url = F.col("url")
    link_spans = F.filter(
        F.col("spans"), lambda s: s["kind"].isin("link", "resource", "media")
    )
    if max_outlinks is not None:
        link_spans = F.slice(link_spans, 1, int(max_outlinks))
    links = documents.select(
        base_url.alias("base"),
        F.col("url").alias("referer"),
        (F.col("depth") + 1).alias("depth"),
        F.posexplode_outer(link_spans).alias("pos", "span"),
    ).select("base", F.col("span.media_ref").alias("href"), "referer", "depth")
    if honor_base and "refresh_url" in documents.columns:
        # meta-refresh target: resolved like a link (against base), one row
        # per declaring page — rides the same clean/dedup/admission path
        links = links.unionByName(
            documents.filter(F.col("refresh_url").isNotNull()).select(
                base_url.alias("base"),
                F.col("refresh_url").alias("href"),
                F.col("url").alias("referer"),
                (F.col("depth") + 1).alias("depth"),
            )
        )
    # resources/media slightly out-prioritized by pages? reference treats
    # both identically (schedule with same meta); keep priority flat.
    return clean_links(links, F.col("base"), F.col("href"), "referer", "depth").withColumn(
        "priority", F.lit(0.0)
    )

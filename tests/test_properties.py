"""Hypothesis property tests over the pure-python kernels (SURVEY §5 port
plan goes beyond the reference here — it has no property-based testing).

Driver-side pure functions only (no SparkSession per example — that would be
minutes per property): URL cleaning, normalization idempotency, robots
parsing, span extraction well-formedness, Bloom no-false-negatives.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kermit_spark.bloom import BloomSpec, _probe_positions, _set_bits, _test_bits
from kermit_spark.functions.urls import _clean_one, _normalize_one
from kermit_spark.parse import extract_spans_one
from kermit_spark.robots import parse_robots

url_path_chars = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="/-._~"),
    max_size=40,
)


@settings(max_examples=150, deadline=None)
@given(url_path_chars)
def test_normalize_idempotent(path):
    u = f"http://example.com/{path}"
    once = _normalize_one(u)
    assert _normalize_one(once) == once


@settings(max_examples=150, deadline=None)
@given(url_path_chars)
def test_clean_output_absolute_or_none(href):
    out = _clean_one("http://base.test/dir/page.html", href)
    if out is not None:
        assert out.startswith("http"), out


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_clean_never_raises_on_garbage(href):
    _clean_one("http://base.test/", href)  # must not raise


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_robots_parser_never_raises_and_returns_wellformed(body):
    rules, delay, sitemaps = parse_robots(body)
    for pattern, allow in rules:
        assert isinstance(pattern, str) and pattern.startswith("^")
        assert isinstance(allow, bool)
    assert delay is None or (isinstance(delay, float) and delay >= 0)
    assert all(isinstance(s, str) and s for s in sitemaps)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300))
def test_spans_wellformed_on_arbitrary_text(body):
    spans = extract_spans_one(body)
    assert spans is not None
    # offsets dense and ordered; kinds from the closed set; text spans carry
    # text, ref spans carry media_ref (the input_hint span contract)
    assert [s[3] for s in spans] == list(range(len(spans)))
    for kind, text, ref, _ in spans:
        assert kind in ("text", "link", "resource", "media")
        if kind == "text":
            assert text and ref is None
        else:
            assert ref is not None


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=500, unique=True))
def test_bloom_never_false_negative(keys):
    spec = BloomSpec(m_bits=1 << 14, k_hashes=7)
    bits = np.zeros(spec.m_bits >> 3, dtype=np.uint8)
    arr = np.array(keys, dtype=np.int64)
    _set_bits(bits, _probe_positions(arr, spec.m_bits, spec.k_hashes))
    assert _test_bits(bits, _probe_positions(arr, spec.m_bits, spec.k_hashes)).all()


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            # URLs are whitespace-free post-canonicalization (uri.clean
            # trims); WARC header values are whitespace-stripped on parse,
            # so whitespace-carrying URLs are out of contract by design
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs", "Zs", "Zl", "Zp", "Cc"),
                ),
                min_size=1,
                max_size=40,
            ).map(lambda s: "http://h.test/" + s),
            st.integers(min_value=0, max_value=9),
            st.sampled_from([200, 404, 500]),
            st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)),
                max_size=200,
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_warc_framing_roundtrip_arbitrary_bodies(rows):
    """Property: the concatenated record stream parses back to exactly the
    rendered rows for ARBITRARY unicode URLs and bodies — including CRLFs,
    literal 'WARC/1.0' text, and multi-byte characters — and the walker's
    byte offsets/lengths tile the stream exactly (the CDX byte-exactness
    contract). The text sink's records (plus the lineSep CRLF it appends)
    are byte-for-byte the .warc.gz sink's records. Pure-python: exercises
    the framing without a session."""
    from kermit_spark.warc import (
        _iter_records_bytes,
        _parse_http_payload_bytes,
        _render_record,
        _render_record_bytes,
    )

    date = "2000-01-01T00:00:00Z"
    recs = [
        _render_record_bytes(u, w, s, "text/html", b.encode("utf-8"), date)
        for u, w, s, b in rows
    ]
    for (u, w, s, b), rec in zip(rows, recs):
        # the text writer's lineSep supplies the second trailing CRLF
        assert (_render_record(u, w, s, "text/html", b, date) + "\r\n").encode() == rec
    stream = b"".join(recs)
    walked = list(_iter_records_bytes(stream))
    parsed = [
        (h["warc-target-uri"], int(h["warc-kermit-wave"]),
         *_parse_http_payload_bytes(raw))
        for h, raw, _, _ in walked
    ]
    assert [(p[0], p[1], p[2], p[4]) for p in parsed] == [
        (u, w, s, b.encode("utf-8")) for u, w, s, b in rows
    ]
    offs = [(off, ln) for _, _, off, ln in walked]
    assert offs[0][0] == 0
    for (o1, l1), (o2, _) in zip(offs, offs[1:]):
        assert o1 + l1 == o2
    assert offs[-1][0] + offs[-1][1] == len(stream)


# --------------------------------------------------------------------------
# tokenizer ⇔ html.parser parity fuzz (r4): structured-HTML generator over
# the attribute-quoting space the engine claims parity on — all three
# quoting styles, '>' inside quoted values, stray quotes inside unquoted
# values, whitespace around '=', distractor attributes (data-href), and
# entities in text/anchor/attribute values. Nested anchors are excluded:
# that is malformed HTML where cheerio/html.parser themselves disagree.
# --------------------------------------------------------------------------

_word = st.text(alphabet="abcdefghij0123456789", min_size=1, max_size=8)
_text_run = st.lists(
    st.one_of(_word, st.sampled_from(["&amp;", "&lt;x&gt;", "&#65;"])),
    min_size=1, max_size=4,
).map(" ".join)
_attr_value = st.one_of(
    st.text(alphabet="abc012/.?=>~ ", min_size=0, max_size=12),
    # decoy VALUES that spell out href/src with their own quoting — a
    # backtracking bug in the in-tag skip extracts phantom links from
    # these (caught in review; the plain alphabet above cannot spell it)
    st.sampled_from([
        "window.location.href='/js/x';",
        'src=/fake.png',
        "x href='/p'",
        'href="/q" y',
    ]),
)


@st.composite
def _attr(draw, name, value=None):
    v = value if value is not None else draw(_attr_value)
    style = draw(st.integers(0, 3))
    if style == 0:
        return f'{name}="{v}"'
    if style == 1:
        return f"{name}='{v}'"
    if style == 2:
        # unquoted: the WHATWG value grammar forbids space/quote/'='/'<'/'>'
        # (html.parser additionally eats LEADING '=' runs as separator — a
        # divergence only reachable through invalid HTML)
        vv = (
            v.replace(" ", "").replace(">", "").replace('"', "").replace("=", "")
            or "u"
        )
        if draw(st.booleans()):
            vv += '"'  # stray quote INSIDE an unquoted value
        return f"{name}={vv}"
    return f'{name} = "{v}"'


@st.composite
def _element(draw):
    kind = draw(st.sampled_from(["text", "a", "img", "link", "p"]))
    if kind == "text":
        return draw(_text_run)
    attrs = []
    if draw(st.booleans()):
        attrs.append(draw(_attr("data-href")))  # distractor
    if kind == "a":
        attrs.append(draw(_attr("href")))
    elif kind == "img":
        attrs.append(draw(_attr("src")))
    elif kind == "link":
        attrs.append(draw(_attr("href")))
    if draw(st.booleans()):
        attrs.append(draw(_attr("title")))
    draw(st.randoms()).shuffle(attrs)
    body = " ".join(["<" + kind] + attrs) + ">"
    if kind == "a":
        return body + draw(_text_run) + "</a>"
    if kind == "p":
        return body + draw(_text_run) + "</p>"
    return body


@settings(max_examples=300, deadline=None)
@given(st.lists(_element(), min_size=1, max_size=6))
def test_tokenizer_matches_html_parser_on_structured_html(elements):
    from tests.oracle import extract_spans_oracle

    html = "<html><body>" + "".join(elements) + "</body></html>"
    assert extract_spans_one(html) == extract_spans_oracle(html), html


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abc012%&=?<> \"'{}", max_size=30))
def test_query_normalization_idempotent_and_parser_safe(q):
    """Query escaping must be idempotent (a frontier URL re-normalized on
    re-discovery cannot drift) and must leave no raw RFC 3986-illegal
    byte behind; existing %-escapes survive untouched."""
    u = f"http://h.test/p?{q}"
    once = _normalize_one(u)
    assert _normalize_one(once) == once
    query = once.split("?", 1)[1] if "?" in once else ""
    # the RFC 3986-illegal raw bytes must be gone; legal sub-delims like
    # the apostrophe pass through (they are valid query characters)
    assert not set(query) & set(' <>"{}|\\^`'), once

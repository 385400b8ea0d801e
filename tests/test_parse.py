"""Port of the extraction specs (Extractor.spec.coffee:13-36) + the span
-ordering contract (SURVEY §2.5 X4): spans come back in document order with
0-based offsets, link/resource/media kinds carry media_ref, text spans carry
text."""

from pyspark.sql import functions as F

from kermit_spark.parse import extract_spans_one

# HTML shaped like the reference's Extractor.spec fixture: anchors with text
# and link tags, interleaved with text content.
HTML = (
    '<html><head><title>Test Page</title>'
    '<link href="/static/main.css"></head>'
    '<body><p>intro text</p>'
    '<a href="http://a.test/1.html">first link</a>'
    '<p>middle</p>'
    '<a href="/relative/2.html">second link</a>'
    '<img src="http://a.test/pic.png">'
    '<p>outro</p></body></html>'
)


def test_span_sequence_golden():
    spans = extract_spans_one(HTML)
    assert spans == [
        ("text", "Test Page", None, 0),
        ("resource", None, "/static/main.css", 1),
        ("text", "intro text", None, 2),
        ("link", "first link", "http://a.test/1.html", 3),
        ("text", "middle", None, 4),
        ("link", "second link", "/relative/2.html", 5),
        ("media", None, "http://a.test/pic.png", 6),
        ("text", "outro", None, 7),
    ]


def test_offsets_are_dense_document_order():
    spans = extract_spans_one(HTML)
    assert [s[3] for s in spans] == list(range(len(spans)))


def test_none_body_yields_none():
    assert extract_spans_one(None) is None


def test_empty_and_textless():
    assert extract_spans_one("") == []
    assert extract_spans_one("<p></p><div></div>") == []


def test_anchor_without_text():
    spans = extract_spans_one('<a href="http://x.test/">  </a>')
    assert spans == [("link", None, "http://x.test/", 0)]


def test_attribute_quoting_forms_match_html_parser_oracle():
    """Real-web HTML quotes attributes every which way; the tokenizer must
    agree with the independent html.parser oracle on all of them (cheerio
    handles these in the reference, Extractor.coffee:11-18)."""
    from tests.oracle import extract_spans_oracle

    cases = [
        "<a href='http://x/a.html'>single</a>",
        "<a href=http://x/a.html>unquoted</a>",
        '<a data-k=v href = "http://x/a.html">spaced</a>',
        "<link href=style.css><link href = 's2.css'>",
        "<img src=pic.png><img src='p3.png'>",
        "<img src=pic.png/>",  # HTML5: trailing '/' belongs to the unquoted value
        "<a hreflang=en href=/p/1.html class=nav>other attrs</a>",
        '<a data-href="nope">no real href</a>',
        'mix <a href="/a">A</a> of <link href=/c.css> forms <img src = "/i.png">',
        '<A HREF="/UP">case-insensitive</A>',
    ]
    for html in cases:
        assert extract_spans_one(html) == extract_spans_oracle(html), html


def test_unquoted_and_single_quoted_discovery():
    spans = extract_spans_one(
        "<a href=/one.html>1</a><a href='/two.html'>2</a>"
    )
    assert [(s[0], s[2]) for s in spans] == [("link", "/one.html"), ("link", "/two.html")]


def test_first_group_single_and_multi_index():
    """_first_group returns the first present group; with ONE index it is
    that group's whole value (group(i) is a str, not a tuple to iterate)."""
    import re

    from kermit_spark.parse import _first_group

    m = re.match(r"(ab)|(cd)|(x*)", "cd")
    assert _first_group(m, 1) is None
    assert _first_group(m, 2) == "cd"
    assert _first_group(m, 1, 2, 3) == "cd"
    m = re.match(r"(ab)|(x*)", "ab")
    assert _first_group(m, 1) == "ab"
    assert _first_group(re.match(r"(ab)|(x*)", ""), 1, 2) == ""


def test_discovery_pipeline_on_spark(spark):
    """X3 analog: parse → explode → clean → absolute URLs with depth+1."""
    from kermit_spark.parse import SPAN_TYPE, discover_links, extract_spans

    df = spark.createDataFrame(
        [("http://a.test/base/page.html", 1, HTML)], "url string, depth int, body string"
    ).withColumn("spans", extract_spans(F.col("body")))
    got = discover_links(df).orderBy("url").collect()
    urls = [r["url"] for r in got]
    assert urls == sorted(
        [
            "http://a.test/static/main.css",
            "http://a.test/1.html",
            "http://a.test/relative/2.html",
            "http://a.test/pic.png",
        ]
    )
    assert all(r["depth"] == 2 for r in got)
    assert all(r["referer"] == "http://a.test/base/page.html" for r in got)


def _fetched_df(spark, body, ctype="text/html"):
    return spark.createDataFrame(
        [(0, 1, "http://a.test/dir/page.html", "a.test", 0, 0, 1, 200, ctype, body)],
        "p int, url_hash long, url string, host string, depth int, wave int, "
        "rank int, status int, content_type string, body string",
    )


def test_html_meta_extraction_forms(spark):
    """html_meta=True extracts <base href> in all three quoting forms and
    <meta name=robots> in either attribute order; default (html_meta=False)
    adds no columns — reference parity."""
    from kermit_spark.parse import parse_documents

    cases = {
        '<base href="/b/">x': ("/b/", False, False),
        "<base href='/b/'>x": ("/b/", False, False),
        "<base href=/b/>x": ("/b/", False, False),
        '<meta name="robots" content="nofollow">x': (None, True, False),
        "<meta content='noindex, nofollow' name=robots>x": (None, True, True),
        '<meta name=robots content="none">x': (None, True, True),
        '<meta name="robots" content="index, follow">x': (None, False, False),
        "plain": (None, False, False),
    }
    for body, want in cases.items():
        row = parse_documents(_fetched_df(spark, body), html_meta=True).collect()[0]
        got = (row["base_href"], row["robots_nofollow"], row["robots_noindex"])
        assert got == want, (body, got)
    # default: schema unchanged
    cols = parse_documents(_fetched_df(spark, "x")).columns
    assert "base_href" not in cols and "robots_nofollow" not in cols


def test_discover_links_max_outlinks_caps_in_document_order(spark):
    """max_outlinks keeps the first n LINK-KIND spans per page in document
    order — interleaved text spans don't consume budget, and the uncapped
    call is unchanged."""
    from kermit_spark.parse import discover_links, parse_documents

    body = (
        "prose one <a href='/l1.html'>1</a> prose two "
        '<link href="/r1.css"> <a href=/l2.html>2</a> '
        '<img src="/m1.png"> <a href="/l3.html">3</a>'
    )
    docs = parse_documents(_fetched_df(spark, body))
    assert discover_links(docs).count() == 5
    capped = discover_links(docs, max_outlinks=3).orderBy("url").collect()
    assert [r["url"] for r in capped] == [
        "http://a.test/l1.html",
        "http://a.test/l2.html",
        "http://a.test/r1.css",
    ]
    # per-PAGE budget: a second page keeps its own first-n
    two = docs.unionByName(
        parse_documents(
            _fetched_df(spark, "<a href='/only.html'>x</a>").withColumn(
                "url", F.lit("http://b.test/p.html")
            ).withColumn("host", F.lit("b.test")).withColumn("url_hash", F.lit(2))
        )
    )
    got = discover_links(two, max_outlinks=1).orderBy("url").collect()
    assert [r["url"] for r in got] == [
        "http://a.test/l1.html",
        "http://b.test/only.html",
    ]


def test_discover_links_honor_base_href(spark):
    """Relative links resolve against <base href> (itself resolved against
    the page URL) when honored; against the page URL otherwise. The referer
    stays the PAGE url either way."""
    from kermit_spark.parse import discover_links, parse_documents

    body = '<base href="/root/"><a href="rel.html">r</a>'
    docs = parse_documents(_fetched_df(spark, body), html_meta=True)
    plain = discover_links(docs).collect()[0]
    assert plain["url"] == "http://a.test/dir/rel.html"
    honored = discover_links(docs, honor_base=True).collect()[0]
    assert honored["url"] == "http://a.test/root/rel.html"
    assert honored["referer"] == "http://a.test/dir/page.html"


def test_discover_links_honor_nofollow(spark):
    from kermit_spark.parse import discover_links, parse_documents

    body = '<meta name="robots" content="nofollow"><a href="/x.html">x</a>'
    docs = parse_documents(_fetched_df(spark, body), html_meta=True)
    assert discover_links(docs).count() == 1          # parity: link found
    assert discover_links(docs, honor_nofollow=True).count() == 0


def test_crawler_html_compliance_end_to_end(spark, tmp_path):
    """CrawlConfig(html_compliance=True) threads through the wave: links on
    a <base href> page schedule against the base, a nofollow page's links
    never enter the frontier, and robots_noindex rides the documents table.
    The same corpus with the default config follows both (reference
    parity)."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness

    rows = [
        ("http://a.test/d/start.html", "a.test", 200, "text/html",
         '<html><body><base href="/b/"><a href="rel.html">r</a></body></html>'),
        ("http://a.test/d/nf.html", "a.test", 200, "text/html",
         '<html><body><meta name="robots" content="noindex, nofollow">'
         '<a href="/hidden.html">h</a></body></html>'),
        ("http://a.test/b/rel.html", "a.test", 200, "text/html",
         "<html><body><p>leaf</p></body></html>"),
        ("http://a.test/d/rel.html", "a.test", 200, "text/html",
         "<html><body><p>leaf</p></body></html>"),
    ]
    corpus = spark.createDataFrame(
        rows, "url string, host string, status int, content_type string, body string"
    )
    seeds = ["http://a.test/d/start.html", "http://a.test/d/nf.html"]

    def run(compliance, path):
        cfg = CrawlConfig(
            num_partitions=2,
            politeness=Politeness((Limit(".*", 10),)),
            obey_robots=False,
            html_compliance=compliance,
        )
        c = Crawler(spark, SnapshotCatalog(spark, str(tmp_path / path)),
                    CorpusFetcher(corpus), cfg)
        c.seed(seeds)
        c.crawl(3)
        return c

    strict = run(True, "strict")
    urls = {r["url"] for r in strict.frontier.read().collect()}
    assert "http://a.test/b/rel.html" in urls          # base-resolved
    assert "http://a.test/d/rel.html" not in urls
    assert "http://a.test/hidden.html" not in urls      # nofollow honored
    noindex = {
        r["url"]: r["robots_noindex"] for r in strict.documents().collect()
    }
    assert noindex["http://a.test/d/nf.html"] is True
    assert noindex["http://a.test/d/start.html"] is False

    parity = run(False, "parity")
    urls = {r["url"] for r in parity.frontier.read().collect()}
    assert "http://a.test/d/rel.html" in urls           # page-URL resolution
    assert "http://a.test/hidden.html" in urls          # nofollow ignored


def test_meta_refresh_extraction_and_discovery(spark):
    """<meta http-equiv=refresh content='N; url=X'> is extracted (either
    attribute order) and, under the compliance mode, its target is
    discovered like a link resolved against the base."""
    from kermit_spark.parse import discover_links, parse_documents

    body = '<base href="/b/"><meta http-equiv="refresh" content="0; url=go.html">'
    docs = parse_documents(_fetched_df(spark, body), html_meta=True)
    assert docs.collect()[0]["refresh_url"] == "go.html"
    got = discover_links(docs, honor_base=True).collect()
    assert [r["url"] for r in got] == ["http://a.test/b/go.html"]
    assert got[0]["referer"] == "http://a.test/dir/page.html"
    # parity mode: no refresh row
    assert discover_links(docs).count() == 0
    # reversed attribute order + uppercase + unquoted url clause
    body2 = "<meta content='5;URL=/next' http-equiv=REFRESH>"
    row = parse_documents(_fetched_df(spark, body2), html_meta=True).collect()[0]
    assert row["refresh_url"] == "/next"
    # a plain timed refresh with no url clause is not a redirect
    body3 = '<meta http-equiv="refresh" content="30">'
    row = parse_documents(_fetched_df(spark, body3), html_meta=True).collect()[0]
    assert row["refresh_url"] is None


def test_canonical_href_extraction_forms(spark):
    """<link rel=canonical> extraction: rel-first / href-first attribute
    orders, all three quoting forms; a stylesheet link alone yields null."""
    from kermit_spark.parse import parse_documents

    cases = {
        '<link rel="canonical" href="http://a.test/c">x': "http://a.test/c",
        "<link rel='canonical' href='/c.html'>x": "/c.html",
        "<link rel=canonical href=/c>x": "/c",
        "<link href='http://a.test/c' rel=canonical>x": "http://a.test/c",
        '<link href="/css/m.css" rel="stylesheet">x': None,
        "plain": None,
    }
    for body, want in cases.items():
        row = parse_documents(_fetched_df(spark, body), html_meta=True).collect()[0]
        assert row["canonical_href"] == want, (body, row["canonical_href"])


def test_canonical_dedup_representative_choice(spark):
    """One representative per canonical group: the canonical page itself
    when crawled, else the smallest URL; self-canonical singletons pass
    through."""
    from kermit_spark.ops.dedup import canonical_dedup

    rows = [
        # group A: canonical page crawled -> it wins over the variants
        (1, "http://s.test/a?utm=x", "http://s.test/a"),
        (2, "http://s.test/a", None),
        (3, "http://s.test/a/print", "http://s.test/a"),
        # group B: canonical target never crawled -> smallest URL wins
        (4, "http://s.test/b?m=1", "http://s.test/b"),
        (5, "http://s.test/b?m=2", "http://s.test/b"),
        # singleton, no declaration
        (6, "http://s.test/solo", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, canonical_href string")
    got = {r["canonical_url"]: r for r in canonical_dedup(df).collect()}
    assert len(got) == 3
    a = got["http://s.test/a"]
    assert (a["doc_id"], a["n_variants"], a["is_canonical_self"]) == (2, 3, True)
    b = got["http://s.test/b"]
    assert (b["doc_id"], b["url"], b["n_variants"], b["is_canonical_self"]) == (
        4, "http://s.test/b?m=1", 2, False,
    )
    assert got["http://s.test/solo"]["is_canonical_self"] is True


def test_entity_decoding_matches_html_parser_semantics(spark):
    """Character references decode in text runs, anchor text, and attribute
    values — agreeing with html.parser (convert_charrefs) and cheerio.
    &lt;b&gt; becomes literal '<b>' TEXT, never a parsed tag."""
    from kermit_spark.parse import extract_spans_one

    body = (
        "<p>Fish &amp; chips &lt;b&gt; &#65;</p>"
        '<a href="/s?a=1&amp;b=2">A &amp; B</a>'
        "<img src=/i&#46;png>"
        '<link href="/c&quot;.css">'
    )
    assert extract_spans_one(body) == [
        ("text", "Fish & chips <b> A", None, 0),
        ("link", "A & B", "/s?a=1&b=2", 1),
        ("media", None, "/i.png", 2),
        ("resource", None, '/c".css', 3),
    ]


def test_gt_inside_quoted_attribute_values_matches_html_parser():
    """r3 VERDICT #4: '>' inside a QUOTED attribute value is legal HTML the
    reference's cheerio parser handles (Extractor.coffee:11-18); the span
    tokenizer must not end the tag match at it — before this fix
    <a title="x>y" href=...> truncated to garbage spans. Engine and the
    independent html.parser oracle must agree span-for-span."""
    from kermit_spark.parse import extract_spans_one
    from tests.oracle import extract_spans_oracle

    cases = [
        # '>' in an attribute BEFORE the href
        '<html><body><p>hi</p><a data-note="v>w" href="/p/1.html">one</a>'
        "<p>mid</p></body></html>",
        # '>' in the href VALUE itself (?a>b query) AND in a following attr
        '<html><body><a href="/p/2.html?a>b" title="x>y">two</a>'
        '<img src="/i.png?a>b" title="x>y">'
        '<link href="/c.css?a>b" title="x>y"></body></html>',
        # '>' in a quoted attr of a NON-link tag inside a text run
        '<html><body><p class="x>y">text run</p><a href=\'/u\'>t</a></body></html>',
        # single-quoted variant, unquoted href after it
        "<html><body><a title='x>y' href=/p/3.html>three</a>tail</body></html>",
    ]
    for body in cases:
        assert extract_spans_one(body) == extract_spans_oracle(body), body


def test_corpus_emits_gt_in_quoted_attr_styles(spark):
    """The synthetic corpus must actually exercise the '>'-in-quoted-value
    forms (styles 4 and 5) so the e2e closure tests cover them."""
    from kermit_spark.corpus import CorpusSpec, build_corpus

    bodies = (
        build_corpus(spark, CorpusSpec(n_hosts=6, base_pages=40))
        .filter(F.col("kind") == "page")
        .select("body")
        .collect()
    )
    text = "\n".join(r["body"] for r in bodies)
    assert 'data-note="v>w"' in text           # style 4: '>' before href
    assert '?a>b" title="x>y">' in text        # style 5: '>' in value + after


def test_no_phantom_links_from_inside_quoted_attribute_values():
    """Backtracking must never re-segment a quoted attribute value and
    extract an href/src that only exists INSIDE it (the in-tag skip
    commits atomically at '='): an onclick handler or alt text that
    spells href= is attribute DATA, not a link — html.parser agrees."""
    from kermit_spark.parse import extract_spans_one
    from tests.oracle import extract_spans_oracle

    cases = [
        '<a onclick="window.location.href=\'/js/page\';">click</a>',
        '<img alt="src=/fake.png">',
        '<a onclick="x href=\'/p\'">t</a>',
        '<link title="href=\'/css/fake\'" href="/css/real.css">',
    ]
    for body in cases:
        got = extract_spans_one(body)
        assert got == extract_spans_oracle(body), (body, got)
        refs = [s[2] for s in got if s[2] is not None]
        assert "/js/page" not in refs and "/fake.png" not in refs


def test_stray_quote_in_unquoted_attr_value_matches_html_parser():
    """Malformed-but-common real-web HTML: a stray quote inside an
    UNQUOTED attribute value (<a class=foo" href="/u">) must not open a
    quoted-string consumption that swallows the rest of the tag — the
    quote-aware skip treats a quote as a value delimiter only directly
    after '='. html.parser keeps the link; so must the engine."""
    from kermit_spark.parse import extract_spans_one
    from tests.oracle import extract_spans_oracle

    cases = [
        '<a class=foo" href="/u">x</a>',
        '<a data-x=y\' href="/v">w</a>tail',
        '<p class=a"b>text</p><a href=/z>z</a>',
    ]
    for body in cases:
        assert extract_spans_one(body) == extract_spans_oracle(body), body

"""Physical-plan shape assertions — the scale guarantees as tests.

Correct results with a wrong plan melt down at 100 TB; these tests pin the
plan properties the architecture depends on:
  * frontier scans push the status predicate into the parquet reader and
    prune partitions via the p column;
  * the fetch join broadcasts the (small) wave batch, never the corpus;
  * the robots-rules join is a broadcast;
  * the frontier hot path stays inside whole-stage codegen (no Python
    evaluation nodes);
  * within-batch dedup is a hash aggregate (no sort node).
"""

import pytest
from pyspark.sql import functions as F

from kermit_spark.catalog import SnapshotCatalog
from kermit_spark.fetch import CorpusFetcher
from kermit_spark.frontier import Frontier, Limit, Politeness, as_frontier_rows, dequeue
from kermit_spark.robots import robots_gate


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def frontier(spark, tmp_path_factory):
    fr = Frontier(SnapshotCatalog(spark, str(tmp_path_factory.mktemp("plans"))), num_partitions=4)
    urls = spark.createDataFrame(
        [(f"http://h{i % 3}.test/p/{i}.html",) for i in range(50)], "url string"
    )
    fr.init(urls)
    return fr


def test_status_filter_pushed_to_scan(frontier):
    df = frontier.read().filter(F.col("status") == "scheduled")
    plan = _explain_formatted(df)
    assert "PushedFilters" in plan
    assert "EqualTo(status,scheduled)" in plan, plan


def test_partition_pruning_on_p(frontier):
    df = frontier.read().filter(F.col("p") == 1)
    plan = _explain_formatted(df)
    # partition filter handled at planning: p must appear as a partition
    # filter, not a data filter pushed into the row reader
    import re

    assert "PartitionFilters" in plan
    assert re.search(r"\(p#\d+ = 1\)", plan), plan


def test_fetch_join_broadcasts_wave_batch(spark, frontier):
    corpus = spark.createDataFrame(
        [("http://h0.test/p/0.html", 200, "text/html", "<html></html>")],
        "url string, status int, content_type string, body string",
    )
    selected = dequeue(
        frontier.read().filter(F.col("status") == "scheduled"),
        Politeness((Limit(".*", 5),)),
    )
    fetched = CorpusFetcher(corpus).fetch(selected)
    plan = _plan(fetched)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the build (broadcast) side must be the selected batch, not the corpus:
    # corpus scan appears on the streamed side -> no Exchange over the corpus
    assert "BroadcastExchange" in plan


def test_robots_gate_is_broadcast_join(spark, frontier):
    rules = spark.createDataFrame(
        [("h0.test", [("^/p/", False)])],
        "host string, rules array<struct<pattern string, allow boolean>>",
    )
    gated = robots_gate(frontier.read(), rules)
    assert "BroadcastHashJoin" in _plan(gated)


def test_frontier_row_derivation_has_no_python_nodes(spark):
    """as_frontier_rows (the hot candidate path) must stay JVM-side —
    xxhash64/regexp, not Python UDFs (input_hint: no per-row Python)."""
    urls = spark.createDataFrame([("http://a.test/x",)], "url string")
    rows = as_frontier_rows(urls, 4, wave=0)
    plan = _plan(rows)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"{marker} found in frontier path:\n{plan}"


def test_dequeue_uses_windows_not_python(frontier):
    sel = dequeue(
        frontier.read().filter(F.col("status") == "scheduled"),
        Politeness((Limit(".*", 3),)),
    )
    plan = _plan(sel)
    assert "Window" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_global_cap_has_no_partitionless_window(spark, frontier):
    """The global cap must plan as TakeOrdered (per-partition top-k + bounded
    merge), never a row_number window with no partition key — that funnels
    every dequeued row through one task."""
    sel = dequeue(
        frontier.read().filter(F.col("status") == "scheduled"),
        Politeness((Limit(".*", 3),)),
        global_cap=5,
    )
    plan = _plan(sel)
    assert "TakeOrdered" in plan, plan
    # the only Window specs allowed are the per-key ones (_pkey = host unless
    # domain grouping is on); an EMPTY partition spec is the one-task funnel
    import re

    for spec in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "host" in spec or "_pkey" in spec, (
            f"partitionless window in dequeue plan:\n{plan}"
        )


def test_corpus_fetch_scans_corpus_once(spark, frontier):
    """The hits/misses split must not evaluate the corpus join twice: hits is
    persisted, so the union's second branch reads the cache (one corpus scan
    in the plan, the other side an InMemoryRelation)."""
    corpus = spark.createDataFrame(
        [("http://h0.test/p/0.html", 200, "text/html", "<html></html>")],
        "url string, status int, content_type string, body string",
    )
    selected = dequeue(
        frontier.read().filter(F.col("status") == "scheduled"),
        Politeness((Limit(".*", 5),)),
    )
    fetched = CorpusFetcher(corpus).fetch(selected)
    plan = _plan(fetched)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan
    # corpus appears as a scan exactly once (the cached-hits branch hides it)
    assert plan.count("LocalTableScan") + plan.count("Scan ExistingRDD") >= 1


def test_batch_dedup_is_hash_aggregate_without_sort(spark, frontier):
    cand = spark.createDataFrame(
        [("http://a.test/1", "http://r.test/")], "url string, referer string"
    )
    deduped = frontier._dedup_candidates(cand, wave=1)
    plan = _plan(deduped)
    # min_by replaced the row_number window (struct-buffer aggregates plan as
    # SortAggregate — still cheaper than the window: partial map-side
    # aggregation shrinks the shuffle, and no global per-key ordering pass)
    assert "Aggregate" in plan
    assert "Window" not in plan


def test_wholestage_codegen_covers_frontier_scan(frontier):
    df = frontier.read().filter(F.col("status") == "scheduled")
    # '*(n)' prefixes mark whole-stage-codegen stages in the compact plan
    assert "*(1)" in _plan(df)


def test_gopher_features_plan_shape(spark, tmp_path_factory):
    """Gopher rules at scale: the plan must (a) stay fully JVM-side (no
    Python evaluation nodes), (b) prune the parquet scan to (doc_id, text),
    (c) use hash aggregates for both occurrence-count stages (no sort-based
    fallback on the hot path)."""
    from kermit_spark.ops.text import gopher_features

    path = str(tmp_path_factory.mktemp("gopher")) + "/docs.parquet"
    spark.createDataFrame(
        [(i, f"some words {i} here", "x" * 10, i) for i in range(50)],
        "doc_id long, text string, extra string, n long",
    ).write.parquet(path)
    df = gopher_features(spark.read.parquet(path).select("doc_id", "text"))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    formatted = _explain_formatted(df)
    # column pruning reaches the scan: the untouched columns never load
    assert "extra" not in formatted.split("ReadSchema")[1][:200]
    # occurrence counting (the big stage — one row per line/gram) is a
    # HashAggregate; the tiny per-doc rollup uses a struct-max tie-break
    # whose string-bearing buffer legitimately plans as SortAggregate
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_chunk_documents_plan_is_map_only(spark):
    """Chunking must stay a zero-shuffle JVM map stage: no Python nodes,
    no Exchange — at 100 TB it pipelines with the scan."""
    from kermit_spark.ops.text import chunk_documents

    df = chunk_documents(
        spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string"),
        chunk_tokens=4, overlap=1,
    )
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_bm25_topk_is_take_ordered(spark):
    """BM25's top-k must plan as TakeOrdered over the scored docs — the
    rank window runs only on the k survivors, never over the corpus."""
    from kermit_spark.ops.text import bm25_rank

    df = bm25_rank(
        spark.createDataFrame(
            [(i, "table scan query row %d" % i) for i in range(30)],
            "doc_id long, text string",
        ),
        ("table", "scan"),
        k=5,
    )
    plan = _plan(df)
    assert "TakeOrdered" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_canonical_dedup_single_exchange(spark):
    """canonical_dedup's only shuffle is the hash exchange on the canonical
    target string — both window passes and the filter ride the same
    partitioning (no second Exchange), and nothing sorts on document text."""
    from kermit_spark.ops.dedup import canonical_dedup

    df = spark.createDataFrame(
        [(1, "http://a.test/x", "http://a.test/c"), (2, "http://a.test/c", None)],
        "doc_id long, url string, canonical_href string",
    )
    plan = _plan(canonical_dedup(df))
    assert plan.count("Exchange") == 1, plan


def test_dsir_no_cartesian_and_broadcast_totals(spark):
    """dsir_logratio: the totals/vocab one-row aggregates ride the plan as
    broadcast joins (never a shuffled cross), and there is no
    CartesianProduct over the doc-term matrix."""
    from pyspark.sql import functions as F  # noqa: F811
    from kermit_spark.ops.text import dsir_logratio

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "zq wt")], "doc_id long, text string"
    )
    plan = _plan(dsir_logratio(df, F.col("text").contains("the")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_ccnet_buckets_no_global_sort(spark):
    """ccnet_buckets: the tercile cutpoints are a broadcast one-row
    aggregate — the labeling never needs a global Sort or a partitionless
    window over the corpus (the NTILE anti-pattern)."""
    from kermit_spark.ops.text import ccnet_buckets

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "zq wt"), (3, "the the")], "doc_id long, text string"
    )
    plan = _plan(ccnet_buckets(df))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_dust_mining_no_cartesian(spark):
    """mine_irrelevant_params: evidence is hash-agg grouped, the only join
    keys on full URL equality — no all-pairs shape anywhere."""
    from kermit_spark.ops.dust import mine_irrelevant_params

    df = spark.createDataFrame(
        [("http://a/p?x=1", "H1"), ("http://a/p?x=2", "H1"), ("http://a/p", "H1")],
        ["url", "content_hash"],
    )
    plan = _plan(mine_irrelevant_params(df))
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_media_chunk_near_dups_banded_join(spark):
    """media_chunk_near_dups: candidate pairs come from an equi-join on
    (chunk_idx, chunk_md5) — a real shuffle/broadcast hash join, never a
    nested-loop over all asset pairs."""
    from pyspark.sql import functions as F  # noqa: F811
    from kermit_spark.ops.media import media_chunk_near_dups

    media = spark.range(20).select(
        F.format_string("m%02d", F.col("id")).alias("media_id"),
        F.encode(F.concat(F.lit("AAAABBBBCCCCDDDD"), F.col("id").cast("string")), "utf-8").alias("data"),
    )
    plan = _plan(media_chunk_near_dups(media))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_index_query_plan_shapes(spark, tmp_path):
    """The incremental-dedup probe must stay an EQUI-join on
    (band, band_sig) — never a cartesian/broadcast-nested-loop — and the
    index bucket scan must prune to the probed partitions' columns (no
    text column read from the shingle table for the pair stage)."""
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.ops.dedup import build_minhash_index, minhash_index_near_dups

    corpus = spark.createDataFrame(
        [(i, f"document body number {i} with shared words") for i in range(40)],
        "id long, text string",
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "mh"))
    params = dict(k=5, num_hashes=8, num_bands=2, stride=1, max_bucket=10)
    build_minhash_index(cat, corpus, **params)
    new = spark.createDataFrame(
        [(100 + i, f"document body number {i} with shared words") for i in range(8)],
        "id long, text string",
    )
    out = minhash_index_near_dups(cat, new, threshold=0.5, **params)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate generation shuffles/joins on band keys, not text bodies
    assert "band_sig" in plan


def test_opic_round_plan_hash_aggregates_only(spark):
    """The per-round OPIC shapes, inspected BEFORE the localCheckpoint that
    truncates them out of the final plan: the in-edge share sum is a hash
    aggregate keyed on node ids, the carry/base one-row aggregate rides as
    a broadcast — no nested-loop join against anything larger, no sort
    aggregate, anywhere in a round."""
    from kermit_spark.ops.graph import opic, trustrank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 29) for i in range(29)], "src long, dst long"
    )
    # reproduce one round's in-sum shape exactly as opic builds it
    flows = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("share"))
    in_sum = (
        flows.join(edges, flows.node == edges.src)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("share").alias("s"))
    )
    p = _plan(in_sum)
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # end-to-end: the composed (checkpoint-truncated) results stay free of
    # nested-loop shapes too
    p1 = _plan(opic(edges, num_iters=1))
    assert "CartesianProduct" not in p1 and "BroadcastNestedLoopJoin" not in p1, p1
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    p2 = _plan(trustrank(edges, seeds, num_iters=1))
    assert "CartesianProduct" not in p2 and "BroadcastNestedLoopJoin" not in p2, p2


def test_discover_links_outlink_cap_adds_no_shuffle(spark):
    """max_outlinks is an array slice BEFORE the explode — capping must add
    zero Exchange nodes over the uncapped plan (a window over page_url
    would shuffle the whole batch)."""
    from kermit_spark.parse import discover_links

    docs = spark.createDataFrame(
        [("http://a.test/p", 0, [("link", "x", "/x.html", 0)])],
        "url string, depth int, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    plain = _plan(discover_links(docs))
    capped = _plan(discover_links(docs, max_outlinks=3))
    assert plain.count("Exchange") == capped.count("Exchange")
    assert "Window" not in capped


def test_discover_links_cleans_in_one_python_pass(spark):
    """uri.clean and the null drop are ONE Python evaluation: a clean
    projection under ``filter(url IS NOT NULL)`` lets the optimizer push
    the filter below it and clone the UDF into a second ArrowEvalPython
    node, which doubles the Python work of every discovered link."""
    import re

    from kermit_spark.parse import discover_links

    docs = spark.createDataFrame(
        [("http://a.test/p", 0,
          [("link", "x", "/x.html", 0), ("link", "m", "mailto:a@b", 1),
           ("media", None, None, 2)])],
        "url string, depth int, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    links = discover_links(docs)
    nodes = re.findall(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow", _plan(links)
    )
    assert len(nodes) == 1, _plan(links)
    assert [tuple(r) for r in links.collect()] == [
        ("http://a.test/x.html", "http://a.test/p", 1, 0.0)
    ]


def test_anchor_text_stats_cleans_in_one_python_pass(spark):
    """Both anchor-text aggregates come from one aggregation of the cleaned
    links: a join of two aggregations over the links frame plans its
    clean_links pass once per side."""
    import re

    from kermit_spark.ops.graph import anchor_text_stats

    docs = spark.createDataFrame(
        [("http://a.test/p",
          [("link", "x", "/x.html", 0), ("link", "y", "/x.html", 1),
           ("link", "m", "mailto:a@b", 2)])],
        "url string, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    stats = anchor_text_stats(docs)
    plan = _plan(stats)
    assert len(re.findall(r"MapInArrow", plan)) == 1, plan
    assert [tuple(r) for r in stats.collect()] == [("http://a.test/x.html", 2, 1, "x", 1)]


def test_wet_wat_derivations_are_jvm_side(spark):
    """The WET text and WAT outlink derivations must compile to pure JVM
    expressions — the only Python node in either sink plan is the final
    record-assembly mapInPandas."""
    from kermit_spark.warc import wat_outlinks, wet_text

    docs = spark.createDataFrame(
        [("http://a.test/p", 0, [("text", "x", None, 0)])],
        "url string, wave int, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    for expr in (wet_text(F.col("spans")), wat_outlinks(F.col("spans"))):
        plan = _plan(docs.select(expr.alias("v")))
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, plan


def test_host_graph_single_exchange(spark):
    """The host rollup is ONE shuffle keyed on the host pair (partial
    aggregation map-side); host extraction itself is JVM regexp, no
    Python nodes anywhere."""
    from kermit_spark.ops.graph import host_graph

    links = spark.createDataFrame(
        [("http://a.test/1", "http://b.test/2")], "referer string, url string"
    )
    plan = _plan(host_graph(links))
    assert plan.count("Exchange") == 1, plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, plan
    assert "HashAggregate" in plan


def test_page_cap_budgets_are_a_frontier_side_aggregate(spark, tmp_path):
    """max_pages_per_host accounting must ride a join fed by a DISTRIBUTED
    frontier aggregation — never a driver dict (r3 VERDICT: a 10^7-host
    frontier would make that a multi-GB driver structure rebuilt on
    resume). The plan must show the parquet frontier scan feeding a hash
    aggregate, not a LocalTableScan of collected rows; and the source must
    contain no collect at all."""
    import inspect

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher

    corpus = spark.createDataFrame(
        [], "url string, host string, status int, content_type string, body string"
    )
    cfg = CrawlConfig(num_partitions=4, max_pages_per_host=3)
    c = Crawler(
        spark, SnapshotCatalog(spark, str(tmp_path / "cat")),
        CorpusFetcher(corpus), cfg,
    )
    c.seed(["http://a.test/x.html", "http://b.test/y.html"])
    # freshly seeded -> provably no attempts -> the agg short-circuits to
    # None (no per-wave frontier job until something is dequeued)
    assert c._page_cap_budgets() is None
    # force the attempted state to inspect the real plan shape
    c._any_attempts = True
    budgets = c._page_cap_budgets()
    plan = _plan(budgets)
    assert "HashAggregate" in plan, plan
    assert "LocalTableScan" not in plan, plan          # no driver-side list
    assert "Scan parquet" in plan, plan                # counts come FROM the frontier
    src = inspect.getsource(Crawler._page_cap_budgets)
    assert ".collect()" not in src and "createDataFrame" not in src


def test_lsh_candidates_band_equi_join_plan(spark):
    """The transient MinHash LSH path (q_dedup_minhash_lsh's candidate
    generation) must plan the band self-join as an EQUI-join on
    (band, band_sig) — never a cartesian or nested-loop — with the
    band/bucket cap applied before pairing (r3 VERDICT #5: pin the shape so
    a regression can't hide behind window noise)."""
    from kermit_spark.ops.dedup import add_minhash, lsh_candidates

    docs = spark.createDataFrame(
        [(i, f"some shingled text body number {i % 7} with words") for i in range(40)],
        "id long, text string",
    )
    sigs = add_minhash(docs, "text", k=5, num_hashes=8, stride=1)
    pairs = lsh_candidates(sigs, "id", num_bands=2, rows_per_band=4, max_bucket=10)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_sig" in plan, plan        # the join key is the band bucket
    for marker in ("BatchEvalPython", "PythonUDF"):  # JVM-side signatures
        assert marker not in plan, plan


def test_schedule_dedup_prune_is_jvm_broadcast_semi_join(spark, tmp_path):
    """The reverse prune feeding the URL-seen anti-join must keep the
    FRONTIER side in whole-stage codegen: a broadcast LEFT SEMI join on the
    batch keys, with no Python eval node anywhere on the frontier scan
    path (the earlier Arrow-batched bloom probe shipped every frontier
    url_hash through Python per wave and dominated the 10^7-row leg's
    wave wall)."""
    from pyspark.sql import functions as F

    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.frontier import Frontier

    def urls(lo, hi):
        return spark.createDataFrame(
            [(f"http://h{i % 3}.test/p/{i}.html",) for i in range(lo, hi)],
            "url string",
        )

    fr = Frontier(
        SnapshotCatalog(spark, str(tmp_path / "cat")), num_partitions=4,
        bloom_min_frontier=0,
    )
    fr.init(urls(0, 60))
    plan = _plan(fr._dedup_candidates(urls(30, 90), wave=1))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the frontier is scanned exactly once, on the LEFT (streamed) side of
    # the semi join — the subtree printed between the LeftSemi line and
    # its broadcast (right) child must hold the parquet scan and no
    # Python eval node (the candidate-batch probe is the only Arrow
    # stage, and it lives on the broadcast side's lineage, batch-sized)
    assert plan.count("Scan parquet") == 1, plan
    semi_at = plan.index("LeftSemi")
    left_subtree = plan[semi_at: plan.index("BroadcastExchange", semi_at)]
    assert "Scan parquet" in left_subtree, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert marker not in left_subtree, plan


def test_corpus_fetch_without_validators_builds_no_null_comparison(spark, frontier):
    """A corpus with no etag/last_modified column gives the conditional-GET
    predicate no validator clause at all: the analyzed plan compares no
    NULL with NULL, and every fetched status is the corpus status (or 404
    for a dead link)."""
    import re

    corpus = spark.createDataFrame(
        [
            ("http://h0.test/p/0.html", 200, "text/html", "<html></html>"),
            ("http://h1.test/p/1.html", 500, "text/html", "oops"),
        ],
        "url string, status int, content_type string, body string",
    )
    selected = dequeue(
        frontier.read().filter(F.col("url").isin("http://h0.test/p/0.html",
                                                  "http://h1.test/p/1.html",
                                                  "http://h2.test/p/2.html")),
        Politeness((Limit(".*", 5),)),
    )
    assert "etag" in selected.columns  # the frontier side carries validators
    fetched = CorpusFetcher(corpus).fetch(selected)
    analyzed = fetched._jdf.queryExecution().analyzed().toString()
    assert not re.search(r"null as string\)\s*=\s*cast\(null", analyzed, re.I), analyzed
    assert {r["url"]: r["status"] for r in fetched.collect()} == {
        "http://h0.test/p/0.html": 200,
        "http://h1.test/p/1.html": 500,
        "http://h2.test/p/2.html": 404,
    }


# the analyzed plan of a steady wave's frontier write, in lines: the commit
# reads the stored documents partition, so the plan starts at the frontier
# and documents scans instead of re-analyzing the whole wave (frontier scan →
# dequeue → robots → fetch → parse), which was 431 lines on a crawl_waves wave
MAX_FRONTIER_WRITE_PLAN_LINES = 150


def test_steady_wave_frontier_write_plan_stays_flat(spark, tmp_path, monkeypatch):
    from kermit_spark.catalog import SnapshotCatalog
    from kermit_spark.crawler import Crawler, CrawlConfig
    from kermit_spark.fetch import CorpusFetcher
    from kermit_spark.frontier import Limit, Politeness

    def page(host, i, n=8):
        links = "".join(f'<a href="/p/{j}.html">{j}</a>' for j in (i + 1, i + 2) if j < n)
        return f"<html><body><p>{host} {i}</p>{links}</body></html>"

    corpus = spark.createDataFrame(
        [
            (f"http://{h}.test/p/{i}.html", 200, "text/html", page(h, i))
            for h in ("a", "b", "c")
            for i in range(8)
        ]
        + [
            ("http://a.test/robots.txt", 200, "text/plain", "User-agent: *\nDisallow: /p/7\n"),
            ("http://b.test/robots.txt", 200, "text/plain", "User-agent: *\nCrawl-delay: 20\n"),
        ],
        "url string, status int, content_type string, body string",
    )
    cfg = CrawlConfig(num_partitions=2, politeness=Politeness((Limit(".*", 2),)), sub_salts=2)
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    c = Crawler(spark, cat, CorpusFetcher(corpus), cfg)
    c.seed([f"http://{h}.test/p/0.html" for h in ("a", "b", "c")])
    c.crawl(1)  # wave 0 fetches every host's robots.txt

    plan_lines = []
    write = cat._write_partitions

    def spy(table, df, ver, align=True):
        if table == "frontier":
            plan_lines.append(len(df._jdf.queryExecution().analyzed().toString().splitlines()))
        return write(table, df, ver, align=align)

    monkeypatch.setattr(cat, "_write_partitions", spy)
    stats = c.run_wave()
    assert stats.n_selected > 0 and stats.n_new_urls > 0
    assert len(plan_lines) == 1
    assert plan_lines[0] <= MAX_FRONTIER_WRITE_PLAN_LINES, plan_lines

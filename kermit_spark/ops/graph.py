"""Link-graph operators — BFS wave/depth assignment.

The crawl engine's wave structure IS breadth-first search over the link graph
(SURVEY §2.8 contract #1: a URL's wave = its first-discovery depth, because
children are scheduled with parents+1 — /root/reference/src/kermit/extensions/
ext.discovery.coffee:43-44 — and the unique index drops re-discoveries —
QueueSystem.coffee:162,199). ``bfs_depths`` is that semantic as a standalone
operator over an arbitrary (src, dst) edge table; the live engine runs the
same fixpoint through Crawler.crawl with fetching in the loop.

Scale shape: one hash-join + distinct + anti-join per level — all shuffles
keyed on node ids, frontier-sized not graph-sized. ``localCheckpoint``
truncates the logical plan each level; without it analysis cost doubles per
wave (iterative-algorithm standard practice on Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """First-discovery depth per reachable node.

    ``edges``: (src, dst) rows; ``seeds``: (node) rows (depth 0). Returns
    (node, depth) for every node reachable within ``max_depth`` levels —
    exactly the frontier's (url, wave) assignment with fetching stripped out.
    """
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).persist()
    seen = seeds.select(F.col("node"), F.lit(0).alias("depth")).localCheckpoint()
    frontier = seen
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).alias("depth"))
            .localCheckpoint()
        )
        if nxt.limit(1).count() == 0:
            break
        seen = seen.unionByName(nxt).localCheckpoint()
        frontier = nxt
    edges.unpersist()
    return seen


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list: (node, component)
    for every node appearing in ``pairs``; component = MIN node id in the
    component (deterministic canonical label).

    Min-label propagation: each round every node takes the min of its own
    label and its neighbors' labels — one shuffle join + one groupBy per
    round, both keyed on node ids, converging in O(graph diameter) rounds.
    That is the right cost model for the intended workload: near-dup
    clusters out of banded LSH (dedup pipelines) are star/clique-shaped with
    tiny diameter, so 2-4 rounds close them. For adversarial long-path
    graphs at 10^10 edges, swap in the alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — O(log n) rounds); this engine does not need it for
    dedup-cluster shapes. ``localCheckpoint`` truncates the growing plan per
    round (same discipline as bfs_depths); labels only ever decrease, and
    the fixpoint is checked with a limit(1) existence probe, not a full
    count.
    """
    # both edge directions from ONE pass over pairs (a union of two selects
    # would traverse the pairs plan — often a whole LSH pipeline — twice)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                    F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    # seed label = min(node, min neighbor): the groupBy costs the same
    # shuffle a plain distinct-over-src would, and folds the first
    # propagation round into initialization
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("min_neighbor"))
        .select("node", F.least(F.col("node"), F.col("min_neighbor")).alias("component"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            labels.join(edges, labels.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("neighbor_component"))
        )
        # the changed flag rides in the same projection (labels only ever
        # decrease, so new < old ⟺ changed) — the fixpoint probe then reads
        # checkpointed blocks instead of re-joining new labels against old
        new_comp = F.least(
            F.col("component"),
            F.coalesce(F.col("neighbor_component"), F.col("component")),
        )
        nxt = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                new_comp.alias("component"),
                (new_comp < F.col("component")).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = nxt.filter(F.col("_changed")).limit(1).count()
        labels = nxt.drop("_changed")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): (node, component) with component = MIN node id —
    the SAME contract as :func:`connected_components`.

    This is the adversarial-shape scale path the min-label docstring
    defers to: min-label propagation costs O(graph diameter) rounds, so a
    long chain of near-dup docs (pathological but real — think paginated
    boilerplate A~B~C~...) at 10^10 edges never converges in budget.
    Star contraction converges in O(log n) rounds on ANY shape because
    every round at least halves the height of each tree:

      large-star: group both edge directions by u; every neighbor v > u
                  re-points to m = min(N(u) ∪ {u}).
      small-star: orient edges child=max/parent=min, group by child;
                  the child and all its parents link to the min parent.

    Both steps are one shuffle (groupBy u) + one join back — the same cost
    model per round as min-label, just ~log(n) of them. Convergence = the
    edge set is a fixpoint (a min-rooted star forest maps to itself under
    both steps); checked with an exact count + exceptAll probe per round
    over localCheckpoint'd sets, so the test never re-derives the LSH
    pipeline feeding ``pairs``. Prefer min-label for the star/clique
    clusters banded LSH emits (2-4 rounds, no orientation work); prefer
    this for unknown or long-path cluster shapes.
    """
    # localCheckpoint (not persist): the node set is only read by the lazy
    # final labels join, after the loop — a persist would never be hit
    # before its unpersist, silently re-deriving an expensive pairs input
    nodes = (
        pairs.select(F.explode(F.array(F.col(a_col), F.col(b_col))).alias("node"))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        both = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: m = min(neighbors ∪ self); larger neighbors re-point
        lmin = both.groupBy("u").agg(F.min("v").alias("mn"))
        lmin = lmin.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        large = (
            both.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient (child=max, parent=min); child + every parent
        # link to the child's min parent
        oriented = large.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        smin = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        n_new = small.count()
        # fixpoint: new ⊆ old ∧ |new| == |old| ⟺ sets equal (both distinct)
        if n_new == n_edges and small.exceptAll(edges).limit(1).count() == 0:
            edges = small
            break
        edges, n_edges = small, n_new
    # star forest: children → root; roots and isolated nodes → themselves.
    # (min-parent agg is a no-op at fixpoint — one parent per child — and
    # keeps labels single-valued if max_iter ever cuts convergence short)
    parents = edges.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("parent"))
    return nodes.join(parents, "node", "left").select(
        "node", F.coalesce(F.col("parent"), F.col("node")).alias("component")
    )


def _weighted_edges(edges, src_col, dst_col, weight_col, fn_name):
    """Shared scaffolding for the weighted ranker variants: normalize the
    edge projection and return (edges, outdeg_agg, contrib_sql). With a
    weight column, contrib(e) = (rank[src] * w) div sum_w[src] — still
    all-integer, same floor discipline. Weights must be >= 1 (a src whose
    weights sum to <= 0 raises at execution via the embedded guard — a
    silent NULL contrib would vanish that node's whole outgoing mass);
    overflow bound: rank <= scale, so w must stay < 2^63/scale
    (~9.2e6 at the default 10^12 scale) — far above any real host-edge
    multiplicity, documented rather than checked per row."""
    sel = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is None:
        return edges.select(*sel), F.count(F.lit(1)), "rank div outdeg"
    sel.append(F.col(weight_col).cast("long").alias("w"))
    contrib = (
        "(rank * w) div (CASE WHEN outdeg <= 0 THEN "
        f"raise_error('{fn_name}: weight_col sums per src must be >= 1') "
        "ELSE outdeg END)"
    )
    return edges.select(*sel), F.sum("w"), contrib


def pagerank(
    edges: DataFrame,
    num_iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Link-importance scores for crawl prioritization — PageRank in
    **integer fixed-point** arithmetic.

    A production frontier orders fetches by page importance (the reference
    exposes ``priority`` on every item, RequestItem.coffee:178-186, but
    leaves the scoring to user extensions; OPIC/PageRank is the standard
    scoring at web scale). This operator turns a (src, dst) link table into
    (node, rank_fp) where ``rank_fp`` is the rank in ``scale`` units —
    feed it into ``Frontier.schedule`` as the ``priority`` column.

    Why fixed-point: every quantity is a BIGINT and every operation is
    integer ``div``/multiply/sum, so the result is **bit-identical across
    engines, partition counts and reduction orders** — float PageRank sums
    per-node contributions in a nondeterministic association order, which
    breaks the engine's reproducible-ordering contract (SURVEY §2.8) the
    moment ranks feed dequeue priority. Semantics (documented, both sides
    of the oracle implement exactly this):

      init       = scale div N                    (N = |nodes|)
      contrib(e) = rank[src] div outdeg[src]      (per edge, floor)
      rank'[n]   = ((100-d) * init) div 100
                   + (d * sum(contrib over in-edges)) div 100

    With ``weight_col`` (host-graph rollups carry link multiplicities):
    outdeg[src] = sum of weights and contrib(e) = (rank[src] * w) div
    outdeg[src] — the same all-integer floor discipline, so weighted
    results stay bit-reproducible too.

    Dangling-node mass is dropped (rank leaks ≤ init per dangler per
    round) — irrelevant for *ordering* top hosts, and identical on both
    sides. Scale shape: per iteration ONE join keyed on src + ONE groupBy
    keyed on dst — both frontier-graph-sized shuffles, no all-pairs
    anywhere; ``localCheckpoint`` truncates the growing plan per round
    (same discipline as bfs_depths). Total rank mass ≤ scale = 10^12, so
    BIGINT sums cannot overflow at any graph size.
    """
    edges, wsum, contrib_expr = _weighted_edges(
        edges, src_col, dst_col, weight_col, "pagerank"
    )
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    init = scale // n
    base = ((100 - damping_pct) * init) // 100
    outdeg = edges.groupBy("src").agg(wsum.alias("outdeg"))
    # out-edges annotated with the sender's degree, reused every round
    fanout = edges.join(outdeg, "src").persist()
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank")).localCheckpoint()
    for _ in range(num_iters):
        incoming = (
            ranks.join(fanout, ranks.node == fanout.src)
            .select(
                F.col("dst").alias("node"),
                F.expr(contrib_expr).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("incoming"))
        )
        ranks = (
            nodes.join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * coalesce(incoming, 0L)) div 100"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    edges.unpersist()
    nodes.unpersist()
    fanout.unpersist()
    return ranks.select("node", F.col("rank").alias("rank_fp"))


def hits(
    edges: DataFrame,
    num_iters: int = 2,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Hub/authority scores (Kleinberg's HITS) in **integer fixed-point**
    arithmetic — the complement to ``pagerank`` for crawl prioritization:
    authorities are the pages worth fetching, hubs the pages worth
    re-parsing for links (a directory page is a hub; what it points at are
    authorities).

    Same determinism contract as ``pagerank``: every quantity is a BIGINT,
    every operation integer multiply/``div``/sum, so results are
    bit-identical across engines, partition counts and reduction orders.
    Semantics (both oracle sides implement exactly this):

      init          = scale div N          (hub0 = init for every node)
      auth_raw[n]   = sum(hub[u] over in-edges u→n)     (0 if none)
      auth[n]       = (auth_raw[n] * scale) div sum(auth_raw)   (L1 → scale)
      hub_raw[n]    = sum(auth[v] over out-edges n→v)
      hub[n]        = (hub_raw[n] * scale) div sum(hub_raw)

    L1 normalization (not the classical L2) keeps the recurrence closed
    over integers — ordering, the crawl's only consumer, is unaffected.
    Overflow bound: raw sums ≤ scale × max_degree, and the scaling product
    ≤ scale² × max_degree, so the default scale=10^6 is safe for
    max_degree < ~9×10^6; lower ``scale`` for denser graphs. The per-round
    totals ride the plan as broadcast one-row aggregates (no driver
    collect); per iteration: two joins keyed on src/dst + two hash
    aggregations — graph-sized shuffles, nothing all-pairs;
    ``localCheckpoint`` truncates the plan per half-step.

    Returns (node, auth_fp, hub_fp) for every node in the edge set.
    """
    if num_iters < 1:
        raise ValueError("hits() needs num_iters >= 1")
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    init = scale // n

    def _normalize(raw: DataFrame, out_col: str) -> DataFrame:
        tot = raw.agg(F.sum("raw").alias("t"))
        return (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.when(
                    F.col("t") > 0, F.expr(f"(raw * {scale}) div t")
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias(out_col),
            )
            .localCheckpoint()
        )

    hub = nodes.select("node", F.lit(init).cast("long").alias("hub")).localCheckpoint()
    auth = None
    for _ in range(num_iters):
        raw_auth = (
            hub.join(edges, hub.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("s"))
        )
        auth = _normalize(
            nodes.join(raw_auth, "node", "left").select(
                "node", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("raw")
            ),
            "auth",
        )
        raw_hub = (
            auth.join(edges, auth.node == edges.dst)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("s"))
        )
        hub = _normalize(
            nodes.join(raw_hub, "node", "left").select(
                "node", F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("raw")
            ),
            "hub",
        )
    out = (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("auth"), F.lit(0)).alias("auth_fp"),
            F.coalesce(F.col("hub"), F.lit(0)).alias("hub_fp"),
        )
    )
    edges.unpersist()
    nodes.unpersist()
    return out


def canonicalize_near_dups(
    doc_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    algorithm: str = "label",
) -> DataFrame:
    """The last step of a training-data dedup pipeline: collapse near-dup
    PAIRS (from minhash/simhash/embedding LSH) into CLUSTERS and pick one
    canonical document per cluster — every other member is flagged a
    duplicate to drop.

    ``doc_ids``: one row per document (``id_col``); ``pairs``: undirected
    near-dup pairs. Returns (doc_id, canonical_id, is_duplicate) for EVERY
    document: canonical_id = min doc id of its component (itself when the
    document is in no pair). The join against the full corpus is keyed on
    doc id — the component map is cluster-members-only (≪ corpus), so Spark
    broadcasts it when small and shuffles on the id otherwise; nothing here
    is ever all-pairs.

    ``algorithm``: 'label' (min-label propagation — O(diameter) rounds,
    right for the star/clique shapes banded LSH emits) or 'star'
    (large-star/small-star contraction — O(log n) rounds, right when
    cluster shapes are unknown or chain-like). Both produce the identical
    (component = min id) labeling.
    """
    if algorithm not in ("label", "star"):
        raise ValueError(f"algorithm must be 'label' or 'star', got {algorithm!r}")
    cc_fn = connected_components if algorithm == "label" else connected_components_star
    cc = cc_fn(pairs, a_col=a_col, b_col=b_col)
    return (
        doc_ids.select(F.col(id_col).alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical_id"),
            (F.coalesce(F.col("component"), F.col("doc_id")) != F.col("doc_id")).alias(
                "is_duplicate"
            ),
        )
    )


def anchor_text_stats(
    documents: DataFrame,
    clean: bool = True,
) -> DataFrame:
    """Inbound anchor-text aggregation per link target — the web-graph
    signal layer (search ranking, title mining, training labels): for
    every URL the corpus links TO, how many inlinks it has, from how many
    distinct documents, and its most common anchor text.

    ``documents``: rows with (url, spans) — link spans carry the anchor
    text in ``text`` and the href in ``media_ref`` (parse.py contract).
    With ``clean=True`` hrefs are canonicalized against the page URL via
    the engine's clean_links (the same one-pass Arrow clean the discovery
    path uses); pass False when hrefs are already canonical.

    Output: (url, n_inlinks, n_docs, top_anchor, top_anchor_n) where
    top_anchor is the most frequent non-null anchor text, ties broken by
    lexicographically smallest — fully deterministic.

    Scale shape: explode → one grouping-sets aggregation keyed on
    (target, anchor) and (target, src) → one aggregation keyed on target,
    both map-side-partial (a hot target's counts combine before the
    shuffle). No windows, no joins, so each link is cleaned once; the
    top-anchor pick is min(struct(-n, anchor)) inside the second agg.
    """
    links = documents.select(
        F.col("url").alias("_base"), F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "link")
    keep = (F.col("_base").alias("src"), F.col("s.text").alias("anchor"))
    if clean:
        from ..functions.urls import clean_links

        links = clean_links(links, F.col("_base"), F.col("s.media_ref"), *keep)
    else:
        links = links.select(F.col("s.media_ref").alias("url"), *keep).filter(
            F.col("url").isNotNull()
        )
    # one row per (url, anchor) with its link count, and one per distinct
    # (url, src); grouping id 1 marks the (url, anchor) rows
    keyed = links.groupingSets(
        [["url", "anchor"], ["url", "src"]], "url", "anchor", "src"
    ).agg(F.count("*").alias("_n"), F.grouping_id().alias("_g"))
    per_anchor = F.col("_g") == 1
    return keyed.groupBy("url").agg(
        F.sum(F.when(per_anchor, F.col("_n"))).alias("n_inlinks"),
        F.count(F.when(~per_anchor, F.col("src"))).alias("n_docs"),
        F.min(
            F.when(
                per_anchor & F.col("anchor").isNotNull(),
                F.struct((-F.col("_n")).alias("neg"), F.col("anchor").alias("a")),
            )
        ).alias("_top"),
    ).select(
        "url",
        "n_inlinks",
        "n_docs",
        F.col("_top.a").alias("top_anchor"),
        (-F.col("_top.neg")).alias("top_anchor_n"),
    )


def opic(
    edges: DataFrame,
    num_iters: int = 3,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobena, WWW 2003) in **integer fixed-point** arithmetic, the third
    frontier-priority scorer next to ``pagerank`` and ``hits``. OPIC is
    the one actually designed FOR crawlers: importance accrues while the
    crawl runs (no converged graph needed), so a frontier can rank
    never-fetched URLs by the cash their discovered in-links forwarded.

    This batch operator runs the synchronous variant: every node holds
    ``cash`` (importance currently flowing through it) and ``hist`` (total
    cash it has ever held). Per round each node banks its cash into
    history and forwards it in equal integer shares along its out-edges;
    division remainders and the full cash of dangling nodes go to a
    virtual pot redistributed uniformly next round (the paper's virtual
    node, which also guarantees strong connectedness). All arithmetic is
    BIGINT div/multiply/sum, so results are bit-identical across engines,
    partition counts and reduction orders — same determinism contract as
    ``pagerank``/``hits``. Exact recurrence (both oracle sides implement
    precisely this; total cash + pot == scale is invariant):

      init      = scale div N ;  pot0 = scale - N*init ;  hist0 = 0
      share[n]  = cash[n] div outdeg[n]            (outdeg > 0)
      rem[n]    = cash[n] - outdeg[n]*share[n]     (cash[n] if dangling)
      carry     = pot + sum(rem) ;  base = carry div N ; pot' = carry - N*base
      cash'[n]  = sum(share[u] over in-edges u->n) + base
      hist'[n]  = hist[n] + cash[n]

    Scale shape: per round one groupBy(src) for in-sums plus two one-row
    aggregates that ride the plan as broadcast rows (carry/base — no
    driver collect); shuffles are edge- and node-sized, never all-pairs.
    ``localCheckpoint`` truncates the growing plan per round. The pot is a
    one-row DataFrame carried across rounds, not driver state.

    Returns (node, hist_fp, cash_fp): rank by hist_fp + cash_fp (total
    importance mass observed), descending.
    """
    if num_iters < 1:
        raise ValueError("opic() needs num_iters >= 1")
    edges = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    init = scale // n
    spark = edges.sparkSession
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out"))
    deg = (
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce(F.col("out"), F.lit(0)).cast("long").alias("out"))
        .localCheckpoint()
    )
    state = nodes.select(
        "node",
        F.lit(init).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("hist"),
    ).localCheckpoint()
    pot = spark.range(1).select(F.lit(scale - n * init).cast("long").alias("pot"))
    for _ in range(num_iters):
        st = state.join(deg, "node")
        share = F.when(F.col("out") > 0, F.expr("cash div out")).otherwise(F.lit(0))
        rem = F.col("cash") - F.col("out") * share
        flows = st.select("node", share.cast("long").alias("share"), rem.cast("long").alias("rem"))
        carry = (
            flows.agg(F.sum("rem").alias("rsum"))
            .crossJoin(F.broadcast(pot))
            .select((F.col("rsum") + F.col("pot")).alias("carry"))
        )
        base = carry.select(
            F.expr(f"carry div {n}").cast("long").alias("base"),
            (F.col("carry") % n).cast("long").alias("pot"),
        ).localCheckpoint()
        in_sum = (
            flows.join(edges, flows.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("s"))
        )
        state = (
            state.join(in_sum, "node", "left")
            .crossJoin(F.broadcast(base.select("base")))
            .select(
                "node",
                (F.coalesce(F.col("s"), F.lit(0)) + F.col("base")).cast("long").alias("cash"),
                (F.col("hist") + F.col("cash")).cast("long").alias("hist"),
            )
            .localCheckpoint()
        )
        pot = base.select("pot")
    out = state.select("node", F.col("hist").alias("hist_fp"), F.col("cash").alias("cash_fp"))
    edges.unpersist()
    nodes.unpersist()
    return out


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    num_iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004) in integer
    fixed-point — PageRank with the teleport restricted to a TRUSTED seed
    set, the standard link-spam demotion signal: trust flows out from
    human-vetted seeds along links, so spam farms that inflate raw
    PageRank via link exchanges score near zero (no trusted path reaches
    them). A frontier ranks by trustrank (or pagerank × trust) to starve
    spam hosts of fetch budget.

    Same determinism contract as ``pagerank``: BIGINT-only arithmetic,
    bit-identical across engines/partitionings. Exact recurrence (both
    oracle sides implement precisely this; S = seed count):

      tele      = ((100 - d) * scale div 100) div S   (trusted nodes only)
      init[n]   = scale div S  if n in seeds else 0
      contrib(e)= rank[src] div outdeg[src]
      rank'[n]  = (d * sum(contrib over in-edges)) div 100
                  + (tele if n in seeds else 0)

    With ``weight_col`` (host-graph rollups — the TrustRank paper's own
    setting is the site graph): outdeg[src] = sum of weights and
    contrib(e) = (rank[src] * w) div outdeg[src], weights >= 1 — the same
    all-integer floor discipline as the weighted pagerank.

    Scale shape identical to ``pagerank`` (one src-keyed join + one
    dst-keyed groupBy per round, plan truncated per round); the seed set
    joins broadcast (it is small by construction — that is the point of
    TrustRank). Returns (node, trust_fp); nodes with no trusted path
    score exactly 0.
    """
    if num_iters < 1:
        raise ValueError("trustrank() needs num_iters >= 1")
    edges, wsum, contrib_expr = _weighted_edges(
        edges, src_col, dst_col, weight_col, "trustrank"
    )
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    seed_nodes = seeds.select(F.col("node")).distinct().persist()
    s = seed_nodes.count()
    if s == 0:
        raise ValueError("trustrank() needs a non-empty seed set")
    init = scale // s
    tele = (((100 - damping_pct) * scale) // 100) // s
    is_seed = (
        nodes.join(F.broadcast(seed_nodes.withColumn("_t", F.lit(1))), "node", "left")
        .select("node", F.coalesce(F.col("_t"), F.lit(0)).alias("_t"))
        .localCheckpoint()
    )
    outdeg = edges.groupBy("src").agg(wsum.alias("outdeg"))
    fanout = edges.join(outdeg, "src").persist()
    ranks = is_seed.select(
        "node", (F.col("_t") * init).cast("long").alias("rank")
    ).localCheckpoint()
    for _ in range(num_iters):
        incoming = (
            ranks.join(fanout, ranks.node == fanout.src)
            .select(
                F.col("dst").alias("node"),
                F.expr(contrib_expr).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("incoming"))
        )
        ranks = (
            is_seed.join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.col("_t") * tele
                    + F.expr(f"({damping_pct} * coalesce(incoming, 0L)) div 100")
                ).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    edges.unpersist()
    nodes.unpersist()
    seed_nodes.unpersist()
    fanout.unpersist()
    return ranks.select("node", F.col("rank").alias("trust_fp"))


def host_graph(
    links: DataFrame,
    src_col: str = "referer",
    dst_col: str = "url",
    drop_self: bool = True,
) -> DataFrame:
    """Domain-level rollup of a page link table: (src_host, dst_host,
    n_links) weighted edges, intra-host edges dropped by default.

    The host graph is what production crawl POLICY actually ranks — domain
    authority for budget allocation, spam demotion, seed selection — and
    it is the scale lever: 10^10 page edges roll up to ~10^7 host edges
    (one groupBy, shuffle keyed on the host pair), making EXACT weighted
    PageRank affordable where the page graph would need sampling. Feed the
    result to ``pagerank(host_edges, src_col='src_host',
    dst_col='dst_host', weight_col='n_links')`` for the domain ranking, or
    join it back to per-host politeness budgets.

    Hosts are derived with the engine's own ``host_of`` (lower-cased
    authority, port kept) so the rollup groups exactly like politeness
    does."""
    from ..functions.urls import host_of

    e = links.select(
        host_of(F.col(src_col)).alias("src_host"),
        host_of(F.col(dst_col)).alias("dst_host"),
    ).filter(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
    e = e.filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if drop_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )

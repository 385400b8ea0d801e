"""Document deduplication — exact and near-duplicate, Spark-first.

Five strategies, ordered by cost, all over a (id, text) DataFrame:

  exact_dedup          hash-groupBy on the full content (one shuffle on the
                       16-byte digest, never on the text itself)
  shingle / minhash    character-shingle sets → MinHash signatures → LSH
  + lsh_candidates     banding → candidate pairs from bucket self-join —
                       the only shuffle keys are (band, band_signature);
                       no O(n²) comparison ever materializes
  ngram_jaccard_pairs  exact Jaccard verification for candidate pairs
  simhash              64-bit SimHash per doc (pure JVM higher-order fns,
                       portable md5 bit family) + hamming-distance candidate
                       pairs via band buckets
  embedding_near_dup   cosine near-duplicates over an embedding column,
                       bucketed by random-hyperplane LSH sign bits

Scale notes (100 TB corpus):
  * shingling/MinHash is pure JVM (transform/sequence/substring/md5 inside
    whole-stage codegen) — the text column never crosses to Python;
  * LSH self-join shuffles only (band_id, band_sig) pairs; hot buckets (very
    common boilerplate) are capped with a per-bucket limit to bound the
    pair explosion, mirroring the hot-host salting story in the frontier;
  * MinHash here uses min-over-md5-hex-strings as the hash family: portable
    (identical in any engine with md5 — used by the DuckDB oracles) and
    unbiased for Jaccard estimation since md5 is uniform on strings.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Keep the lowest id per exact content hash; report collapsed count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# test-set decontamination
# ---------------------------------------------------------------------------


def ngram_contamination(
    train: DataFrame,
    evals: DataFrame,
    id_col: str = "id",
    eval_id_col: str = "eval_id",
    text_col: str = "text",
    k: int = 20,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination — flag training documents that CONTAIN an
    evaluation document's n-grams (the asymmetric cousin of Jaccard dedup:
    a 100-token eval question buried in a 10k-token training page has tiny
    Jaccard but containment ≈ 1).

    For every (train doc, eval doc) pair sharing k-gram shingles:
    ``containment = |shared shingles| / |eval shingles|``; pairs at or above
    ``threshold`` are returned as (train_id, eval_id, n_shared, containment
    rounded to 6 dp), thresholded on the unrounded ratio.

    ``k`` must be LONG (default 20 chars, the character analog of the
    8-13-token windows the published decontamination recipes use): the join
    output is Σ_shingle (train occurrences × eval docs containing it), so
    short shingles ("e th…") that appear in every document on both sides
    multiply into a row explosion — measured 10× slower at k=5 than k=20 on
    the same corpus — while long shingles only collide on genuine overlap.
    For corpora with boilerplate (headers, license blocks) that is long AND
    ubiquitous, ``max_df`` additionally drops shingles contained in more
    than that many eval docs (computed on the eval side — eval-set-sized,
    never a train-corpus job); dropped shingles shrink each eval's
    denominator too, keeping containment a fraction of the shingles
    actually searched for.

    Scale shape (100 TB train corpus, benchmark-suite-sized eval set): the
    eval shingle table is eval-set-sized — **broadcast** — so the join is
    map-side against the exploded train shingles; the only aggregation
    shuffles (train_id, eval_id) pairs that actually share a shingle. The
    train side streams through one scan; nothing is ever all-pairs and the
    train text never leaves the JVM."""
    ev = evals.select(
        F.col(eval_id_col).alias("eval_id"),
        shingles(F.col(text_col), k).alias("_sh"),
    )
    ev_x = ev.select("eval_id", F.explode("_sh").alias("sh"))
    if max_df is not None:
        df_counts = ev_x.groupBy("sh").agg(
            F.count_distinct("eval_id").alias("_df")
        )
        ev_x = (
            ev_x.join(df_counts, "sh")
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    sizes = ev_x.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval"))
    ev_x = ev_x.join(sizes, "eval_id")
    tr_x = train.select(
        F.col(id_col).alias("train_id"), F.explode(shingles(F.col(text_col), k)).alias("sh")
    )
    shared = (
        tr_x.join(F.broadcast(ev_x), "sh")
        .groupBy("train_id", "eval_id")
        .agg(F.first("n_eval").alias("n_eval"), F.count(F.lit(1)).alias("n_shared"))
    )
    ratio = F.col("n_shared").cast("double") / F.col("n_eval")
    return shared.filter(ratio >= threshold).select(
        "train_id",
        "eval_id",
        "n_shared",
        F.round(ratio, 6).alias("containment"),
    )


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH (JVM-side)
# ---------------------------------------------------------------------------


def shingles(text: Column, k: int = 5, stride: int = 1) -> Column:
    """Distinct character k-shingles as an array (JVM transform/sequence —
    one pass, no Python).

    ``stride`` > 1 samples every stride-th shingle position — a uniform
    sample of the shingle set, so the downstream MinHash Jaccard estimate is
    unbiased at 1/stride of the hash work (the knob that matters at corpus
    scale, where md5 arithmetic dominates the signature stage)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({_sql(text)}) - {k - 1}, 1), {stride}), "
            f"i -> substring({_sql(text)}, i, {k}))"
        )
    )


def _sql(col: Column | str) -> str:
    if isinstance(col, str):
        return col
    # Column -> SQL fragment; only used for simple column refs
    return col._jc.toString()


def minhash_signature(shingle_col: str, num_hashes: int = 16) -> Column:
    """MinHash signature: for seed i, min over shingles of md5(i || ':' || s).

    min-of-md5-hex is a valid MinHash family (uniform over strings) and is
    bit-identical across engines — the portability property the correctness
    oracles rely on.
    """
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"i -> array_min(transform({shingle_col}, s -> md5(concat(cast(i as string), ':', s)))))"
    )


def add_minhash(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    stride: int = 1,
) -> DataFrame:
    return df.withColumn("shingles", shingles(F.col(text_col), k, stride)).withColumn(
        "minhash", minhash_signature("shingles", num_hashes)
    )


def lsh_candidates(
    with_sig: DataFrame,
    id_col: str = "id",
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 50,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate pairs (a < b).

    ``max_bucket`` caps pathological buckets (boilerplate text): a bucket of
    B docs yields B² pairs — at corpus scale one mega-bucket would dominate
    the stage. Capped buckets keep the deterministically-first members
    (ordered by id), which preserves dedup transitivity for the kept set.
    ``None`` disables the cap (exact candidate set, small corpora only).
    """
    bands = _cap_buckets(_band_rows(with_sig, id_col, num_bands, rows_per_band), max_bucket)
    left = bands.select("band", "band_sig", F.col("_id").alias("a"))
    right = bands.select("band", "band_sig", F.col("_id").alias("b"))
    pairs = (
        left.join(right, on=["band", "band_sig"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return pairs


def ngram_jaccard(
    pairs: DataFrame, with_shingles: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs: |A∩B| / |A∪B| over shingle sets."""
    sh = with_shingles.select(F.col(id_col).alias("_jid"), "shingles")
    a = sh.withColumnRenamed("_jid", "a").withColumnRenamed("shingles", "sh_a")
    b = sh.withColumnRenamed("_jid", "b").withColumnRenamed("shingles", "sh_b")
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "a", "b",
        F.round(inter / union, 6).alias("jaccard"),
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    threshold: float = 0.6,
    k: int = 5,
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH candidates → exact
    Jaccard verify → pairs over threshold."""
    sigs = add_minhash(df.select(id_col, text_col), text_col, k, num_hashes).persist()
    pairs = lsh_candidates(sigs, id_col, num_bands, num_hashes // num_bands)
    verified = ngram_jaccard(pairs, sigs, id_col)
    out = verified.filter(F.col("jaccard") >= threshold)
    return out


# ---------------------------------------------------------------------------
# SimHash (pure JVM, portable md5-derived bit family)
# ---------------------------------------------------------------------------


def simhash(text: Column) -> Column:
    """64-bit SimHash over distinct word tokens — one JVM expression, zero
    shuffle, no Python anywhere (replaces a per-row/per-token pandas loop).

    Token hash family: the first 16 hex chars of md5(token), read as 64 bits
    MSB-first. Bit b of a token = bit (3 - b%4) of hex digit b//4. Per bit,
    distinct tokens vote +1/-1; the document bit is 1 iff the vote sum is
    positive. The family is bit-identical in any engine with md5 + string
    ops, so a DuckDB oracle reproduces the exact simhash (same trick as the
    md5-min MinHash family above).

    Null text → null simhash; a text with zero [a-z0-9] tokens → 0.
    """
    t = _sql(text)
    tokens = f"array_distinct(regexp_extract_all(lower({t}), '[a-z0-9]+', 0))"
    hexes = f"transform({tokens}, tok -> substring(md5(tok), 1, 16))"
    # parse each hex DIGIT once (16 conv calls per token), then derive its 4
    # bits with cheap shifts — a per-bit conv would cost 64 string parses
    digits = "transform(sequence(0, 15), d -> cast(conv(substring(h, 1 + d, 1), 16, 10) as int))"
    digit_votes = (
        "array(2 * (shiftright(v, 3) & 1) - 1, 2 * (shiftright(v, 2) & 1) - 1, "
        "2 * (shiftright(v, 1) & 1) - 1, 2 * (v & 1) - 1)"
    )
    votes = (
        f"aggregate({hexes}, array_repeat(0, 64), "
        f"(acc, h) -> zip_with(acc, flatten(transform({digits}, v -> {digit_votes})), "
        f"(x, y) -> x + y))"
    )
    # MSB-first: vote index 0 -> bit 63 of the long (sign bit; arithmetic sum
    # of distinct powers of two is carry-free, so the two's-complement value
    # comes out exactly)
    sim = (
        f"aggregate(zip_with({votes}, sequence(63, 0, -1), "
        f"(v, sh) -> if(v > 0, shiftleft(cast(1 as bigint), sh), cast(0 as bigint))), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return F.expr(sim)


def simhash_candidates(
    df: DataFrame, id_col: str = "id", text_col: str = "text", max_hamming: int = 3,
    max_bucket: int = 100,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4×16-bit keys (any
    pair within hamming ≤ 3 shares at least one exact band — pigeonhole), then
    verify hamming distance on bucket-join candidates.

    ``max_bucket`` caps each (band, key) bucket — near-identical boilerplate
    collapses to one simhash value and a B-doc bucket otherwise yields B²
    pairs (observed: 1.8M pairs from 10k docs without the cap). Capped
    buckets keep the lowest ids, preserving a canonical representative."""
    sh = df.select(F.col(id_col).alias("_id"), simhash(F.col(text_col)).alias("sh"))
    bands = sh.select(
        "_id", "sh",
        F.posexplode(
            F.array(*[
                # band k = bits [16k, 16k+16) MSB-first — matches the oracle's
                # substring(bitstring, 1 + k*16, 16)
                F.shiftrightunsigned(F.col("sh"), 48 - b * 16).bitwiseAND(F.lit(0xFFFF))
                for b in range(4)
            ])
        ).alias("band", "key"),
    )
    from pyspark.sql.window import Window

    wcap = Window.partitionBy("band", "key").orderBy("_id")
    bands = bands.withColumn("_rn", F.row_number().over(wcap)).filter(
        F.col("_rn") <= max_bucket
    ).drop("_rn")
    left = bands.select("band", "key", F.col("_id").alias("a"), F.col("sh").alias("sh_a"))
    right = bands.select("band", "key", F.col("_id").alias("b"), F.col("sh").alias("sh_b"))
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("a", "b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity between two array<float/double> columns — JVM
    higher-order functions, no UDF."""
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    na = F.sqrt(F.expr(f"aggregate({a}, 0D, (acc, v) -> acc + v * v)"))
    nb = F.sqrt(F.expr(f"aggregate({b}, 0D, (acc, v) -> acc + v * v)"))
    return dot / (na * nb)


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    max_bucket: int | None = 50,
) -> DataFrame:
    """Cosine near-duplicates: random-hyperplane LSH bits bucket the vectors
    (near-identical vectors share all sign bits with high probability), then
    exact cosine verification within buckets.

    Hyperplanes are deterministic: plane p's component j = uniform(-1,1)
    derived from blake2-free arithmetic hash of (p, j) — same planes on any
    cluster/run.

    ``max_bucket`` caps each sign-bucket (lowest ids kept) before the
    self-join, exactly like :func:`lsh_candidates` / :func:`simhash_candidates`
    — a cluster of B near-identical embeddings (precisely the dedup workload)
    lands in ONE bucket and would otherwise emit B² pairs. ``None`` disables
    the cap (exact pair set, small corpora only).
    """
    dim = len(emb.select(vec_col).first()[0])
    planes = _deterministic_planes(num_planes, dim)
    v = F.col(vec_col).cast("array<double>")
    # sign bit per plane: dot(vec, plane) via JVM higher-order fns — the
    # planes are literal arrays (broadcast with the plan, no side channel)
    bits = []
    for p in range(num_planes):
        plane_lit = F.array(*[F.lit(float(x)) for x in planes[p]])
        d = F.aggregate(
            F.zip_with(v, plane_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** p))
    bucket = sum(bits[1:], bits[0]).alias("bucket")

    tagged = emb.select(F.col(id_col).alias("_id"), v.alias("_v"), bucket)
    if max_bucket is not None:
        from pyspark.sql.window import Window

        wcap = Window.partitionBy("bucket").orderBy("_id")
        tagged = tagged.withColumn("_rn", F.row_number().over(wcap)).filter(
            F.col("_rn") <= max_bucket
        ).drop("_rn")
    left = tagged.select("bucket", F.col("_id").alias("a"), F.col("_v").alias("va"))
    right = tagged.select("bucket", F.col("_id").alias("b"), F.col("_v").alias("vb"))
    pairs = left.join(right, "bucket").filter(F.col("a") < F.col("b"))
    cos = cosine_expr("va", "vb")
    return pairs.select("a", "b", F.round(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def _deterministic_planes(num_planes: int, dim: int) -> np.ndarray:
    """Hyperplane component (p, j) = uniform[-1, 1) derived from md5("p:j")
    — a pure, ENGINE-PORTABLE function (any SQL engine with md5 + string ops
    reproduces the exact doubles), so LSH bucketing built on these planes can
    be oracle-checked. Uniform (not Gaussian) directions are fine for
    sign-bucket LSH: the planes only need to be fixed and symmetric, and
    exact cosine verification runs inside every bucket anyway."""
    import hashlib

    out = np.empty((num_planes, dim))
    for p in range(num_planes):
        for j in range(dim):
            v = int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:8], 16)
            out[p, j] = v / 2**32 * 2.0 - 1.0
    return out


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide duplicate-PARAGRAPH removal with document reconstruction
    (the FineWeb/C4-style intra-corpus boilerplate pass): split every
    document on ``sep``, keep each distinct paragraph only at its FIRST
    occurrence (smallest (id, position) — deterministic), drop every other
    copy, and stitch the survivors back into documents in original order.
    Documents whose every paragraph was deduped away disappear from the
    output.

    Returns (id, text, n_kept, n_removed).

    Scale shape: explode → one map-side-partial hash agg picks the winner
    occurrence per 16-byte paragraph hash → hash-join paragraphs back on
    the hash (winner side is one row per DISTINCT paragraph, so a
    boilerplate paragraph repeated 10^9 times joins 10^9-vs-1, never
    N×N) → per-document agg reconstructs. Shuffle keys: paragraph hash,
    then doc id. Only hashes and paragraph text move — no full-document
    bodies ride through the winner agg.
    """
    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("_pos", "_para"),
    ).withColumn("_h", F.md5(F.col("_para")))
    totals = paras.groupBy("_id").agg(F.count("*").alias("_total"))
    winners = paras.groupBy("_h").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_w")
    )
    kept = (
        paras.join(winners, "_h")
        .filter((F.col("_id") == F.col("_w._id")) & (F.col("_pos") == F.col("_w._pos")))
        .select("_id", "_pos", "_para")
    )
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("_pos"), F.col("_para")))),
                lambda s: s["_para"],
            ),
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    return rebuilt.join(totals, "_id").select(
        F.col("_id").alias(id_col),
        "text",
        "n_kept",
        (F.col("_total") - F.col("n_kept")).alias("n_removed"),
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 20,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-SUBSTRING spans across the corpus — the
    suffix-array-style "exact substring dedup" of Lee et al. 2022
    (*Deduplicating Training Data Makes Language Models Better*),
    re-expressed as a rolling-window hash join instead of a distributed
    suffix array: slide a ``k``-char window (step ``stride``) over every
    document, hash each window, keep the windows whose hash occurs in
    ≥ ``min_docs`` DISTINCT documents, and merge per-document runs of
    adjacent duplicated windows into maximal spans.

    Returns (id_col, span_start, span_end, n_windows): 0-based character
    offsets, ``span_end`` exclusive (= last window start + k), one row per
    maximal duplicated run. A shared passage of length L ≥ k yields one
    span covering it (all L−k+1 windows inside it are duplicated), so the
    output is the "cut these byte ranges" work-list a dedup pass consumes.

    ``stride`` > 1 samples windows CONTENT-KEYED (keep a window iff its
    hash ≡ 0 mod stride — the winnowing/MODP selection rule), NOT on a
    fixed offset grid: a grid in doc A and a grid in doc B land on
    different phases of the same shared passage and never produce equal
    windows, so grid-stride silently finds nothing across documents.
    Content-keyed selection picks the SAME relative windows of a shared
    passage in every document that contains it, cutting shuffle/agg volume
    to ~1/stride while staying alignment-free. Two sampled windows are
    merged into one island while their covered char ranges stay contiguous
    (gap ≤ k); hashing itself still visits every offset — stride is the
    shuffle lever, ``k`` the CPU lever.

    Scale shape (100 TB corpus):
      * window generation + hashing is one pure-JVM projection
        (transform/sequence/substring/md5 inside whole-stage codegen) —
        window TEXT never leaves the scan stage; only (md5, id, offset)
        rows shuffle, constant-size per window regardless of k;
      * duplicated-window detection is a SINGLE shuffle on the key:
        dense_rank-by-document + max-over-group computes the distinct-doc
        count on the same exchange that carries the occurrences, so
        windows are generated and shuffled ONCE — the groupBy +
        join-back alternative regenerates and reshuffles every window
        (measured ~3× slower). Group sort cost is bounded by a window's
        occurrence count, the same bound the join-back shape has on its
        shuffle skew;
      * the shuffle key is the window text itself when k <= 32 (a
        20-char window is SHORTER than its 32-hex md5 — hashing would
        grow the shuffle AND burn CPU) and md5(window) above that, so
        key size is bounded by 32 bytes either way;
      * the island merge windows per DOCUMENT, so its sort partition is
        bounded by document length, not corpus size.
    """
    from pyspark.sql.window import Window

    if k < 1 or stride < 1:
        raise ValueError(f"need k >= 1 and stride >= 1, got k={k} stride={stride}")
    text = F.col(text_col)
    if k <= 32:
        key_of = lambda i: text.substr(i + 1, F.lit(k))  # noqa: E731
    else:
        key_of = lambda i: F.md5(text.substr(i + 1, F.lit(k)))  # noqa: E731
    wins = df.filter(F.length(text) >= k).select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.length(text) - k, F.lit(1)), key_of)
        ).alias("_off", "_h"),
    ).withColumn("_off", F.col("_off").cast("long"))
    if stride > 1:
        # winnowing-style MODP selection on the same 48-bit portable prefix
        # the sampling ops use (digit-sum-reproducible in the oracle). The
        # selector always works on md5(window), so it matches the
        # historical rule for both key choices.
        digest = F.md5(F.col("_h")) if k <= 32 else F.col("_h")
        hv = F.conv(F.substring(digest, 1, 12), 16, 10).cast("long")
        wins = wins.filter(F.pmod(hv, F.lit(stride)) == 0)
    wh = Window.partitionBy("_h")
    who = Window.partitionBy("_h").orderBy("_id")
    hits = (
        wins.withColumn("_dr", F.dense_rank().over(who))
        .withColumn("_nd", F.max("_dr").over(wh))
        .filter(F.col("_nd") >= min_docs)
        .select("_id", "_off")
    )
    w = Window.partitionBy("_id").orderBy("_off")
    gap_break = (
        F.when(F.col("_off") - F.lag("_off").over(w) > k, F.lit(1))
        .otherwise(F.lit(0))
        .alias("_brk")
    )
    isl = hits.select("_id", "_off", gap_break).withColumn(
        "_grp",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("_id", "_grp").agg(
        F.min("_off").alias("span_start"),
        (F.max("_off") + k).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).select(F.col("_id").alias(id_col), "span_start", "span_end", "n_windows")


def canonical_dedup(
    documents: DataFrame,
    url_col: str = "url",
    canon_col: str = "canonical_href",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-URL consolidation via <link rel=canonical> (RFC 6596) —
    the crawl-native dedup layer that collapses print/mobile/tracking-URL
    variants BEFORE any content hashing: every document resolves to its
    declared canonical target (the ``canon_col`` produced by
    parse.parse_documents(html_meta=True), already cleaned against the
    page URL by the caller, null → the page is its own canonical), and
    each canonical group keeps ONE representative — the page whose URL IS
    the target if the group contains it (the canonical page itself), else
    the smallest URL (deterministic).

    Scale shape: one hash-shuffle on the canonical-target string (the
    dedup key — never the body), one window pass per group; group sizes
    are site-bounded (variants of one page), so no cap is needed the way
    LSH buckets need one.

    Output: one row per kept document —
    (id_col, url, canonical_url, n_variants, is_canonical_self)."""
    from pyspark.sql.window import Window

    target = F.coalesce(F.col(canon_col), F.col(url_col))
    base = documents.select(
        F.col(id_col), F.col(url_col).alias("url"), target.alias("canonical_url")
    ).withColumn("_self", F.col("url") == F.col("canonical_url"))
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("_self").desc(), F.col("url")
    )
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_variants", F.count(F.lit(1)).over(Window.partitionBy("canonical_url")))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            "url",
            "canonical_url",
            "n_variants",
            F.col("_self").alias("is_canonical_self"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted MinHash LSH index — incremental dedup without rescanning the corpus
# ---------------------------------------------------------------------------


def _band_rows(
    with_sig: DataFrame,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(_id, band, band_sig) rows — the banding step shared by the batch
    ``lsh_candidates`` and the persisted-index build/probe paths."""
    return with_sig.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {num_bands - 1}), "
                f"b -> concat_ws('|', slice(minhash, b * {rows_per_band} + 1, {rows_per_band})))"
            )
        ).alias("band", "band_sig"),
    )


def _cap_buckets(bands: DataFrame, max_bucket: int | None) -> DataFrame:
    if max_bucket is None:
        return bands
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "band_sig").orderBy("_id")
    return (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


_SHINGLE_PARTS = 8


def build_minhash_index(
    catalog,
    corpus: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    num_bands: int = 4,
    stride: int = 1,
    max_bucket: int | None = 50,
    prefix: str = "mh",
) -> None:
    """Persist the corpus side of MinHash+LSH dedup into the snapshot
    catalog — the build-once half of incremental deduplication:

      {prefix}_buckets   (p=band, band, band_sig, id)  — LSH bucket rows,
                         PARTITIONED BY BAND, capped per (band, band_sig)
                         at ``max_bucket`` lowest ids (the batch
                         ``lsh_candidates`` keep-rule, applied at build so
                         a boilerplate mega-bucket is paid down once).
      {prefix}_shingles  (p=hash(id)%{_SHINGLE_PARTS}, id, shingles) —
                         the shingle sets candidate verification needs.

    The at-scale payoff: deduping a daily crawl increment against a 100 TB
    corpus becomes a join of the increment's bucket rows against this
    index — the corpus text is never rescanned, signatures are never
    recomputed, and the bucket join is keyed on (band, band_sig) with both
    sides capped. Feed survivors back with :func:`extend_minhash_index`.
    """
    sigs = add_minhash(
        corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        "text", k, num_hashes, stride,
    ).persist()
    bands = _cap_buckets(
        _band_rows(sigs, "id", num_bands, num_hashes // num_bands), max_bucket
    )
    catalog.create(
        f"{prefix}_buckets",
        bands.select(F.col("band").alias("p"), "band", "band_sig", F.col("_id").alias("id")),
        num_bands,
        properties={"k": k, "num_hashes": num_hashes, "num_bands": num_bands,
                    "stride": stride, "max_bucket": max_bucket or 0},
    )
    catalog.create(
        f"{prefix}_shingles",
        sigs.select(
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(_SHINGLE_PARTS))
            .cast("int").alias("p"),
            "id", "shingles",
        ),
        _SHINGLE_PARTS,
    )
    sigs.unpersist()


def minhash_index_near_dups(
    catalog,
    new_docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    num_bands: int = 4,
    stride: int = 1,
    max_bucket: int | None = 50,
    threshold: float = 0.0,
    prefix: str = "mh",
) -> DataFrame:
    """Near-dups of ``new_docs`` against the persisted index AND within the
    increment itself, with exact-Jaccard verification — the query half of
    incremental dedup. Shingle/hash parameters must match the build (they
    are stamped in the buckets table's snapshot properties at build, and
    every later snapshot, e.g. an extend, carries them forward).

    Semantics: the increment's bucket rows are capped per (band, band_sig)
    by lowest id (same rule as the build); candidates are
    (new × indexed) ∪ (new × new, a < b); each candidate pair is verified
    with exact shingle Jaccard. Id spaces of corpus and increment must be
    disjoint. When no bucket cap binds, the result equals the batch
    pipeline over corpus ∪ increment restricted to pairs touching the
    increment — the equivalence the test suite pins.

    Output: (new_id, match_id, side 'index'|'batch', jaccard) with
    jaccard >= threshold.
    """
    sigs_new = add_minhash(
        new_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        "text", k, num_hashes, stride,
    ).persist()
    bands_new = _cap_buckets(
        _band_rows(sigs_new, "id", num_bands, num_hashes // num_bands), max_bucket
    )
    old = catalog.read(f"{prefix}_buckets").select("band", "band_sig", F.col("id").alias("match_id"))
    pairs_old = (
        bands_new.join(old, on=["band", "band_sig"])
        .select(F.col("_id").alias("new_id"), "match_id")
        .distinct()
        .withColumn("side", F.lit("index"))
    )
    rhs = bands_new.select("band", "band_sig", F.col("_id").alias("match_id"))
    pairs_new = (
        bands_new.join(rhs, on=["band", "band_sig"])
        .filter(F.col("_id") < F.col("match_id"))
        .select(F.col("_id").alias("new_id"), "match_id")
        .distinct()
        .withColumn("side", F.lit("batch"))
    )
    pairs = pairs_old.unionByName(pairs_new)
    sh_new = sigs_new.select(F.col("id").alias("new_id"), F.col("shingles").alias("sh_a"))
    # dropDuplicates on the verification side makes the OUTPUT invariant
    # under duplicated index rows — a replayed streaming extend appends the
    # same (id, shingles) rows again; pairs are already distinct, and this
    # keeps the verify join from fanning out on them
    sh_old = (
        catalog.read(f"{prefix}_shingles")
        .select(F.col("id").alias("match_id"), F.col("shingles").alias("sh_b"))
        .unionByName(
            sigs_new.select(F.col("id").alias("match_id"), F.col("shingles").alias("sh_b"))
        )
        .dropDuplicates(["match_id"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        pairs.join(sh_new, "new_id")
        .join(sh_old, "match_id")
        .select(
            "new_id", "match_id", "side",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def extend_minhash_index(
    catalog,
    new_docs: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    num_bands: int = 4,
    stride: int = 1,
    max_bucket: int | None = 50,
    prefix: str = "mh",
) -> None:
    """Append the (deduped) increment to the index — a new catalog
    snapshot, old files untouched. Per-bucket caps respect what is already
    stored: a new row lands only while existing_count + its rank stays
    within ``max_bucket`` (so the keep-set stays deterministic under the
    build's lowest-id-first rule across increments)."""
    sigs = add_minhash(
        new_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        "text", k, num_hashes, stride,
    ).persist()
    bands = _band_rows(sigs, "id", num_bands, num_hashes // num_bands)
    if max_bucket is not None:
        from pyspark.sql.window import Window

        counts = (
            catalog.read(f"{prefix}_buckets")
            .groupBy("band", "band_sig")
            .agg(F.count(F.lit(1)).alias("_have"))
        )
        w = Window.partitionBy("band", "band_sig").orderBy("_id")
        bands = (
            bands.withColumn("_rn", F.row_number().over(w))
            .join(counts, ["band", "band_sig"], "left")
            .filter(F.col("_rn") + F.coalesce(F.col("_have"), F.lit(0)) <= max_bucket)
            .drop("_rn", "_have")
        )
    catalog.merge_write(
        f"{prefix}_buckets",
        bands.select(F.col("band").alias("p"), "band", "band_sig", F.col("_id").alias("id")),
        replace_parts=(),
    )
    catalog.merge_write(
        f"{prefix}_shingles",
        sigs.select(
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(_SHINGLE_PARTS))
            .cast("int").alias("p"),
            "id", "shingles",
        ),
        replace_parts=(),
    )
    sigs.unpersist()

"""The URL-seen blob layer: Spark plumbing written once over any filter kernel.

A kernel is a frozen spec (``bloom.BloomSpec``, ``cuckoo.CuckooSpec``) plus
the per-partition filter its ``new()`` / ``load(...)`` return. The spec
sizes (``for_capacity``, ``fit``), tests saturation (``saturated``) and
turns a ``url_seen`` blob row into a filter; the filter does
``insert`` (returning how many keys it could not hold), ``contains``,
``fill_stats`` and ``row``, and ``delete`` when the spec is ``deletable``.
Everything here is numpy inside Arrow-batched ``applyInPandas`` /
``cogroup`` / ``mapInPandas`` (no per-row Python on the probe path), and
nothing here knows which kernel it runs.

Blobs are one row per partition in ``BLOB_SCHEMA``. Residency is the
frontier's choice: ``collect_blobs`` holds them on the driver when the set
fits a byte budget (broadcast probe, in-place insert, in-process fill
stats); beyond it they stay table-resident (cogroup probe, cogroup merge,
one distributed fill-stats pass).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

BLOB_SCHEMA = StructType(
    [
        StructField("p", IntegerType(), False),
        StructField("filter", BinaryType(), True),
        StructField("n_items", LongType(), False),
        StructField("m_bits", LongType(), False),
        StructField("k_hashes", IntegerType(), False),
    ]
)
_BLOB_COLS = [f.name for f in BLOB_SCHEMA.fields]

FILL_STATS_SCHEMA = StructType(
    [
        StructField("p", IntegerType(), False),
        StructField("n_items", LongType(), False),
        StructField("m_bits", LongType(), False),
        StructField("k_hashes", IntegerType(), False),
        StructField("fill_ratio", DoubleType(), False),
        StructField("est_keys", DoubleType(), False),
        StructField("est_fpp", DoubleType(), False),
    ]
)


def _blob_frame(p: int, f) -> pd.DataFrame:
    return pd.DataFrame([(p, *f.row())], columns=_BLOB_COLS)


def _load(spec, r):
    """The filter of one blob row (a Spark Row or a pandas row)."""
    return spec.load(r["filter"], int(r["n_items"]), int(r["m_bits"]), int(r["k_hashes"]))


def by_partition(parts: np.ndarray, hashes: np.ndarray) -> Iterator[tuple[int, np.ndarray]]:
    for part in np.unique(parts):
        yield int(part), hashes[parts == part]


def build_blobs(rows: DataFrame, spec, sizes: dict | None = None) -> DataFrame:
    """One blob per partition from (p, url_hash) rows — the O(frontier)
    build. ``sizes`` maps a partition to its own spec (a grow gives each
    partition growth × ITS OWN key count: under host skew the loads differ
    10-100x); other partitions use ``spec``. Each partition's spec is then
    ``fit`` to the partition's actual key count."""
    sizes = dict(sizes or {})

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["p"].iloc[0])
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        f = sizes.get(p, spec).fit(len(h)).new()
        f.insert(h)
        return _blob_frame(p, f)

    return rows.select("p", "url_hash").groupBy("p").applyInPandas(make, BLOB_SCHEMA)


def merge_blobs(existing: DataFrame, new_rows: DataFrame, spec) -> DataFrame:
    """Insert new (p, url_hash) keys into per-partition blobs (incremental
    wave update; rebuilding from the full frontier every wave would be
    O(frontier)). Partitions present only on one side pass through / are
    created from ``spec``; an existing blob keeps its own size.

    Returns BLOB_SCHEMA rows plus ``unplaced``: keys the kernel could not
    hold. A blob with unplaced keys has false negatives, so the caller must
    not leave it committed (the frontier observes the column on the write
    and rebuilds at once)."""
    schema = StructType(BLOB_SCHEMA.fields + [StructField("unplaced", LongType(), False)])

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        h = right["url_hash"].to_numpy(dtype=np.int64)
        f = _load(spec, left.iloc[0]) if len(left) else spec.fit(len(h)).new()
        unplaced = f.insert(h)
        out = _blob_frame(int(key[0]), f)
        out["unplaced"] = unplaced
        return out

    return (
        existing.select(*_BLOB_COLS).groupBy("p")
        .cogroup(new_rows.select("p", "url_hash").groupBy("p"))
        .applyInPandas(merge, schema)
    )


def collect_blobs(blobs: DataFrame, spec, max_bytes: int = 512 << 20) -> dict | None:
    """The blob set as driver-held filters {p: filter}, or None when it
    exceeds ``max_bytes`` (callers keep it table-resident).

    The budget is enforced with a distributed aggregate BEFORE any
    ``.collect()``: at the multi-GB scales the budget exists for, collecting
    first and summing on the driver would OOM the driver heap before the
    check ever ran."""
    total = blobs.agg(F.sum(F.length(F.col("filter"))).alias("total_bytes")).first()
    if int(total["total_bytes"] or 0) > max_bytes:
        return None
    return {int(r["p"]): _load(spec, r) for r in blobs.select(*_BLOB_COLS).collect()}


def insert_inplace(filters: dict, parts: np.ndarray, hashes: np.ndarray, spec) -> int:
    """Insert new (p, url_hash) keys into driver-held filters, creating
    filters for unseen partitions from ``spec``. The steady-state wave path:
    the driver already holds the filters for the broadcast probe, so this
    costs no Spark job. Returns the number of keys the kernel could not
    hold."""
    unplaced = 0
    for part, keys in by_partition(parts, hashes):
        f = filters.get(part)
        if f is None:
            f = filters[part] = spec.fit(len(keys)).new()
        unplaced += f.insert(keys)
    return unplaced


def probe_broadcast(candidates: DataFrame, filters: dict) -> DataFrame:
    """Tag candidates with ``maybe_seen`` against driver-held filters:
    broadcast them and probe map-side with a scalar pandas UDF, so the
    candidate rows never move. False ⇒ definitely not in the frontier;
    True ⇒ must be checked exactly. A partition without a filter is
    definitely new."""
    bc = candidates.sparkSession.sparkContext.broadcast(filters)

    def probe(p: pd.Series, h: pd.Series) -> pd.Series:
        table = bc.value
        out = np.zeros(len(p), dtype=bool)
        pv = p.to_numpy(dtype=np.int64)
        hv = h.to_numpy(dtype=np.int64)
        for part in np.unique(pv):
            f = table.get(int(part))
            if f is not None:
                mask = pv == part
                out[mask] = f.contains(hv[mask])
        return pd.Series(out)

    probe_udf = pandas_udf(probe, BooleanType())
    return candidates.withColumn("maybe_seen", probe_udf(F.col("p"), F.col("url_hash")))


def probe_cogroup(candidates: DataFrame, blobs: DataFrame, spec) -> DataFrame:
    """``probe_broadcast`` for table-resident blobs: cogroup by partition so
    each Arrow group pairs the candidate batch with its one (or zero) blob —
    the blob is never replicated per row."""
    out_schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType(), False)]
    )
    cand_cols = [f.name for f in candidates.schema.fields]

    def test(key, cand: pd.DataFrame, blob: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame(columns=cand_cols + ["maybe_seen"])
        cand = cand.copy()
        if len(blob):
            cand["maybe_seen"] = _load(spec, blob.iloc[0]).contains(cand["url_hash"].to_numpy(dtype=np.int64))
        else:
            cand["maybe_seen"] = False
        return cand

    return (
        candidates.groupBy("p")
        .cogroup(blobs.select(*_BLOB_COLS).groupBy("p"))
        .applyInPandas(test, out_schema)
    )


def fill_stats(blobs: DataFrame, spec) -> DataFrame:
    """Saturation stats of table-resident blobs (FILL_STATS_SCHEMA rows) —
    one distributed pass; only the 7-column stat row per blob comes back."""
    cols = [f.name for f in FILL_STATS_SCHEMA.fields]

    def stats(batches):
        for pdf in batches:
            rows = [
                dict(_load(spec, r).fill_stats(), p=int(r["p"]))
                for _, r in pdf.iterrows()
            ]
            if rows:
                yield pd.DataFrame(rows)[cols]

    return blobs.select(*_BLOB_COLS).mapInPandas(stats, FILL_STATS_SCHEMA)

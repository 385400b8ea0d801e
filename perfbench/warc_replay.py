"""warc_replay: replay a per-record-gzip ``.warc.gz`` archive into a documents
table, then discover the archive's links.

Set-up writes the archive with ``write_warc_gz`` from a corpus with ~12 kB
page bodies. One pass is ``documents_from_warc_binary`` written through
``SnapshotCatalog`` (the write runs the gzip record walker, the charset
decode and the span-parse UDF), then ``discover_links`` over the written
table, forced by an aggregate over every candidate column. The frontier is
not involved.

Every timed pass must materialize its layer's output: a plain ``count()``
over the replay lets Spark prune the span UDF. Gates: spans of a fixed
document sample equal the html.parser oracle (kind, text, media_ref,
order), the spans checksum is the same on every pass, and the candidate
checksum is the same on every pass.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

from .common import Clock, cpu_count, snapshot_total

N_HOSTS = 16
BASE_PAGES = 600
EXTRA_TEXT_RUNS = 30
SAMPLE_PAGES_PER_HOST = 3
SETUP_REPS = 3
DOCUMENTS = "documents"


def build_archive(spark, seed: int, path: str, n_hosts: int = N_HOSTS, base_pages: int = BASE_PAGES):
    """Write the seed's page corpus as a .warc.gz archive under ``path``.
    Returns the pages (url, page_id, body:binary, ...) the archive was
    written from, persisted; the caller unpersists them."""
    from pyspark.sql import functions as F

    from kermit_spark.corpus import CorpusSpec, build_corpus
    from kermit_spark.warc import write_warc_gz

    spec = CorpusSpec(
        seed=seed, n_hosts=n_hosts, base_pages=base_pages, extra_text_runs=EXTRA_TEXT_RUNS
    )
    pages = (
        build_corpus(spark, spec)
        .filter(F.col("kind") == "page")
        .select(
            "url",
            "page_id",
            F.lit(0).alias("wave"),
            "status",
            "content_type",
            F.col("body").cast("binary").alias("body"),
        )
        .coalesce(cpu_count())
        .persist()
    )
    write_warc_gz(pages, path)
    return pages


def replay_pass(spark, catalog, archive: str, first: bool, span=nullcontext) -> dict:
    """One timed pass: replay the archive into the documents table and
    discover its links. Returns the candidate count and checksum. ``span``
    opens a named trace span (a no-op unless the run is traced)."""
    from pyspark.sql import functions as F

    from kermit_spark.parse import discover_links
    from kermit_spark.warc import documents_from_warc_binary

    n = cpu_count()
    docs = documents_from_warc_binary(spark, archive, num_partitions=n)
    if first:
        catalog.create(DOCUMENTS, docs, n)
    else:
        catalog.overwrite_partitions(DOCUMENTS, docs, range(n))
    with span("parse.discover_links"):
        cands = discover_links(catalog.read(DOCUMENTS))
        # bit_xor, not sum: sum of 64-bit hashes overflows under ANSI mode
        agg = cands.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("url", "referer", "depth", "priority")).alias("h"),
        ).first()
    return {"candidates": int(agg["n"]), "candidates_xor": int(agg["h"] or 0)}


def table_digest(catalog) -> dict:
    """Record count, span count and spans checksum of the documents table."""
    from pyspark.sql import functions as F

    d = catalog.read(DOCUMENTS).agg(
        F.count(F.lit(1)).alias("records"),
        F.sum(F.size("spans")).alias("spans"),
        F.bit_xor(F.xxhash64("url", "spans")).alias("h"),
    ).first()
    return {"records": int(d["records"]), "spans": int(d["spans"] or 0), "spans_xor": int(d["h"] or 0)}


def sample_mismatches(catalog, bodies: dict[str, str]) -> int:
    """Documents in ``bodies`` whose stored spans differ from the oracle's."""
    from pyspark.sql import functions as F

    from oracle import extract_spans_oracle

    rows = (
        catalog.read(DOCUMENTS)
        .filter(F.col("url").isin(list(bodies)))
        .select("url", "spans")
        .collect()
    )
    got = {r["url"]: [tuple(s) for s in (r["spans"] or [])] for r in rows}
    return sum(got.get(u) != extract_spans_oracle(b) for u, b in bodies.items())


def run(spark, seed: int, seconds: float, work_dir: str, run_ops, span=nullcontext) -> dict:
    from pyspark.sql import functions as F

    from kermit_spark.catalog import SnapshotCatalog

    setup_s = []
    archive = pages = None
    for rep in range(SETUP_REPS):
        clock = Clock()
        if pages is not None:
            pages.unpersist()
        archive = os.path.join(work_dir, f"archive{rep}")
        pages = build_archive(spark, seed, archive)
        setup_s.append(clock.lap())
    catalog = SnapshotCatalog(spark, os.path.join(work_dir, "replay"))

    # fixed sample: the first pages of every host, with the bodies the
    # archive was written from
    expected_records = pages.count()
    bodies = {
        r["url"]: bytes(r["body"]).decode("utf-8")
        for r in pages.filter(F.col("page_id") < SAMPLE_PAGES_PER_HOST).select("url", "body").collect()
    }
    pages.unpersist()
    first_digest: dict = {}
    snaps = {"n": 0}

    def pass_(i: int) -> dict:
        return replay_pass(spark, catalog, archive, first=(i == 0), span=span)

    def check(rec: dict) -> bool:
        rec.update(table_digest(catalog))
        rec["docs"] = rec["records"]
        rec["urls"] = rec["candidates"]
        rec["spans_per_doc"] = rec["spans"] / rec["records"]
        rec["candidates_per_doc"] = rec["candidates"] / rec["records"]
        total = snapshot_total(catalog)
        rec["snapshots"], snaps["n"] = total - snaps["n"], total
        rec["sample_mismatches"] = sample_mismatches(catalog, bodies)
        ref = first_digest.setdefault("ref", rec)
        return (
            rec["records"] == expected_records
            and rec["sample_mismatches"] == 0
            and rec["spans_xor"] == ref["spans_xor"]
            and rec["candidates_xor"] == ref["candidates_xor"]
        )

    ops = run_ops(pass_, seconds, check)
    return {
        "ops": ops,
        "setup_s": setup_s,
        "detail": {"records": expected_records, "sample_docs": len(bodies)},
    }

"""The timed warc_replay operation must run the span-parse UDF.

A ``count()`` over ``documents_from_warc_binary`` lets Spark prune the span
UDF and measures only the record walker, so a replay pass that stopped
materializing its documents would still look healthy by wall time. This
test runs one pass over a small archive and requires that the pass itself
left a documents table whose spans equal the html.parser oracle for every
page.

    python3 -m pytest perfbench/test_warc_replay.py -q   (from the repo root)
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from perfbench import common, warc_replay  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = common.build_spark(str(tmp_path_factory.mktemp("spark")))
    yield session
    common.stop_spark(session)


def test_replay_pass_materializes_spans(spark, tmp_path):
    from kermit_spark.catalog import SnapshotCatalog

    archive = str(tmp_path / "archive")
    pages = warc_replay.build_archive(spark, seed=7, path=archive, n_hosts=3, base_pages=8)
    bodies = {r["url"]: bytes(r["body"]).decode("utf-8") for r in pages.collect()}
    pages.unpersist()
    catalog = SnapshotCatalog(spark, str(tmp_path / "replay"))

    out = warc_replay.replay_pass(spark, catalog, archive, first=True)

    assert catalog.exists(warc_replay.DOCUMENTS), "the pass wrote no documents table"
    digest = warc_replay.table_digest(catalog)
    assert digest["records"] == len(bodies)
    assert digest["spans"] > digest["records"]
    assert warc_replay.sample_mismatches(catalog, bodies) == 0
    assert out["candidates"] > 0

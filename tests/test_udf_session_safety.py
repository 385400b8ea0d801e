"""Module-level pandas UDFs must survive a SparkContext restart.

Reproduces a real failure observed in bench runs: ``bench.py`` stops the
AQE-off crawl session and opens a fresh AQE-on session in the SAME Python
process. A plain module-level ``pandas_udf`` caches its JVM-side
UserDefinedPythonFunction on first use, and that cache embeds the creating
context's PythonAccumulatorV2 socket — reused in the second session it
spams ``ERROR DAGScheduler: Failed to update accumulator 0`` (EOF/broken
pipe) on every task completion. ``kermit_spark.udf.SessionSafeUdf``
invalidates the cache when the active context changes; these tests pin
both the mechanism (cheap, shared session) and the end-to-end absence of
the error storm (subprocess with two real sessions).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from kermit_spark.udf import SessionSafeUdf, session_safe_pandas_udf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_wrapper_exposes_func_and_builds_column(spark):
    # local def: cloudpickle serializes it by value, so executor processes
    # don't need to import this test module
    def _upper_series(s: pd.Series) -> pd.Series:
        return s.str.upper()

    u = session_safe_pandas_udf(_upper_series, StringType())
    assert isinstance(u, SessionSafeUdf)
    assert u.func is _upper_series
    col = u(F.col("x"))
    assert isinstance(col, Column)
    df = spark.createDataFrame([("ab",), ("cd",)], ["x"])
    assert [r["y"] for r in df.select(u(F.col("x")).alias("y")).collect()] == [
        "AB",
        "CD",
    ]


def test_wrapper_rebuilds_on_context_change(spark):
    u = session_safe_pandas_udf(lambda s: s.str.upper(), StringType())
    u(F.lit("a"))
    first = u._udf
    assert first is not None
    # same context -> cached UDF object is reused (no rebuild per call)
    u(F.lit("b"))
    assert u._udf is first
    # simulate a context swap: identity mismatch must force a rebuild
    u._ctx = object()
    u(F.lit("c"))
    assert u._udf is not first


def test_module_udfs_are_session_safe():
    """The UDFs that live at module scope (and therefore outlive any one
    SparkContext) must all be wrapped."""
    from kermit_spark.functions import urls
    from kermit_spark import parse
    from kermit_spark.ops import text

    for obj in (
        urls.clean_urls,
        urls.normalize_urls,
        urls.to_local_path,
        parse.extract_spans,
        text.winnow_fingerprint,
    ):
        assert isinstance(obj, SessionSafeUdf), obj


def test_worker_task_rereads_no_zip_directory(spark):
    """PySpark invalidates the import caches at the start of every Python
    task; on CPython < 3.13 each cached zipimporter then re-reads its
    archive's directory (16 reads of pyspark.zip, the py4j zip and the
    spark-core jar, ~0.25 CPU-s per task). Once a worker has imported the
    engine, a second pandas-UDF job re-reads no unchanged archive."""
    import sys

    from pyspark.sql.functions import pandas_udf

    # local def: cloudpickle ships it by value (see the first test)
    def zip_probe(s: pd.Series) -> pd.Series:
        """Whether this worker already ran with the stamped invalidator,
        how many archive directories one ``importlib.invalidate_caches()``
        (what ``setup_spark_files`` calls per task) re-reads, and how many
        zip archives the worker imports from."""
        import importlib
        import sys
        import zipimport

        warm = zipimport.zipimporter.invalidate_caches.__module__ == "kermit_spark.udf"
        import kermit_spark  # noqa: F401  (what unpickling an engine UDF does)

        reads = 0
        read_directory = zipimport._read_directory

        def counting(archive):
            nonlocal reads
            reads += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        archives = {
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        return pd.Series([f"{int(warm)} {reads} {len(archives)}"] * len(s))

    probe = pandas_udf(zip_probe, StringType())
    df = spark.range(4).repartition(4).select(F.col("id").cast("string").alias("x"))
    df.select(probe("x")).collect()  # first job: workers import the engine
    rows = [tuple(map(int, r[0].split())) for r in df.select(probe("x")).collect()]
    warm = [(reads, archives) for was_warm, reads, archives in rows if was_warm]
    if sys.version_info >= (3, 13):  # zipimport re-reads lazily; left unpatched
        assert all(reads == 0 for _, reads, _ in rows), rows
        return
    assert warm, rows  # reused workers kept the stamped invalidator
    assert all(archives > 0 for _, archives in warm), rows
    assert all(reads == 0 for reads, _ in warm), rows


def test_zip_directory_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """The stamped invalidator still picks up an archive that changed on
    disk (a re-added ``addPyFile`` zip) and skips one that did not."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import kermit_spark.udf  # noqa: F401  (installs the invalidator)

    archive = tmp_path / "addon.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("ks_addon_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("ks_addon_a").X == 1
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        # the first call stamps the archive, the second finds it unchanged
        assert reads.count(str(archive)) == 1, reads
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("ks_addon_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("ks_addon_b").Y == 2
    for name in ("ks_addon_a", "ks_addon_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def test_no_accumulator_error_storm_across_sessions(tmp_path):
    """Two sequential sessions in one process, each running a full crawl
    wave (the bench.py session pattern): the second session's jobs must not
    log 'Failed to update accumulator' (the stale-socket storm).

    The crawl — not a bare UDF call — is the load-bearing repro: the JVM
    only flushes Python-accumulator blobs for tasks whose workers carry a
    non-empty accumulator registry, which the crawl path does and a plain
    select(udf(col)) does not. Measured on the pre-fix tree: this exact
    scenario logs 69+ DAGScheduler accumulator errors; 0 after the fix."""
    script = tmp_path / "two_sessions.py"
    script.write_text(
        textwrap.dedent(
            """
            import shutil, tempfile
            from kermit_spark.session import build_session
            from kermit_spark.catalog import SnapshotCatalog
            from kermit_spark.corpus import CorpusSpec, build_corpus
            from kermit_spark.crawler import Crawler, CrawlConfig
            from kermit_spark.fetch import CorpusFetcher
            from kermit_spark.frontier import Limit, Politeness

            SPEC = CorpusSpec(n_hosts=4, base_pages=12, media_id_space=10)

            def run(tag):
                spark = build_session(
                    app_name=f"udf-safety-{tag}", master="local[2]",
                    shuffle_partitions=2,
                )
                spark.sparkContext.setLogLevel("ERROR")
                corpus = build_corpus(spark, SPEC)
                root = tempfile.mkdtemp(prefix=f"udfsafe_{tag}_")
                cfg = CrawlConfig(
                    num_partitions=2,
                    politeness=Politeness((Limit(r".*", 20),)),
                )
                c = Crawler(
                    spark, SnapshotCatalog(spark, root),
                    CorpusFetcher(corpus), cfg,
                )
                c.seed([f"http://h{i}.test/p/0.html" for i in range(2)])
                c.crawl(1)
                n = c.documents().count()
                spark.stop()
                shutil.rmtree(root, ignore_errors=True)
                return n

            a = run("one")
            b = run("two")
            assert a == b == 2, (a, b)
            print("RESULTS_OK")
            """
        )
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULTS_OK" in proc.stdout
    assert "Failed to update accumulator" not in proc.stderr

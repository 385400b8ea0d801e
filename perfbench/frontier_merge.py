"""frontier_merge: rounds of ``frontier.dequeue`` + ``Frontier.commit_wave``
+ ``Frontier.flush_bloom`` against a pre-built frontier with one hot host.

The frontier holds INIT_ROWS URLs, 30% of them on one host and the rest
spread over SPREAD_HOSTS hosts. Each round dequeues a per-host budget,
forced by the same per-(p, host) count collect the crawler uses, then
commits one wave that marks the dequeued rows visited and offers
CANDIDATES URLs, half of them already in the frontier. There is no fetch,
parse or robots work: the round is the Bloom-path dedup, the salted top-k
over a hot host and the merge write of touched partitions.

The engine turns the Bloom path on at 1M frontier rows; a frontier that big
takes longer to build than one benchmark run may spend, so this workload
lowers the threshold (the public ``bloom_min_frontier`` argument) below its
frontier size instead. Gates: exactly CANDIDATES / 2 new URLs per round,
final row count = init + sum of new rows, no duplicate (p, url_hash, url).
"""

from __future__ import annotations

import os
from contextlib import nullcontext

from .common import Clock, cpu_count, snapshot_total

INIT_ROWS = 300_000
CANDIDATES = 60_000
SPREAD_HOSTS = 20_000
HOT_SHARE_TENTHS = 3
BUDGET = 2
BLOOM_MIN_FRONTIER = 100_000
SETUP_REPS = 3
# traced runs also print the Bloom-path per-layer metrics (see run.py)
LAYER_EXTRAS = True


def _urls(spark, lo: int, hi: int, salt: int):
    """URL ids [lo, hi): the seed salts which host each id lands on."""
    from pyspark.sql import functions as F

    mix = F.xxhash64(F.col("id"), F.lit(salt))
    host = F.when(
        F.pmod(mix, F.lit(10)) < HOT_SHARE_TENTHS, F.lit("hot.test")
    ).otherwise(
        F.concat(
            F.lit("h"),
            F.pmod(F.xxhash64(mix), F.lit(SPREAD_HOSTS)).cast("string"),
            F.lit(".test"),
        )
    )
    return spark.range(lo, hi).select(
        F.concat(
            F.lit("http://"), host, F.lit("/p/"), F.col("id").cast("string"), F.lit(".html")
        ).alias("url")
    )


def run(spark, seed: int, seconds: float, work_dir: str, run_ops, span=nullcontext) -> dict:
    from pyspark.sql import functions as F

    from kermit_spark import frontier as fmod
    from kermit_spark.catalog import SnapshotCatalog

    n = cpu_count()
    politeness = fmod.Politeness((fmod.Limit(r".*", BUDGET),))
    setup_s = []
    fr = catalog = None
    for rep in range(SETUP_REPS):
        clock = Clock()
        catalog = SnapshotCatalog(spark, os.path.join(work_dir, f"frontier{rep}"))
        fr = fmod.Frontier(catalog, num_partitions=n, bloom_min_frontier=BLOOM_MIN_FRONTIER)
        fr.init(_urls(spark, 0, INIT_ROWS, seed))
        setup_s.append(clock.lap())

    # seen-filter health after each round, from the public seen_fill_stats()
    # and bloom_spec; an auto-grow replaces bloom_spec with a larger one
    state = {"snaps": snapshot_total(catalog), "m_bits": fr.bloom_spec.m_bits, "grows": 0}

    def round_(i: int) -> dict:
        with span("frontier.dequeue"):
            eligible = fr.read().filter(F.col("status") == fmod.SCHEDULED)
            selected = fmod.dequeue(eligible, politeness, sub_salts=4).persist()
            per_host = selected.groupBy("p", "host").count().collect()
        n_sel = sum(r["count"] for r in per_host)
        updates = selected.select(
            "p", "url_hash", "url", F.lit(fmod.VISITED).alias("new_status")
        )
        lo = INIT_ROWS + i * (CANDIDATES // 2) - CANDIDATES // 2
        cands = _urls(spark, lo, lo + CANDIDATES, seed)
        n_new = fr.commit_wave(
            updates, cands, wave=i + 1, properties={"wave": i + 1},
            updates_parts=sorted({r["p"] for r in per_host}),
        )
        fr.flush_bloom()
        selected.unpersist()
        return {
            "urls": n_sel + CANDIDATES,
            "docs": n_sel + n_new,
            "selected": n_sel,
            "new": n_new,
        }

    def check(rec: dict) -> bool:
        if fr.bloom_spec.m_bits != state["m_bits"]:
            state["grows"] += 1
            state["m_bits"] = fr.bloom_spec.m_bits
        stats = fr.seen_fill_stats().values()
        rec["bloom_worst_est_fpp"] = max((s["est_fpp"] for s in stats), default=0.0)
        rec["bloom_max_fill"] = max((s["fill_ratio"] for s in stats), default=0.0)
        rec["bloom_grow_events"] = state["grows"]
        rec["new_ratio"] = rec["new"] / CANDIDATES
        total = snapshot_total(catalog)
        rec["snapshots"], state["snaps"] = total - state["snaps"], total
        return rec["new"] == CANDIDATES // 2

    ops = run_ops(round_, seconds, check)

    done = [r for r in ops if "new" in r]
    rows = fr.read()
    n_rows = rows.count()
    dupes = rows.groupBy("p", "url_hash", "url").count().filter(F.col("count") > 1).limit(1).count()
    n_visited = rows.filter(F.col("status") == fmod.VISITED).count()
    end_ok = (
        n_rows == INIT_ROWS + sum(r["new"] for r in done)
        and dupes == 0
        and n_visited == sum(r["selected"] for r in done)
    )
    if not end_ok and ops:
        ops[-1]["ok"] = False
    return {
        "ops": ops,
        "setup_s": setup_s,
        "detail": {
            "init_rows": INIT_ROWS,
            "final_rows": n_rows,
            "visited": n_visited,
            "bloom_m_bits": fr.bloom_spec.m_bits,
        },
    }

"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is a JSON detail record (per-op walls, hypervisor steal, gate outcomes,
sample counts). A traced run also writes its spans to
``.perfbench/trace-<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_waves", "frontier_merge", "warc_replay")
# steady ops every run makes at least, and the ones the per-layer numbers are
# taken from: the same ops in every run of a seed, so job, stage and snapshot
# counts repeat exactly
MIN_STEADY_OPS = 1

# per-layer metrics every workload prints (BENCHMARK.json "per_layer"):
# span name -> the per-op totals read from it (see README)
SPAN_METRICS = {
    "crawler.run_wave": ("s", "self_s", "jobs", "stages", "tasks"),
    "frontier.commit_wave": ("s", "self_s", "jobs"),
    "catalog.write.documents": ("s", "jobs"),
    "catalog.merge_write.frontier": ("s",),
    "catalog.write.robots": ("s",),
    "parse.discover_links": ("s", "jobs"),
    "op": ("jobs", "stages"),
}
SETUP_SPANS = ("crawler.seed", "frontier.init")
# per-op values the workloads record -> metric name
OP_METRICS = {
    "cpu_s": ("op.cpu_s", "s"),
    "snapshots": ("catalog.snapshots_per_wave", "count"),
    "spans_per_doc": ("parse.spans_per_doc", "count"),
    "candidates_per_doc": ("parse.candidates_per_doc", "count"),
    "records": ("warc.records", "count"),
}
# extra per-layer metrics of the Bloom-path frontier workload, printed only
# by workloads whose module sets LAYER_EXTRAS
EXTRA_SPAN_METRICS = {
    "frontier.dequeue": ("s", "jobs"),
    "frontier.flush_bloom": ("s", "jobs"),
    "catalog.write.url_seen": ("s",),
}
EXTRA_OP_METRICS = {
    "new_ratio": ("frontier.new_ratio", "ratio"),
    "bloom_worst_est_fpp": ("bloom.worst_est_fpp", "ratio"),
    "bloom_max_fill": ("bloom.max_fill", "ratio"),
    "bloom_grow_events": ("bloom.grow_events", "count"),
}


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _import_program():
    """The engine and the oracle come from the checkout this runs in."""
    root = os.getcwd()
    for p in (root, os.path.join(root, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [root]
    )
    import kermit_spark
    import oracle

    for mod in (kermit_spark, oracle):
        if not os.path.abspath(mod.__file__).startswith(root + os.sep):
            raise ImportError(f"{mod.__name__} comes from {mod.__file__}, not from {root}")


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(ops: list[dict], setup_s: list[float], rss_mb: float) -> dict:
    steady = [r for r in ops[1:] if "urls" in r]
    wall = sum(r["wall_s"] for r in steady)
    return {
        "setup_s": _metric(statistics.median(setup_s), "s"),
        "first_wave_s": _metric(ops[0]["wall_s"], "s"),
        "wave_p50_s": _metric(statistics.median([r["wall_s"] for r in steady]), "s"),
        "urls_per_s": _metric(sum(r["urls"] for r in steady) / wall, "1/s"),
        "docs_per_s": _metric(sum(r["docs"] for r in steady) / wall, "1/s"),
        "peak_rss_mb": _metric(rss_mb, "MB"),
    }


def per_layer(spans: list[dict], ops: list[dict], span_cost_s: float, extras: bool) -> tuple[dict, list[str]]:
    """Per-layer metrics from the spans of steady ops 1..MIN_STEADY_OPS. A layer
    the workload never enters reads 0 and is named in the returned list."""
    layer_ops = ops[1 : 1 + MIN_STEADY_OPS]
    by_op: dict[int, dict[str, dict]] = {r["op"]: {} for r in layer_ops}
    spans_per_op = {i: 0 for i in by_op}
    for rec in spans:
        i = rec["wave"]
        if i not in by_op:
            continue
        spans_per_op[i] += 1
        name = rec["name"]
        if name == "catalog.merge_write.robots":
            name = "catalog.write.robots"  # robots rows land by create or append
        tot = by_op[i].setdefault(name, {"s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0})
        for k in tot:
            tot[k] += rec[k]

    out: dict = {}
    absent = []
    span_metrics = {**SPAN_METRICS, **(EXTRA_SPAN_METRICS if extras else {})}
    for name, fields in span_metrics.items():
        if not any(name in t for t in by_op.values()):
            absent.append(name)
        for f in fields:
            unit = "count" if f in ("jobs", "stages", "tasks") else "s"
            vals = [t.get(name, {}).get(f, 0) for t in by_op.values()]
            out[f"{name}.{f}"] = _metric(statistics.median(vals), unit)
    for name in SETUP_SPANS:
        setup = [r["s"] for r in spans if r["name"] == name and r["wave"] is None]
        if not setup:
            absent.append(name)
        out[f"{name}.s"] = _metric(statistics.median(setup) if setup else 0.0, "s")
    op_metrics = {**OP_METRICS, **(EXTRA_OP_METRICS if extras else {})}
    for key, (name, unit) in op_metrics.items():
        vals = [r[key] for r in layer_ops if key in r]
        if not vals:
            absent.append(name)
        out[name] = _metric(statistics.median(vals) if vals else 0, unit)
    out["trace.overhead_s"] = _metric(statistics.median(list(spans_per_op.values())) * span_cost_s, "s")
    return out, sorted(set(absent))


def _span_cost_s(tracer, n: int = 200) -> float:
    """Driver-side cost of opening and closing one span."""
    t = time.perf_counter()
    for _ in range(n):
        with tracer.span("trace.calibrate"):
            pass
    cost = (time.perf_counter() - t) / n
    del tracer.spans[-n:]
    return cost


def main(argv=None) -> int:
    args = _parse_args(argv)
    try:
        _import_program()
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {os.getcwd()}: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import common
    from perfbench.trace import Tracer, install_engine_spans

    work_dir = os.path.join(os.getcwd(), ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    os.environ["TMPDIR"] = work_dir
    cpu0 = common.cpu_sample()
    clock = common.Clock()
    spark = common.build_spark(work_dir)
    session_s = clock.lap()
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            install_engine_spans(tracer)

        def run_ops(op, seconds, check):
            def traced(i):
                tracer.wave = i
                try:
                    with tracer.span("op"):
                        return op(i)
                finally:
                    tracer.wave = None

            fn = op if tracer is None else traced
            return common.run_ops(fn, seconds, check, min_steady=MIN_STEADY_OPS)

        module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        span = tracer.span if tracer is not None else nullcontext
        res = module.run(spark, args.seed, args.seconds, work_dir, run_ops, span)
        ops = res["ops"]
        rss_py, rss_jvm = common.peak_rss_mb(spark)
        failed = sum(not r["ok"] for r in ops)
        completed = sum(1 for r in ops[1:] if "urls" in r)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": common.cpu_count(),
            "aqe": False,
            "driver_memory": common.DRIVER_MEMORY,
            "session_s": session_s,
            "peak_rss_python_mb": rss_py,
            "peak_rss_jvm_mb": rss_jvm,
            "setup_reps_s": res["setup_s"],
            "ops": ops,
            "steady_samples": completed,
            "fail_ratio": failed / max(1, len(ops)),
            "steal_pct": common.steal_pct(cpu0, common.cpu_sample()),
            **res["detail"],
        }
        ok = failed == 0
        metrics: dict = {}
        if tracer is not None:
            span_cost = _span_cost_s(tracer)
            tracer.unwrap_all()
            spans = tracer.finish()
            extras = getattr(module, "LAYER_EXTRAS", False)
            if completed:
                metrics, detail["absent_layers"] = per_layer(spans, ops, span_cost, extras)
            out_dir = os.path.join(os.getcwd(), ".perfbench")
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"detail": detail, "spans": spans}, f)
        elif completed:
            metrics = end_to_end(ops, res["setup_s"], rss_py + rss_jvm)
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": ok, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

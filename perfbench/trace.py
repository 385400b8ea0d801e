"""In-memory span tracer for the benchmark's traced runs.

Spans are opened around calls into the engine's public entry points (the
engine itself is not changed). Each span records its name, start, end,
parent and the wave id the workload set, and runs its Spark jobs under a
job group of its own, so the job, stage and task counts launched inside a
span are read back from ``SparkContext.statusTracker()`` when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``wrap`` installs spans around engine callables.

    Job groups are thread-local under PySpark's pinned-thread mode (the
    default), and the benchmark drives Spark from one thread, so the group
    of the innermost open span owns every job started while it is open.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.wave: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self._idle_group = "perfbench-idle"
        sc.setJobGroup(self._idle_group, "outside any span")

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "wave": self.wave,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{outer}", self.spans[outer]["name"])
            else:
                self.sc.setJobGroup(self._idle_group, "outside any span")

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``name`` is a string or a function of the call's (args, kwargs)
        returning the span name."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name(args, kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- read-out ------------------------------------------------------------

    def finish(self) -> list[dict]:
        """Attach Spark counts and self times to every closed span. A stage
        that several jobs list (shuffle reuse) is counted once, for the
        first job that lists it, and only if it ran tasks."""
        self._drain_listener_bus()
        tracker = self.sc.statusTracker()
        seen_stages: set[int] = set()
        for rec in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"))
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for st_id in sorted(info.stageIds) if info else ():
                    if st_id in seen_stages:
                        continue
                    seen_stages.add(st_id)
                    st = tracker.getStageInfo(st_id)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            rec["self_jobs"], rec["self_stages"], rec["self_tasks"] = len(jobs), stages, tasks
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        # children close before their parent, so walking in reverse id order
        # sees every child's inclusive counts before the parent needs them
        for rec in reversed(self.spans):
            kids = children.get(rec["id"], [])
            rec["s"] = rec["end"] - rec["start"]
            rec["child_s"] = sum(k["s"] for k in kids)
            rec["self_s"] = rec["s"] - rec["child_s"]
            for key in ("jobs", "stages", "tasks"):
                rec[key] = rec[f"self_{key}"] + sum(k[key] for k in kids)
        return self.spans

    def _drain_listener_bus(self) -> None:
        """Job and stage state reaches the status tracker through Spark's
        asynchronous listener bus; wait until it is empty before reading."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private JVM API: fall back to a short grace wait
            time.sleep(1.0)


def _catalog_span(kind: str):
    def name(args, kwargs):
        table = kwargs.get("table", args[1] if len(args) > 1 else "?")
        return f"catalog.{kind}.{table}"

    return name


def install_engine_spans(tracer: Tracer) -> None:
    """Open a span around each public engine entry point a workload reaches
    that runs Spark work before it returns. ``dequeue``, ``discover_links``
    and ``documents_from_warc_binary`` only build lazy plans: the replay runs
    inside the documents write, and the workloads that force the other two
    open the ``frontier.dequeue`` and ``parse.discover_links`` spans around
    the call and the action that forces it."""
    from kermit_spark import catalog, crawler, frontier

    tracer.wrap(crawler.Crawler, "seed", "crawler.seed")
    tracer.wrap(crawler.Crawler, "run_wave", "crawler.run_wave")
    tracer.wrap(frontier.Frontier, "init", "frontier.init")
    tracer.wrap(frontier.Frontier, "commit_wave", "frontier.commit_wave")
    tracer.wrap(frontier.Frontier, "flush_bloom", "frontier.flush_bloom")
    # create and overwrite_partitions are both whole-partition writes
    tracer.wrap(catalog.SnapshotCatalog, "create", _catalog_span("write"))
    tracer.wrap(catalog.SnapshotCatalog, "overwrite_partitions", _catalog_span("write"))
    tracer.wrap(catalog.SnapshotCatalog, "merge_write", _catalog_span("merge_write"))

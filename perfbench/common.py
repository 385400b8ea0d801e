"""Session sizing, host probes and the closed op loop shared by the workloads."""

from __future__ import annotations

import os
import subprocess
import time
import traceback

# local[N] runs executors inside the driver JVM, so this heap holds the
# engine's cached batches, broadcast blobs and the driver-held Bloom blobs.
# 4g leaves room on a 4-core, 15 GB machine for the Python workers.
DRIVER_MEMORY = "4g"


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def build_spark(work_dir: str):
    """One local session sized for this machine: ``local[nproc]``, as many
    shuffle partitions as cores, AQE off (see README: AQE re-planning
    dominates waves of this size, and a fixed plan keeps job and stage
    counts repeatable), scratch space inside ``work_dir``."""
    from kermit_spark.session import build_session

    os.environ["KERMIT_DRIVER_MEM"] = DRIVER_MEMORY
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    n = cpu_count()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        adaptive=False,
        extra_conf={
            "spark.local.dir": local_dir,
            # C1 only: a run lasts about a minute, most JVM code in it runs
            # few times, and C2 compile threads would compete with the task
            # threads for the same cores. A fixed young generation keeps the
            # JVM's resident size from following G1's adaptive sizing. No
            # perf-data file in /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local_dir} -XX:TieredStopAtLevel=1 -XX:-UsePerfData -Xmn512m"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # the traced run reads job and stage counts back at the end
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the JVM gateway exits once the pipe to its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_sample() -> tuple[int, int] | None:
    """(total jiffies, steal jiffies) from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (default:
    this one) and every live descendant: the JVM, Spark's Python daemon and
    its workers. Exited children count through their parent's cutime and
    cstime."""
    root = os.getpid() if root is None else root
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        # fields after the command name: utime=11, stime=12, cutime=13, cstime=14
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / tick


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[0] <= before[0]:
        return None
    return 100.0 * (after[1] - before[1]) / (after[0] - before[0])


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (VmHWM) of the driver Python process and of its
    JVM, in MB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return _vm_hwm_kb("self") / 1024.0, jvm_kb / 1024.0


class Clock:
    """Lap timer: ``lap()`` returns the seconds since the last lap."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def lap(self) -> float:
        now = time.perf_counter()
        dt, self.t0 = now - self.t0, now
        return dt


def snapshot_total(catalog) -> int:
    """Snapshots retained over every table of a catalog."""
    root = catalog.root
    tables = os.listdir(root) if os.path.isdir(root) else []
    return sum(len(catalog.snapshots(t)) for t in tables)


def run_ops(op, seconds: float, check, min_steady: int) -> list[dict]:
    """Closed loop: call ``op(i)`` one operation at a time. Operation 0 is
    the first (cold) one; steady operations follow until they have run for
    ``seconds`` and at least ``min_steady`` of them finished. ``check(rec)``
    runs untimed after each op and returns False when the op's output is
    wrong. Returns one record per op with ``wall_s`` and ``ok``; an op that
    raises ends the loop, since later ones would build on its state."""
    records: list[dict] = []
    steady_s = 0.0
    i = 0
    while i == 0 or steady_s < seconds or len(records) - 1 < min_steady:
        cpu = tree_cpu_s()
        t = time.perf_counter()
        try:
            rec = op(i)
        except Exception:  # a failed op is counted, not fatal
            traceback.print_exc()
            records.append({"op": i, "wall_s": time.perf_counter() - t, "ok": False})
            return records
        rec["op"] = i
        rec["wall_s"] = time.perf_counter() - t
        rec["cpu_s"] = tree_cpu_s() - cpu
        rec["ok"] = check(rec)
        records.append(rec)
        if i > 0:
            steady_s += rec["wall_s"]
        i += 1
    return records

"""Spark session lifetime and host/process probes for the benchmark.

Stage metrics are read from the Spark driver's AppStatusStore, which Spark keeps
even with ``spark.ui.enabled=false``.  Process memory is the summed RSS of
this process and every descendant (the JVM and its Python workers).
"""

from __future__ import annotations

import os
import subprocess
import time
import traceback


def start_session(cpus: int, work_dir: str):
    """A session from the engine's own factory at local[cpus], with every
    scratch location inside work_dir."""
    from knowledgeir_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, and no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return get_spark(
        cpus=cpus,
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def descendants() -> list[int]:
    """Every live descendant of this process, from one scan of the parent
    pids in /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    pids = [os.getpid()] + descendants()
    return sum(_rss_kb(p) for p in pids) / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its live
    descendants (the JVM and Spark's Python workers) and the children they
    have reaped.  Unlike wall time, it leaves out the time they waited for
    a CPU, the time the host gave to other guests included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already included in user/nice
    return sum(fields[:8]), fields[7]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def group_metrics(sc, group: str) -> dict:
    """Jobs, tasks and stage metrics of every job tagged with `group`.

    Stages are counted once even when several jobs list them, and skipped
    stages (reused shuffle output) are left out.  ``job_ms`` is the union of
    the jobs' submit-to-complete intervals.  ``skew`` is max / median task
    run time of the heaviest stage that both reads and writes a shuffle
    (in an index build, the postings encode stage)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    out = {
        "jobs": len(job_ids), "tasks": 0, "stages": 0, "executor_run_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_disk_bytes": 0, "spill_memory_bytes": 0,
        "job_ms": 0.0, "skew": None,
    }
    intervals, seen = [], set()
    heaviest = None
    for j in job_ids:
        jd = store.job(j)
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        if sub is not None and done is not None:
            intervals.append((sub.getTime(), done.getTime()))
        info = sc.statusTracker().getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            run_ms = sd.executorRunTime()
            out["executor_run_ms"] += run_ms
            sw, sr = sd.shuffleWriteBytes(), sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sw
            out["shuffle_read_bytes"] += sr
            out["spill_disk_bytes"] += sd.diskBytesSpilled()
            out["spill_memory_bytes"] += sd.memoryBytesSpilled()
            if sw > 0 and sr > 0 and (heaviest is None or run_ms > heaviest[0]):
                heaviest = (run_ms, sid, sd.attemptId())
    cur = None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                out["job_ms"] += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        out["job_ms"] += cur[1] - cur[0]
    if heaviest is not None:
        tl = store.taskList(heaviest[1], heaviest[2], 100_000)
        runs = sorted(
            tl.apply(i).taskMetrics().get().executorRunTime()
            for i in range(tl.size())
            if tl.apply(i).taskMetrics().isDefined()
        )
        if runs:
            n = len(runs)
            med = runs[n // 2] if n % 2 else (runs[n // 2 - 1] + runs[n // 2]) / 2
            out["skew"] = runs[-1] / med if med > 0 else None
    return out


def stop_session(spark, timeout_s: float = 60.0) -> list[int]:
    """Stop Spark, end the JVM, and wait until every process this run
    started has exited.  Returns the pids that were still alive at the
    deadline (empty on a clean stop)."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may be gone; still reap it
        traceback.print_exc()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + timeout_s
    alive = procs
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True

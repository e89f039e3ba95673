"""Plumbing shared by the benchmark workloads: the run directory and
process environment, Spark job/stage/task counts read from the status
tracker, peak memory, the run record and the result line."""

from __future__ import annotations

import json
import os
import platform
import resource
import shutil
import statistics
import time

#: Root of the checkout the benchmark runs from (parent of ``perfbench/``).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything a run writes lives under here (listed in ``.gitignore``).
WORK = os.path.join(ROOT, ".bench_work")
#: Committed copy of the seed-42 sf0.001 gate tables (ten parquet files).
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def prepare_env(run_dir: str) -> None:
    """Point every scratch location at ``run_dir`` and make the repo
    importable from Spark's Python workers. Must run before the JVM
    starts: Spark's Python workers inherit this process's environment,
    and without the repo root on their ``PYTHONPATH`` a UDF that
    imports ``timeseries_db_spark`` fails with ModuleNotFoundError when
    the benchmark is launched from outside the repo directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM that spark-submit runs first to build the driver's command
    # line: keep its perf data file and temp files out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a 2g heap, not the program's 16g default: G1 starts reclaiming the
    # old generation at 45% of the heap, so under 16g garbage piles up
    # for the whole run and peak memory follows GC timing, not the
    # program's working set (ten times smaller than 2g here)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp


def start_spark(run_dir: str):
    from timeseries_db_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "tsdb-perfbench",
        extra_conf={
            # a fixed young generation takes G1's pause-time sizing out of
            # the memory figure: without it the peak resident size of the
            # same run moved by a third with the machine's load. No perf
            # data file: the JVM would write it under /tmp, outside the
            # checkout.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xmn512m -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python worker
    daemons to exit, so no process outlives the run."""
    from pyspark import SparkContext

    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    procs = [jvm_pid] + _descendants(jvm_pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    for pid in procs:
        _wait_gone(pid, timeout=30)


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` (Spark's Python worker daemon
    and its forked workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    out, frontier = [], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def _wait_gone(pid: int, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return  # exited; the zombie waits for its parent
        except OSError:
            return
        time.sleep(0.05)


class CpuClock:
    """CPU seconds used so far by the driver: this Python process (every
    thread, the in-process HTTP server included), the JVM, and the JVM's
    descendants — Spark's Python worker daemon and its workers, with the
    workers it has reaped. Time the hypervisor gives to other guests is
    not in it, so it holds still on a busy host where wall time does not."""

    def __init__(self, spark):
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        me = resource.getrusage(resource.RUSAGE_SELF)
        total = me.ru_utime + me.ru_stime
        for pid in [self.jvm_pid] + _descendants(self.jvm_pid):
            fields = _stat(f"/proc/{pid}/stat")
            if fields:
                # utime, stime, cutime, cstime
                total += sum(int(x) for x in fields[11:15]) / self.tick
        return total


def _stat(path: str) -> list[str] | None:
    """Fields of a ``/proc`` stat file after the command name, or None
    when the process or thread has exited."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


# ---------------------------------------------------------------- stats


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def quantile(values, q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 ≤ q ≤ 1)."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


# ---------------------------------------------------------- spark counts


class JobCounter:
    """Jobs, stages and tasks run between two points of a sequential
    run, read from Spark's status tracker (which works with the UI
    disabled). Job ids are dense and increase by one per job, so the
    jobs of an operation are the ids after the last one seen before it.
    The listener bus is drained first, so the counts do not depend on
    how quickly status events were processed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.drain_s = 0.0
        self.next_id = 0
        self.next_id = self._scan()

    def _drain(self) -> None:
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.drain_s += time.perf_counter() - t0

    def _scan(self) -> int:
        """First job id not yet known, looking past short gaps."""
        self._drain()
        jid, misses, last = self.next_id, 0, self.next_id
        while misses < 8:
            if self.tracker.getJobInfo(jid) is None:
                misses += 1
            else:
                misses, last = 0, jid + 1
            jid += 1
        return last

    def take(self) -> dict:
        """Counts for the jobs since the previous call."""
        start, end = self.next_id, self._scan()
        self.next_id = end
        stages = tasks = 0
        for jid in range(start, end):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                ran = st.numCompletedTasks + st.numFailedTasks
                if ran > 0:  # a skipped (reused) stage ran no task
                    stages += 1
                    tasks += ran
        return {"jobs": end - start, "stages": stages, "tasks": tasks}


# ------------------------------------------------------------ run record


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def git_commit() -> str:
    """HEAD of the checkout, read from ``.git`` without running git;
    ``unknown`` when the checkout is not a repository."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def run_record(spark, seed: int, load_start, steal_start) -> dict:
    """What a noisy run needs to explain itself: machine size, load and
    the share of CPU time the hypervisor gave elsewhere during the run,
    the versions in play, the seed and the commit."""
    stolen, total = steal_ticks()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "steal_frac": round(
            (stolen - steal_start[0]) / max(1, total - steal_start[1]), 4
        ),
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "commit": git_commit(),
    }


def new_run_dir(workload: str, seed: int) -> str:
    run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    return run_dir


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)

"""Run plumbing shared by every perfbench workload.

Nothing here knows about a particular workload: the checkout layout, the
pinned run environment, machine stamps, the process-tree memory sampler,
Spark job accounting, summary statistics and the printed summary line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "external_merge_sort_loser_tree_ovc_spark"
MANIFEST = os.path.join(ROOT, "BENCHMARK.json")

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (missing program or data)."""


def check_checkout() -> None:
    """Fail fast, before any process starts, when the program is absent."""
    for rel in (os.path.join(PACKAGE, "__init__.py"), "bench.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise SetupError(f"checkout at {ROOT} has no {rel}")


def cores() -> int:
    """What ``nproc`` prints without OMP_* overrides: usable CPUs."""
    return len(os.sched_getaffinity(0))


# -- run environment ---------------------------------------------------------


class RunDirs:
    """Per-run scratch inside the checkout; removed by ``close``."""

    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".perfbench")
        self.root = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}")
        self.traces = os.path.join(base, "traces")
        self.spill = os.path.join(self.root, "spill")
        self.local = os.path.join(self.root, "local")
        self.tmp = os.path.join(self.root, "tmp")
        self.data = os.path.join(self.root, "data")
        for d in (self.spill, self.local, self.tmp, self.data, self.traces):
            os.makedirs(d, exist_ok=True)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def pin_environment(dirs: RunDirs, ncores: int) -> dict:
    """Pin everything the program would otherwise pick for itself.

    ``runtime.default_spill_root()`` re-checks ``/dev/shm`` free space on
    every task and silently moves spills to disk below 8 GB, so both
    scratch roots are set explicitly.  The package reaches Spark's Python
    workers through PYTHONPATH, whatever the working directory is.
    """
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncores),
        "SPARK_GRAFT_SPILL_ROOT": dirs.spill,
        "SPARK_GRAFT_LOCAL_DIR": dirs.local,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_TASK_CPUS": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": dirs.tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(pinned)
    tempfile.tempdir = dirs.tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {k: pinned[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


# -- machine stamps ----------------------------------------------------------


def _cpu_steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else 0


def _mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class MachineStamp:
    """Load average, CPU steal and free memory around one run."""

    def __init__(self):
        self.load_start = os.getloadavg()[0]
        self.mem_start_mb = _mem_available_mb()
        self._steal0 = _cpu_steal_ticks()

    def finish(self) -> dict:
        tick = os.sysconf("SC_CLK_TCK")
        return {
            "loadavg1_start": self.load_start,
            "loadavg1_end": os.getloadavg()[0],
            "cpu_steal_s": (_cpu_steal_ticks() - self._steal0) / tick,
            "mem_available_mb_start": self.mem_start_mb,
            "mem_available_mb_end": _mem_available_mb(),
        }


# -- process tree ------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (Spark JVM, Python workers) between ``start`` and ``stop``.

    This process's own peak is its kernel-kept high-water mark (VmHWM,
    reset at ``start``), so short spikes are not missed.  Descendants
    are sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self._children_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = sum(_status_kb(p, "VmRSS:") for p in descendants(os.getpid()))
        self._children_kb = max(self._children_kb, kids)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")  # reset VmHWM to the current RSS
        except OSError:
            pass  # the mark then also covers set-up
        self._thread.start()

    def stop(self) -> float:
        """Own high-water mark plus the largest sampled sum of the
        descendants, in MB: an upper bound on the tree's peak."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return (_status_kb(os.getpid(), "VmHWM:") + self._children_kb) / 1024.0


def reap_children(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to end; kill what outlives ``timeout``.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = descendants(os.getpid())
        if not left:
            return []
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return left


# -- Spark session -----------------------------------------------------------


def start_spark(ncores: int):
    """The headline harness's own session (``bench.build_spark``) at
    ``local[ncores]``, after ``pin_environment``."""
    import bench

    spark = bench.build_spark(ncores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and the JVM's Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobTally:
    """Spark jobs and failed task attempts per job group, read back from
    ``statusTracker()``.  A failed attempt means a task ran again, so the
    counters the program aggregates from its tasks may count twice."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> tuple[int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info is not None else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    failed += stage.numFailedTasks
        return len(jobs), failed


# -- statistics and the summary line ------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def supported_percentile(values: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples above it,
    or None when the sample is too small for any beyond the median."""
    n = len(values)
    p = (100 * (n - 10)) // n if n else 0
    if p <= 50:
        return None
    rank = -(-p * n // 100)  # nearest rank: ceil(p * n / 100)
    return {"p": p, "value": sorted(values)[rank - 1]}


def load_manifest(path: str = MANIFEST) -> dict:
    with open(path) as f:
        return json.load(f)


def check_metric_specs(specs: list[dict]) -> None:
    seen = set()
    for m in specs:
        if not NAME_RE.match(m["name"]) or m["name"] in seen:
            raise ValueError(f"bad or repeated metric name {m['name']!r}")
        if not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {m['name']}")
        if m.get("better") not in ("lower", "higher"):
            raise ValueError(f"bad 'better' for {m['name']}")
        seen.add(m["name"])


def summary(
    specs: list[dict],
    values: dict[str, float],
    *,
    attempted: int,
    failed: int,
    required: set[str] = frozenset(),
) -> dict:
    """The last stdout line: every declared metric, by name and unit.

    Metrics in ``required`` must have been measured; any other declared
    metric the workload did not produce is a layer it never entered, and
    reads 0.
    """
    check_metric_specs(specs)
    missing = sorted(required - values.keys())
    if missing:
        raise ValueError(f"workload did not measure {missing}")
    unknown = sorted(values.keys() - {m["name"] for m in specs})
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {unknown}")
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad iteration counts {attempted=} {failed=}")
    metrics = {}
    for m in specs:
        v = values.get(m["name"], 0)
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError(f"{m['name']} is not a number: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }

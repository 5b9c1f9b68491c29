"""Shared machinery of the benchmark: run environment, spans, plan metrics,
process readings and statistics.

Everything here acts from outside the package: spans wrap the benchmark's
own calls into the package's public functions, plan metrics are read
through the public ``queryExecution().executedPlan()`` walk after an
action, and process figures come from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
#: the package lives at the root of the checkout, one level above this file
ROOT = os.path.dirname(HERE)
#: everything a run writes goes under here (listed in .gitignore)
WORK = os.path.join(ROOT, ".perfbench")
#: Spark task threads: half the machine's cores, at most two, so that the
#: tasks, the JVM's compiler and GC threads, the Python driver, the Python
#: workers and the fake server together ask for no more cores than there
#: are; fixed, so that bigger machines run the same session
CORES = max(1, min(2, (os.cpu_count() or 2) // 2))

CLK_TCK = os.sysconf("SC_CLK_TCK")


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# run environment
# ---------------------------------------------------------------------------


class RunDirs:
    """Fresh scratch directories for one run, removed when it ends."""

    def __init__(self, workload: str, seed: int):
        os.makedirs(WORK, exist_ok=True)
        self.root = tempfile.mkdtemp(
            prefix=f"{workload}-{seed}-{uuid.uuid4().hex[:8]}-", dir=WORK
        )

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A new empty directory under the run root."""
        p = os.path.join(self.root, f"{name}-{uuid.uuid4().hex[:8]}")
        os.makedirs(p)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def pin_environment(dirs: RunDirs) -> None:
    """Run hygiene, applied before the JVM starts: a fixed core count with
    the JVM's GC and compiler threads sized to it, a small driver heap (the
    machine is shared), the package on the Python workers' path, and every
    temporary file inside the run directory."""
    tmp = dirs.fresh("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (launcher and driver) keeps its temporary
    # files in the run directory, writes no /tmp/hsperfdata entry, and runs
    # no more GC and compiler threads than the session has cores (2 is the
    # least the tiered compiler accepts)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1"
        f" -XX:CICompilerCount=2 -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tempfile.tempdir = tmp


def spark_conf(dirs: RunDirs) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": dirs.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id).

    Off, ``span`` is a no-op context, so untraced runs pay nothing for it.
    """

    def __init__(self) -> None:
        self.on = False
        self.spans: list[list] = []
        self.request: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [name, now(), None, self._stack[-1] if self._stack else None, self.request]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = now()
            self._stack.pop()

    def span(self, name: str):
        return self._span(name) if self.on else contextlib.nullcontext()

    def durations(self, name: str) -> list[float]:
        """Seconds of every closed span called ``name``."""
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as fh:
            for name, start, end, parent, req in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": name,
                            "start_ms": round((start - t0) * 1e3, 3),
                            "end_ms": round(((end or start) - t0) * 1e3, 3),
                            "parent": parent,
                            "request": req,
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# executed-plan metrics (public QueryExecution API; works with the UI off)
# ---------------------------------------------------------------------------


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def plan_nodes(jdf) -> list[tuple[str, dict[str, int], object]]:
    """(node name, {metric: value}, node) for every node of the executed
    plan, descending through adaptive plans and query stages."""
    out: list[tuple[str, dict[str, int], object]] = []
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if name.startswith("ReusedExchange"):
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        metrics = {}
        for kv in _scala_list(node.metrics()):
            metrics[kv._1()] = int(kv._2().value())
        out.append((name, metrics, node))
        stack.extend(_scala_list(node.children()))
    return out


def rows_examined(nodes) -> int:
    """Rows the plan produced at its scans and joins: what the engine had
    to look at to answer, before any top-k cut."""
    return sum(
        m.get("numOutputRows", 0)
        for name, m, _ in nodes
        if "Scan" in name or "Join" in name
    )


def scan_rows(nodes) -> int:
    return sum(m.get("numOutputRows", 0) for name, m, _ in nodes if "Scan" in name)


def scan_partitions(nodes) -> list[int]:
    """Input partitions (= tasks) of each scan node."""
    out = []
    for name, _, node in nodes:
        if "Scan" in name and not name.startswith("LocalTableScan"):
            out.append(int(node.inputRDD().getNumPartitions()))
    return out


def force_plan(jdf) -> None:
    """Run Catalyst optimisation and physical planning without executing."""
    jdf.queryExecution().executedPlan()


# ---------------------------------------------------------------------------
# process readings
# ---------------------------------------------------------------------------


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process, all its threads."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # fields[0] is state (field 3); utime, stime = fields 14, 15
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def proc_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class JvmMeter:
    """JVM CPU time over a window, as a share of wall time × cores."""

    def __init__(self, spark):
        self.pid = jvm_pid(spark)
        self.cpu = 0.0
        self.wall = 0.0
        self._t = None

    def start(self) -> None:
        self._t = (now(), proc_cpu_s(self.pid))

    def stop(self) -> None:
        t0, c0 = self._t
        self.wall += now() - t0
        self.cpu += proc_cpu_s(self.pid) - c0

    def util(self) -> float:
        return self.cpu / (self.wall * CORES) if self.wall else 0.0

    def peak_rss_mb(self) -> float:
        return proc_peak_rss_mb(self.pid)

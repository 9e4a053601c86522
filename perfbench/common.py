"""Shared pieces of the benchmark: host facts, the Spark session, timing
statistics, spans and the Spark counters read from outside each layer.

Nothing here imports the program under test; the workload modules do.
"""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import subprocess
import tempfile
import time
import uuid
from contextlib import contextmanager

# per-layer counters, in the order they are reported
LAYER_FIELDS = ("call_s", "exec_s", "cpu_s", "rows_out", "jobs",
                "shuffle_bytes", "python_nodes", "exchanges")

KG_LAYERS = ("mentions", "extract", "canonicalize", "frame", "frame_errors",
             "flatten", "rewrite", "sink")
MIX_LAYERS = ("frame_general", "paths", "serialize", "store", "similarity",
              "cc")
LAYERS = KG_LAYERS + MIX_LAYERS

# physical operators that run Python code in worker processes
_PYTHON_NODE_MARKERS = ("EvalPython", "InPandas", "InArrow", "PythonUDF",
                        "PythonMapIn", "PythonRDD")


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- host ------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_jvm_count() -> int:
    """Spark JVMs already running on this host (each one competes with
    the measured session for cores and memory)."""
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            cmd = _cmdline(pid)
            if "java" in cmd.split(" ", 1)[0] and "SparkSubmit" in cmd:
                n += 1
    return n


def cpu_counters() -> tuple:
    """(idle, steal, total) jiffies over all cores, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[3] + vals[4], vals[7], sum(vals)


def cpu_shares(before: tuple, after: tuple) -> dict:
    """Busy and steal shares of all cores between two ``cpu_counters``
    readings (steal counts as busy: it is time lost to other tenants)."""
    total = max(after[2] - before[2], 1)
    return {"busy": 1.0 - (after[0] - before[0]) / total,
            "steal": (after[1] - before[1]) / total}


def cpu_busy_frac(interval: float = 0.5) -> float:
    before = cpu_counters()
    time.sleep(interval)
    return cpu_shares(before, cpu_counters())["busy"]


def host_facts() -> dict:
    return {
        "cores": host_cores(),
        "ram_mb": host_ram_mb(),
        "preexisting_spark_jvms": spark_jvm_count(),
        "cpu_busy_frac_at_start": round(cpu_busy_frac(), 3),
        "load1_at_start": os.getloadavg()[0],
    }


def _descendants(pid: int) -> list:
    kids: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(kids.get(cur, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed high-water RSS of this process, the Spark JVM and every
    process below the JVM (the Python workers)."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own_kb + sum(_vm_hwm_kb(p) for p in _descendants(jvm_pid))) / 1024


def live_heap_mb(spark) -> float:
    """Heap occupancy right after a full collection: what the program
    keeps alive on the heap.  Unlike RSS, which the pre-touched heap
    fixes, this moves with the program's own heap use."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()
    return usage.getUsed() / 2**20


# --- session ---------------------------------------------------------------

def make_session(root: str, work: str, cores: int, ram_mb: int):
    """One local Spark session sized to this host: ``cores`` task slots
    and a quarter of RAM for the driver heap, capped at 2 GB, shuffle and
    temp files under ``work``, no UI and no console progress.

    The heap is committed and touched in full at start, so peak RSS
    measures what the session holds beyond a fixed heap (code, classes,
    native buffers, the Python side) instead of when the collector chose
    to grow the heap.  What the program keeps inside the heap is read
    after a full collection (``live_heap_mb``)."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import ramp_shapes_spark (mapInPandas, UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    heap_mb = max(1024, min(ram_mb // 4, 2048))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must still hold a layer's stages when it is
        # read right after the layer ends
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                f"-XX:-UsePerfData -Xms{heap_mb}m -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its standard input closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --- spans and layer counters ------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written once, at the end of the run."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "run_id": self.run_id}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def top_level_coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by parentless spans."""
        ivs = sorted((s["start"], s["end"]) for s in self.spans
                     if s["parent"] is None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / max(end - start, 1e-9)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def empty_layers() -> dict:
    return {layer: {f: 0 for f in LAYER_FIELDS} for layer in LAYERS}


def plan_counts(df) -> tuple:
    """(python_nodes, exchanges) in the physical plan of ``df``, not
    descending into cached relations (they belong to the layer that
    filled them).  Read before ``df`` is cached or forced, so adaptive
    plans are counted as initially planned."""
    python_nodes = exchanges = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("InMemoryTableScan"):
            continue
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if "Exchange" in name:
            exchanges += 1
        if any(m in name for m in _PYTHON_NODE_MARKERS):
            python_nodes += 1
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return python_nodes, exchanges


class JobGroupProbe:
    """Runs a block under its own Spark job group and reads that group's
    jobs, executor CPU time, shuffle bytes, spill and failed tasks from
    the status store right after it ends."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.tasks_failed = 0
        self.spill_bytes = 0

    @contextmanager
    def group(self, name: str, layer: dict, field: str):
        gid = f"{self.tracer.run_id}:{name}:{len(self.tracer.spans)}"
        self.sc.setJobGroup(gid, name, interruptOnCancel=False)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        finally:
            layer[field] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._collect(gid, layer)

    def _collect(self, gid: str, layer: dict) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for job_id in tracker.getJobIdsForGroup(gid):
            layer["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else []):
                data = store.lastStageAttempt(stage_id)
                layer["cpu_s"] += data.executorCpuTime() / 1e9
                layer["shuffle_bytes"] += data.shuffleWriteBytes()
                self.spill_bytes += (data.memoryBytesSpilled()
                                     + data.diskBytesSpilled())
                self.tasks_failed += data.numFailedTasks()

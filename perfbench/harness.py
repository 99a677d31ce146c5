"""Run context shared by the workloads: checkout-local scratch space,
the Spark session, the span tracer, host-noise records and the
per-layer counters read back from Spark's local event log.

Nothing here runs at import time; ``run.py`` builds one :class:`Run`
per process.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_PARENT = os.path.join(ROOT, ".perfbench_tmp")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (q in (0, 1)); the value itself for a
    single sample."""
    if len(values) < 2:
        return values[0] if values else 0.0
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


# ------------------------------------------------------------------ host
def _cpu_ticks() -> tuple[int, int]:
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        from bench_quiet import cpu_ticks
    finally:
        sys.path.pop(0)
    return cpu_ticks()


class HostRecord:
    """Steal % over the run (``scripts/bench_quiet.py``'s /proc/stat
    computation), start loadavg, cpu count and program versions."""

    def __init__(self) -> None:
        with open("/proc/loadavg") as f:
            self.loadavg = float(f.read().split()[0])
        self._s0, self._t0 = _cpu_ticks()

    def finish(self) -> dict:
        import pyarrow
        import pyspark

        s1, t1 = _cpu_ticks()
        return {
            "steal_pct": round(100.0 * (s1 - self._s0) / max(1, t1 - self._t0), 3),
            "loadavg": self.loadavg,
            "nproc": cpus(),
            "commit": _commit(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
        }


def _commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(stat.split("/")[2]))
    return out


def peak_rss_mb() -> float:
    """VmHWM of this client process plus its direct children (the Spark
    JVM). Python workers are left out: whether one is alive when this is
    read depends on timing, not on the program's memory use."""
    total_kb = 0
    for pid in [os.getpid()] + _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------- tracing
class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent and the op id shared by one op's spans. When tracing is
    on, every span also tags the Spark jobs it starts with its own job
    group, so the event-log counters attribute to spans exactly."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op or (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "phase": self.phase,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._group(f"span-{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(f"span-{parent['id']}" if parent else None)

    def _group(self, gid: str | None) -> None:
        if self._sc is None:
            return
        if gid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(gid, gid)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


# ------------------------------------------------------------- event log
_SQL = "org.apache.spark.sql.execution.ui."


def _walk_plan(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk_plan(child)


class EventLog:
    """Offline parse of Spark's local event log into per-span counters:
    jobs, stages, tasks, task metrics, and from each SQL execution's
    final (post-AQE) plan the exchange/broadcast counts and the SQL
    metrics of scan and Python-worker nodes."""

    def __init__(self, log_dir: str) -> None:
        self.by_span: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if files:
            self._parse(files[0])

    def _parse(self, path: str) -> None:
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        plans: dict[int, dict] = {}
        accum: dict[int, float] = defaultdict(float)
        stage_accum: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if not gid:
                        continue
                    self.by_span[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), gid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    gid = stage_group.get(info["Stage ID"])
                    if gid is not None and "Submission Time" in info:
                        self.by_span[gid]["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        try:
                            v = float(acc.get("Value", 0))
                        except (TypeError, ValueError):
                            continue
                        aid = acc["ID"]
                        stage_accum[aid] = max(stage_accum.get(aid, 0.0), v)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    c = self.by_span[gid]
                    c["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    r = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    w = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                elif kind in (
                    _SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    # the last plan seen is the final (post-AQE) plan
                    plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for aid, v in ev.get("accumUpdates", []):
                        accum[aid] += float(v)
        for aid, v in stage_accum.items():
            accum[aid] += v
        for eid, gid in exec_group.items():
            plan = plans.get(eid)
            if plan is None:
                continue
            c = self.by_span[gid]
            for node in _walk_plan(plan):
                name = node.get("nodeName", "")
                if name == "Exchange":
                    c["exchanges"] += 1
                elif name == "BroadcastExchange":
                    c["broadcasts"] += 1
                if _is_python(name):
                    c["py_rows_sent"] += _input_rows(node, accum)
                for m in node.get("metrics", []):
                    value = accum.get(m["accumulatorId"], 0.0)
                    if m.get("metricType") == "nsTiming":
                        value /= 1e6
                    self._sql_metric(c, name, m["name"], value)

    @staticmethod
    def _sql_metric(c: dict, node: str, metric: str, value: float) -> None:
        if node.startswith("Scan") or "FileScan" in node or node.startswith("BatchScan"):
            if metric == "number of files read":
                c["scan_files"] += value
            elif metric == "size of files read":
                c["scan_bytes"] += value
        elif _is_python(node):
            if metric == "data sent to Python workers":
                c["py_bytes_sent"] += value
            elif metric == "data returned from Python workers":
                c["py_bytes_returned"] += value
            elif metric == "time to run Python workers":
                c["py_time_s"] += value / 1e3


def _is_python(node_name: str) -> bool:
    return any(k in node_name for k in ("Python", "Arrow", "Pandas"))


def _input_rows(node: dict, accum: dict) -> float:
    """Rows fed to a Python node: the output rows of the nearest node
    below it that counts them (codegen wrappers do not)."""
    for child in node.get("children", []):
        for m in child.get("metrics", []):
            if m["name"] == "number of output rows":
                return accum.get(m["accumulatorId"], 0.0)
        rows = _input_rows(child, accum)
        if rows:
            return rows
    return 0.0


# -------------------------------------------------------------------- run
class Run:
    """One benchmark process: scratch dir under the checkout, Spark
    session, tracer and host record. ``close()`` stops Spark and
    removes the scratch dir."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.host = HostRecord()
        os.makedirs(SCRATCH_PARENT, exist_ok=True)
        self.scratch = os.path.join(SCRATCH_PARENT, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.scratch)
        self.tracer = Tracer(trace)
        self.spark = None
        self.event_dir = os.path.join(self.scratch, "eventlog")

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def start_spark(self, app: str):
        """Session on local[nproc] through the package's own
        ``get_spark``; every file Spark, its Python workers or the
        library write goes under the scratch dir."""
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # the whole heap committed and touched at start, so the JVM's
            # resident size does not depend on when G1 grows the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        from python_etl_spark.session import get_spark

        self.spark = get_spark(app, master=f"local[{cpus()}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def cached_bytes(self) -> int:
        sc = self.spark.sparkContext
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in sc._jsc.sc().getRDDStorageInfo()
        )

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.scratch, ignore_errors=True)
            try:
                os.rmdir(SCRATCH_PARENT)
            except OSError:
                pass

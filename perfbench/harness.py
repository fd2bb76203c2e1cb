"""Measurement plumbing shared by the workloads: the Spark session fitted to
the host, full materialization, plan-metric rollups, in-memory spans, a
timing wrapper around the KV store, and the CPU time and resident memory
of the process tree."""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from typing import Iterable, Optional

from zipline_chronon_spark.online.kv import KvStore

DRIVER_MEMORY = "4g"  # this host has 15 GB; the engine default (24g) does not fit


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_settings(work: str) -> dict[str, str]:
    """Everything Spark writes stays under ``work`` (the JVMs' temporary
    directory is set through JAVA_TOOL_OPTIONS by the caller)."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str):
    from zipline_chronon_spark.session import get_spark

    spark = get_spark(master=f"local[{nproc()}]", app_name="perfbench",
                      extra=spark_settings(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def materialize(df) -> None:
    """Compute every row and column of ``df`` (noop sink); ``count()`` would
    let Catalyst prune the columns after the UDFs."""
    df.write.format("noop").mode("overwrite").save()


def summary(values: list[float]) -> dict:
    """Median, and the highest of p99.9/p99/p90 that has at least ten samples
    beyond it, with the sample count."""
    vs = sorted(values)
    out = {"n": len(vs), "median": statistics.median(vs) if vs else None}
    for p in (99.9, 99, 90):
        i = math.ceil(len(vs) * p / 100) - 1
        if len(vs) - 1 - i >= 10:
            out[f"p{p:g}"] = vs[i]
            break
    return out


_REFERENCE_PAYLOAD = {"key": list(range(40)), "text": "turn " * 40,
                      "values": [i / 7 for i in range(40)]}


def reference_s() -> float:
    """Seconds a fixed single-threaded loop (JSON encode, hash, decode) takes,
    best of three. Timed next to each pass, it records how fast the host's
    cores ran at that moment; on a shared host that nearly halved within
    one run."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(400):
            b = json.dumps(_REFERENCE_PAYLOAD).encode()
            hashlib.sha256(b).digest()
            json.loads(b)
        best = min(best, time.perf_counter() - t0)
    return best


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": t0, "end": time.perf_counter()})
            self._stack.pop()


def self_ms(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the time its children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
    return out


def total_ms(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name) * 1000


class NoTracer(Tracer):
    @contextmanager
    def span(self, name: str):
        yield


# ---------------------------------------------------------------------------
# plan metrics


class PlanCollector:
    """Keeps the QueryExecution of every SQL command the session runs
    (writes through the catalog, collects, noop sinks) via a
    QueryExecutionListener, and rolls up their final-plan SQL metrics."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.executions: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass  # a failed pass is counted by the caller

    def count(self) -> int:
        """Executions caught so far, once the listener bus is idle."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.executions)

    def drain(self) -> list:
        self.count()
        out, self.executions = self.executions, []
        return out

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)


def _nodes(plan) -> Iterable:
    """Depth-first walk of a physical plan through AQE wrappers, parents
    before children."""
    stack = [plan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())  # the final plan once executed
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        yield n
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


PLAN_KEYS = (
    "spark.scan.ms", "spark.scan.bytes", "spark.scan.count",
    "spark.shuffle.exchanges", "spark.shuffle.write_bytes",
    "spark.shuffle.write_ms", "spark.shuffle.fetch_wait_ms",
    "spark.sort.ms", "spark.sort.spill_bytes", "spark.sort.peak_mem_bytes",
    "spark.python.init_ms", "spark.python.udf_ms",
    "spark.python.bytes_in", "spark.python.bytes_out",
    "spark.python.map_in_arrow_nodes", "spark.python.map_in_pandas_nodes",
    "catalog.commit_ms", "catalog.bytes_written", "catalog.files_written",
)


def plan_rollup(executions: list) -> tuple[dict[str, float], list[dict]]:
    """Sum SQL metrics over the final physical plans of ``executions``.
    Spark timings are task-summed. Also returns one record per Python UDF
    node: its name, the index of its execution, its rank among the Python
    nodes of its plan (0 = the top-most) and its Python time."""
    r = dict.fromkeys(PLAN_KEYS, 0.0)
    py_nodes = []
    for i, qe in enumerate(executions):
        rank = 0
        for n in _nodes(qe.executedPlan()):
            name, m = n.nodeName(), _metrics(n)
            if name.startswith("Scan "):
                r["spark.scan.count"] += 1
                r["spark.scan.ms"] += m.get("scanTime", 0)
                r["spark.scan.bytes"] += m.get("filesSize", 0)
            elif name == "Exchange":
                r["spark.shuffle.exchanges"] += 1
                r["spark.shuffle.write_bytes"] += m.get("shuffleBytesWritten", 0)
                r["spark.shuffle.write_ms"] += m.get("shuffleWriteTime", 0) / 1e6
                r["spark.shuffle.fetch_wait_ms"] += m.get("fetchWaitTime", 0)
            elif name == "Execute InsertIntoHadoopFsRelationCommand":
                # the catalog's parquet write: its commit time and output
                # (the write tasks also run the plan below, so their time
                # is not the catalog's)
                r["catalog.commit_ms"] += m.get("taskCommitTime", 0) + m.get("jobCommitTime", 0)
                r["catalog.bytes_written"] += m.get("numOutputBytes", 0)
                r["catalog.files_written"] += m.get("numFiles", 0)
            elif name == "Sort":
                r["spark.sort.ms"] += m.get("sortTime", 0)
                r["spark.sort.spill_bytes"] += m.get("spillSize", 0)
                r["spark.sort.peak_mem_bytes"] += m.get("peakMemory", 0)
            elif "pythonTotalTime" in m:
                if name == "MapInArrow":
                    r["spark.python.map_in_arrow_nodes"] += 1
                elif name == "MapInPandas":
                    r["spark.python.map_in_pandas_nodes"] += 1
                r["spark.python.init_ms"] += m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)
                r["spark.python.udf_ms"] += m["pythonTotalTime"]
                r["spark.python.bytes_in"] += m.get("pythonDataSent", 0)
                r["spark.python.bytes_out"] += m.get("pythonDataReceived", 0)
                py_nodes.append({"name": name, "exec": i, "rank": rank,
                                 "udf_ms": m["pythonTotalTime"]})
                rank += 1
    return r, py_nodes


# ---------------------------------------------------------------------------
# KV store wrapper


class TimedKv(KvStore):
    """Counts and times the calls the fetcher makes into a ``KvStore``, and
    counts the rows the uploads write through it."""

    def __init__(self, inner: KvStore, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.c = dict.fromkeys(("get_calls", "scan_calls", "entries_read", "bytes_read",
                                "rows_written"), 0)
        self.get_ms = 0.0
        self.scan_ms = 0.0

    def put(self, dataset: str, key: bytes, value: bytes) -> None:
        self.inner.put(dataset, key, value)
        self.c["rows_written"] += 1

    def write_rows(self, df, encode_fn) -> int:
        n = self.inner.write_rows(df, encode_fn)  # the inner store's own sink
        self.c["rows_written"] += n
        return n

    def get(self, dataset: str, key: bytes) -> Optional[bytes]:
        t0 = time.perf_counter()
        with self.tracer.span("online.kv.get"):
            v = self.inner.get(dataset, key)
        self.get_ms += (time.perf_counter() - t0) * 1000
        self.c["get_calls"] += 1
        if v is not None:
            self.c["entries_read"] += 1
            self.c["bytes_read"] += len(v)
        return v

    def scan(self, dataset: str, key_prefix: bytes = b""):
        self.c["scan_calls"] += 1
        with self.tracer.span("online.kv.scan"):
            t0 = time.perf_counter()
            out = list(self.inner.scan(dataset, key_prefix))
            self.scan_ms += (time.perf_counter() - t0) * 1000
        self.c["entries_read"] += len(out)
        self.c["bytes_read"] += sum(len(k) + len(v) for k, v in out)
        return iter(out)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# resident memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree() -> list[int]:
    """This process and all its descendants (the driver JVM and its Python
    workers)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_mb() -> float:
    """Resident memory of the process tree, in MB."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next((int(line.split()[1]) for line in f
                               if line.startswith("VmRSS:")), 0)
        except OSError:
            pass
    return total / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds the process tree has used, its reaped children included."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload transcript_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up once (Spark session, inputs
generated from ``--seed``, the workload's operation run twice untimed on
those inputs), then repeats the timed operation until ``--seconds`` have
passed, checks the outputs, and prints a table followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run also makes traced passes and reports per-layer metrics, self times and
the tracing overhead instead. Every run also writes a stamped artifact
under ``.perfbench/results/``. ``--size smoke`` shrinks every input so that
all workloads run in about a minute.
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "cpu_s": "s"}  # name -> unit
SPAN_NAMES = (
    "plans.backfill.run", "operators.pit_join.plan", "plans.backfill.chunk_exec",
    "approx.serve", "approx.plan", "spark.execute",
    "online.fetcher.upload_batch", "online.fetcher.upload_stream",
    "online.fetcher.fetch", "online.fetcher.fetch_batch",
    "online.kv.get", "online.kv.scan",
)


def layer_units() -> dict[str, str]:
    """Every per-layer metric, name -> unit."""
    from perfbench.workloads import DriverSuite

    return {
        "spark.scan.ms": "ms", "spark.scan.bytes": "bytes", "spark.scan.count": "count",
        "spark.shuffle.exchanges": "count", "spark.shuffle.write_bytes": "bytes",
        "spark.shuffle.write_ms": "ms", "spark.shuffle.fetch_wait_ms": "ms",
        "spark.sort.ms": "ms", "spark.sort.spill_bytes": "bytes",
        "spark.sort.peak_mem_bytes": "bytes",
        "spark.python.init_ms": "ms", "spark.python.udf_ms": "ms",
        "spark.python.bytes_in": "bytes", "spark.python.bytes_out": "bytes",
        "spark.python.map_in_arrow_nodes": "count", "spark.python.map_in_pandas_nodes": "count",
        "approx.tile_build_py_ms": "ms", "approx.serve_py_ms": "ms",
        "operators.pit_join.plan_ms": "ms",
        "plans.backfill.chunks": "count", "plans.backfill.chunk_ms": "ms",
        "catalog.commit_ms": "ms", "catalog.bytes_written": "bytes",
        "catalog.files_written": "count",
        "online.kv.get_calls": "count", "online.kv.get_ms": "ms",
        "online.kv.scan_calls": "count", "online.kv.scan_ms": "ms",
        "online.kv.entries_read": "count", "online.kv.bytes_read": "bytes",
        "online.kv.rows_written": "count", "online.kv.bytes_stored": "bytes",
        "online.fetcher.fetch_self_ms": "ms", "online.fetcher.upload_batch_ms": "ms",
        "online.fetcher.upload_stream_ms": "ms",
        **{f"suite.{q}_s": "s" for q in DriverSuite.QUERIES},
        "trace.overhead_ms": "ms",
        **{f"self.{s}_ms": "ms" for s in SPAN_NAMES},
    }


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    return ap.parse_args(argv)


def _source_digest() -> str:
    """Hash of the engine sources, for checkouts that are not git trees."""
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, "zipline_chronon_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def _environment(work: str) -> None:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (launcher and driver): no hsperfdata
    # files, temporary files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)


def _loop(seconds: float, one_pass, failures: list, min_passes: int = 1) -> None:
    """Call ``one_pass(i)`` for i = 0, 1, ... while the next call, if it takes
    as long as the last one did, still ends within ``seconds`` (and at least
    ``min_passes`` times). An operation that raises is counted; the run goes
    on, and stops after four failures."""
    start = time.perf_counter()
    i = 0
    while True:
        t0 = time.perf_counter()
        try:
            one_pass(i)
        except Exception:
            failures.append(traceback.format_exc(limit=3))
            if len(failures) > 3:
                return
        i += 1
        now = time.perf_counter()
        if i >= min_passes and now - start + (now - t0) > seconds:
            return


def _passes(wl, spark, seconds: float, record: list, failures: list, rss: list) -> None:
    """Untraced timed passes."""
    from perfbench.harness import cpu_s, reference_s, rss_mb

    def one(_):
        ref = reference_s()
        c0 = cpu_s()
        p = wl.run_pass(spark)
        p["cpu_s"] = cpu_s() - c0
        p["ref_s"] = ref
        record.append(p)
        rss.append(rss_mb())

    _loop(seconds, one, failures)


def _layers(wl, spark, seconds: float, failures: list) -> tuple[dict, dict]:
    """Untraced and traced passes in pairs, the pairs in turn untraced-first
    and traced-first (U T T U U T ...), so that a steady drift cancels out;
    per-layer figures per traced pass, and the tracing overhead as the
    median of (traced - untraced) over the pairs."""
    from perfbench.harness import NoTracer, PlanCollector, Tracer, plan_rollup, self_ms, total_ms

    units = layer_units()
    tracer = Tracer()
    plain: list = []
    traced: list = []
    layer_runs: list = []

    def one(i):
        if (i + i // 2) % 2 == 0:
            wl.tracer = NoTracer()
            plain.append(wl.run_pass(spark))
            return
        wl.tracer = tracer
        collector = wl.collector = PlanCollector(spark)
        try:
            before = len(tracer.spans)
            p = wl.run_pass(spark)
            plan, py_nodes = plan_rollup(collector.drain())
        finally:
            collector.close()
            wl.tracer, wl.collector = NoTracer(), None
        traced.append(p)
        spans = tracer.spans[before:]
        own = self_ms(spans)
        layer = dict.fromkeys(units, 0.0)
        layer.update(plan)
        layer.update(wl.python_split(py_nodes))
        layer.update(wl.layers())
        layer["operators.pit_join.plan_ms"] = total_ms(spans, "operators.pit_join.plan")
        layer["online.fetcher.fetch_self_ms"] = (own.get("online.fetcher.fetch", 0.0)
                                                 + own.get("online.fetcher.fetch_batch", 0.0))
        for s in SPAN_NAMES:
            layer[f"self.{s}_ms"] = own.get(s, 0.0)
        layer_runs.append(layer)

    _loop(seconds, one, failures, min_passes=2)
    pairs = list(zip(plain, traced))
    # "or [0.0]": every traced pass may have failed; the failures are reported
    layers = {k: statistics.median([r[k] for r in layer_runs] or [0.0]) for k in units}
    layers["trace.overhead_ms"] = 1000 * statistics.median(
        [t["wall_s"] - u["wall_s"] for u, t in pairs] or [0.0])
    info = {"passes": plain + traced, "untraced_passes": len(plain),
            "traced_passes": len(traced),
            "spans": tracer.spans, "layer_runs": layer_runs}
    return layers, info


def main(argv=None) -> int:
    args = _args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "zipline_chronon_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.size}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    _environment(work)

    from perfbench.harness import nproc, rss_mb, start_session, stop_jvm
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.size, args.seed, work)

    spark, failures, passes, problems, rss = None, [], [], [], []
    layers = info = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        t1 = time.perf_counter()
        wl.generate()
        t2 = time.perf_counter()
        wl.warm(spark)
        # a traced run warms up once more: its first pair would otherwise
        # fold the last of the warm-up into the tracing overhead
        for _ in range(wl.warm_passes + args.trace):
            wl.run_pass(spark)
        t3 = time.perf_counter()
        setup_s = t3 - t0
        phases = {"session_s": t1 - t0, "generate_s": t2 - t1, "warm_s": t3 - t2}
        rss.append(rss_mb())
        if args.trace:
            layers, info = _layers(wl, spark, args.seconds, failures)
        else:
            _passes(wl, spark, args.seconds, passes, failures, rss)
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
                if k.startswith("spark.") and not k.startswith(("spark.app.", "spark.driver.host",
                                                                   "spark.driver.port"))}
        t_check = time.perf_counter()
        if not failures:
            try:
                problems = wl.check(spark)
            except Exception:
                problems = ["check raised:\n" + traceback.format_exc(limit=3)]
        check_s = time.perf_counter() - t_check
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    done = passes if not args.trace else info["passes"]
    attempted = sum(p.get("ops", 1) for p in done) + len(failures)
    failed = len(failures) + (1 if problems else 0)
    correct = not failures and not problems

    if args.trace:
        units = layer_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        e2e = {"setup_s": setup_s,
               "cpu_s": statistics.median([p["cpu_s"] for p in passes] or [0.0])}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    artifact = {
        "workload": args.workload, "size": args.size, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc(),
        "git_sha": _git_sha(), "source_digest": _source_digest(),
        "spark_settings": conf,
        "finished_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "setup_s": setup_s, "setup_phases": phases, "check_s": check_s, "peak_rss_mb": max(rss),
        "metrics": metrics,
        "details": wl.details(passes) if passes else None,
        "passes": passes, "failures": failures, "problems": problems[:50],
        "trace_info": info,
    }
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{run_id}.json"), "x") as fh:
        json.dump(artifact, fh, default=float)

    for line in failures + problems[:20]:
        print(f"FAIL {line}")
    for k, v in (artifact["details"] or {}).items():
        print(f"{k:16s} {json.dumps(v, default=float)}")
    print(f"{'peak_rss_mb':16s} {max(rss):.1f}")
    print(f"{'failed_ratio':16s} {failed}/{attempted} = {failed / attempted:.4f}")
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:>16.4f} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

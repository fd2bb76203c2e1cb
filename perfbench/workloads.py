"""The benchmark's workloads. Each calls only the engine's public entry
points and gets its inputs from ``datagen`` under one seed.

A workload has four phases: ``generate`` (inputs), ``warm`` (the timed
operation, or the work it reads from, run once in set-up; the caller then
runs ``warm_passes`` more untimed passes, so Python workers, imports,
generated code and the JIT are ready), ``run_pass`` (one timed operation),
and ``check`` (outputs against an independent oracle, outside the timed
region).
"""

from __future__ import annotations

import math
import os
import time
from contextlib import ExitStack, contextmanager

import numpy as np
import pandas as pd

from zipline_chronon_spark.catalog import ParquetWarehouse

from perfbench import datagen
from perfbench.harness import (NoTracer, TimedKv, Tracer, dir_bytes, materialize,
                               summary, total_ms)

MS_DAY = 86_400_000


@contextmanager
def _patched(owner, attr: str, value):
    """Replace ``owner.attr`` with ``value`` while active."""
    orig = getattr(owner, attr)
    setattr(owner, attr, value)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


@contextmanager
def _wrapped(owner, attr: str, tracer: Tracer, span: str):
    """Put a span around every call of ``owner.attr`` while active."""
    orig = getattr(owner, attr)

    def call(*a, **kw):
        with tracer.span(span):
            return orig(*a, **kw)

    with _patched(owner, attr, call):
        yield


class Workload:
    name = ""
    sizes: dict[str, dict] = {}
    warm_passes = 1

    def __init__(self, size: str, seed: int, work: str):
        self.p = self.sizes[size]
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")
        self.tracer: Tracer = NoTracer()
        self.collector = None  # the PlanCollector of a traced pass
        self.passes = 0

    def pass_dir(self, kind: str) -> str:
        """A fresh output directory. Nothing is deleted before the run ends:
        on a disk mounted with ``discard`` a large delete stalls the writes
        that follow it."""
        self.passes += 1
        return os.path.join(self.work, kind, f"pass-{self.passes}")

    def generate(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark) -> dict:
        """Run the timed operation once; return its per-pass figures,
        ``wall_s`` at least."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """Return one line per wrong output (empty when all are right)."""
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        """Layer figures from the last traced pass that only this workload
        can take (plan metrics and spans are collected by the caller)."""
        return {}

    def python_split(self, py_nodes: list[dict]) -> dict[str, float]:
        return {}

    def details(self, passes: list[dict]) -> dict:
        """The workload's own named figures, with sample counts."""
        return {"wall_s": summary([p["wall_s"] for p in passes]),
                "cpu_s": summary([p["cpu_s"] for p in passes]),
                "reference_ms": summary([1000 * p["ref_s"] for p in passes]),
                "wall_per_reference": summary([p["wall_s"] / p["ref_s"] for p in passes])}


# ---------------------------------------------------------------------------


def _flagship_gb(path: str):
    """The flagship transcript GroupBy (the north-rule backfill shape)."""
    from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy,
                                           Operation, Query, TimeUnit, Window)

    w1h, w1d, w7d = (Window(1, TimeUnit.HOURS), Window(1, TimeUnit.DAYS),
                     Window(7, TimeUnit.DAYS))
    return GroupBy(
        name="bench_convo",
        sources=(EventSource(
            table=path,
            query=Query(
                selects={"conv_id": "conv_id", "turn_idx": "turn_idx", "role": "role",
                         "text": "text", "len_text": "length(text)"},
                time_column="ts",
            ),
        ),),
        key_columns=("conv_id",),
        aggregations=(
            Aggregation("text", Operation.COUNT, windows=(w1h, w1d, w7d, None)),
            Aggregation("len_text", Operation.SUM, windows=(w1d,)),
            Aggregation("len_text", Operation.AVERAGE, windows=(w1d,)),
            Aggregation("text", Operation.LAST_K, arg_map=(("k", "3"),), windows=(None,)),
            Aggregation("text", Operation.COUNT, windows=(w1d,), buckets=("role",)),
        ),
        tie_breaker_column="turn_idx",
    )


class TranscriptBackfill(Workload):
    name = "transcript_backfill"
    sizes = {
        "full": {"turns": 80_000, "avg_turns": 20, "n_days": 14, "step_days": 7,
                 "sample_convs": 3, "hot_queries": 60},
        "smoke": {"turns": 3_000, "avg_turns": 10, "n_days": 8, "step_days": 7,
                  "sample_convs": 2, "hot_queries": 20},
    }
    # two untimed passes after the cold one: the first timed pass was still
    # about 10% slower than the next after only one
    warm_passes = 2
    ROW_ID = "xxhash64(conv_id, turn_idx)"
    PASSTHROUGH = {"conv_id": "conv_id", "turn_idx": "turn_idx"}

    def generate(self) -> None:
        p = self.p
        pdf = datagen.transcripts(p["turns"], p["avg_turns"], p["n_days"], self.seed)
        days = pd.date_range(pd.Timestamp(datagen.TRANSCRIPTS_START), periods=p["n_days"])
        self.pdf = pdf
        self.turns = len(pdf)
        self.ds_min, self.ds_max = days[0].strftime("%Y-%m-%d"), days[-1].strftime("%Y-%m-%d")
        self.path = datagen.write_parquet(
            pdf.drop(columns="ds"), os.path.join(self.data, "transcripts"), 8)
        self.gb = _flagship_gb(self.path)

    def _backfill(self, spark, out: str, start: str, end: str) -> dict:
        from zipline_chronon_spark.plans.backfill import GroupByBackfill

        catalog = None if isinstance(self.tracer, NoTracer) else SpannedWarehouse(spark, self)
        job = GroupByBackfill(spark, self.gb, out, self.ROW_ID,
                              passthrough=self.PASSTHROUGH, catalog=catalog)
        return job.run(start, end, step_days=self.p["step_days"])

    def warm(self, spark) -> None:
        self._backfill(spark, self.pass_dir("warm"), self.ds_min, self.ds_max)

    def run_pass(self, spark) -> dict:
        from zipline_chronon_spark.operators import pit_join

        out = self.out = self.pass_dir("out")
        with _wrapped(pit_join, "compute_group_by_self", self.tracer, "operators.pit_join.plan"):
            t0 = time.perf_counter()
            with self.tracer.span("plans.backfill.run"):
                res = self._backfill(spark, out, self.ds_min, self.ds_max)
            wall = time.perf_counter() - t0
        chunks = res["computed_chunks"]
        self.last = {
            "plans.backfill.chunks": len(chunks),
            "plans.backfill.chunk_ms": 1000 * sum(c["wall_sec"] for c in chunks) / len(chunks),
        }
        return {"wall_s": wall}

    def layers(self) -> dict[str, float]:
        return self.last

    def details(self, passes: list[dict]) -> dict:
        return {**super().details(passes),
                "turns_per_s": summary([self.turns / p["wall_s"] for p in passes])}

    def check(self, spark) -> list[str]:
        from tests import naive_oracle

        bad = []
        got = spark.read.parquet(self.out).toPandas()
        if len(got) != self.turns:
            bad.append(f"backfill rows {len(got)} != turns {self.turns}")
        rng = np.random.default_rng(self.seed)
        convs = sorted(self.pdf["conv_id"].unique())
        sample = [datagen.HOT_CONV] + list(rng.choice(convs[1:], self.p["sample_convs"],
                                                   replace=False))
        ev = self.pdf.assign(
            ts_ms=(self.pdf["ts"].astype("int64") // 1000).astype("int64"),
            len_text=self.pdf["text"].str.len())
        for conv in sample:
            cev = ev[ev["conv_id"] == conv]
            q = cev
            if len(q) > self.p["hot_queries"]:
                q = q.iloc[np.linspace(0, len(q) - 1, self.p["hot_queries"]).astype(int)]
            want = naive_oracle.naive_features(cev, q, self.gb, tie_col="turn_idx")
            have = got[got["conv_id"] == conv].set_index("turn_idx")
            for _, row in want.iterrows():
                if row["turn_idx"] not in have.index:
                    bad.append(f"{conv} turn {row['turn_idx']} missing")
                    continue
                h = have.loc[row["turn_idx"]]
                for part in self.gb.parts():
                    c = part.output_name
                    if not _same(h[c], row[c]):
                        bad.append(f"{conv} turn {row['turn_idx']} {c}: {h[c]!r} != {row[c]!r}")
        return bad


def _same(a, b) -> bool:
    """Feature equality: nulls equal nulls, floats to 1e-6, containers
    element-wise (Spark maps arrive as dicts or lists of pairs)."""
    if isinstance(a, list) and a and isinstance(a[0], tuple):
        a = dict(a)
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, dict) or isinstance(b, dict):
        return (isinstance(a, dict) and isinstance(b, dict) and a.keys() == b.keys()
                and all(_same(a[k], b[k]) for k in a))
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))
    return a == b


class SpannedWarehouse(ParquetWarehouse):
    """The backfill's catalog with a span around each insert. The insert
    writes the chunk's lazy frame, so the span covers the chunk's whole
    Spark job (scan, PIT kernels, shuffle and parquet write), not the
    catalog alone; the catalog's own figures come from the write node of
    the final plan (``catalog.*``)."""

    def __init__(self, spark, owner: TranscriptBackfill):
        super().__init__(spark)
        self.owner = owner

    def insert_partitions(self, df, table, partition_col="ds"):
        with self.owner.tracer.span("plans.backfill.chunk_exec"):
            super().insert_partitions(df, table, partition_col)


# ---------------------------------------------------------------------------


class _EventsWorkload(Workload):
    def generate(self) -> None:
        p = self.p
        self.events = datagen.events(p["n_events"], p["n_users"], self.seed)
        datagen.write_parquet(self.events, os.path.join(self.data, "events.parquet"), 4)


class SketchServe(_EventsWorkload):
    """``q_approx_serve`` alone, on half of sf0.1's events with its 1,500
    users. Not declared in ``BENCHMARK.json``: the same query runs inside
    ``driver_suite``, and a third declared workload does not fit the
    benchmark's time budget. Run it to study ``approx_engine`` on a larger
    input."""

    name = "sketch_serve"
    sizes = {
        "full": {"n_events": 50_000, "n_users": 1500},
        "smoke": {"n_events": 5_000, "n_users": 100},
    }

    def _serve(self, spark, data_dir: str):
        import __spark_entry__ as entry
        from zipline_chronon_spark.operators import approx_engine

        with _wrapped(approx_engine, "compute_group_by_approx", self.tracer, "approx.plan"):
            df = entry.q_approx_serve(spark, data_dir)
        return df

    def warm(self, spark) -> None:
        # collected rather than sent to the noop sink: check() compares
        # these rows, so the run computes the served output once less
        self.served = self._serve(spark, self.data).toPandas()

    def run_pass(self, spark) -> dict:
        t0 = time.perf_counter()
        with self.tracer.span("approx.serve"):
            df = self._serve(spark, self.data)
            with self.tracer.span("spark.execute"):
                materialize(df)
        wall = time.perf_counter() - t0
        return {"wall_s": wall}

    def python_split(self, py_nodes: list[dict]) -> dict[str, float]:
        return _approx_split(py_nodes)

    def check(self, spark) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        try:
            glob = os.path.join(self.data, "events.parquet", "*.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')")
            want = con.execute(entry.o_approx_serve()).fetchdf()
        finally:
            con.close()
        return _frame_diff(self.served, want, "event_id")


def _approx_split(py_nodes: list[dict]) -> dict[str, float]:
    """Python time of ``q_approx_serve``'s plans: the serve UDF is the
    top-most Python node of the served plan; every other one builds tiles."""
    return {"approx.serve_py_ms": sum(n["udf_ms"] for n in py_nodes if n["rank"] == 0),
            "approx.tile_build_py_ms": sum(n["udf_ms"] for n in py_nodes if n["rank"] > 0)}


def _frame_diff(got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    m = got.merge(want, on=key, how="outer", suffixes=("_g", "_w"), indicator=True)
    bad = [f"{int((m['_merge'] != 'both').sum())} unmatched {key}s"] \
        if (m["_merge"] != "both").any() else []
    for c in got.columns:
        if c == key:
            continue
        g = pd.to_numeric(m[f"{c}_g"], errors="coerce").astype(float).to_numpy()
        w = pd.to_numeric(m[f"{c}_w"], errors="coerce").astype(float).to_numpy()
        diff = ~((np.isnan(g) & np.isnan(w)) | (np.abs(g - w) <= 1e-9 * np.maximum(1, np.abs(w))))
        if diff.any():
            i = int(np.flatnonzero(diff)[0])
            bad.append(f"{c}: {int(diff.sum())} rows differ, e.g. {key}={m[key].iloc[i]} "
                       f"{g[i]!r} != {w[i]!r}")
    return bad


# ---------------------------------------------------------------------------


def _online_gb(path: str):
    from zipline_chronon_spark.api import (Aggregation, EventSource, GroupBy,
                                           Operation, Query, TimeUnit, Window)

    w1d = Window(1, TimeUnit.DAYS)
    return GroupBy(
        name="serve",
        sources=(EventSource(
            table=path,
            query=Query(time_column="ts",
                        selects={"user_id": "user_id", "value": "value",
                                 "event_type": "event_type"}),
        ),),
        key_columns=("user_id",),
        aggregations=(
            Aggregation("value", Operation.SUM, windows=(w1d,)),
            Aggregation("value", Operation.COUNT, windows=(None,)),
            Aggregation("value", Operation.MAX, windows=(Window(6, TimeUnit.HOURS),)),
            Aggregation("event_type", Operation.APPROX_UNIQUE_COUNT, windows=(w1d, None)),
            Aggregation("value", Operation.APPROX_PERCENTILE,
                        arg_map=(("percentiles", "[0.5, 0.95]"),), windows=(w1d,)),
        ),
    )


class OnlineFetch(_EventsWorkload):
    """Write phase (set-up): batch IRs at T0, then stream events over
    (T0, T_end], into a ``DirKv``. Read phase (one pass): one client in a
    closed loop sends single-key fetches (zipf keys, timestamps spread over
    the stream window); after every ``batch_every``-th it sends a
    ``fetch_batch`` of ``batch_keys`` keys. The uploads sit in set-up
    because their time varies by a third from process to process on this
    host, which would hide any change to the reads.

    Not declared in ``BENCHMARK.json``: the read pass is single-threaded
    Python, and its time follows the host's single-core speed, which swung
    1.8x within one run on the 4-core host the benchmark was built on
    (``reference_ms`` moved with it). Compare runs by ``wall_per_reference``."""

    name = "online_fetch"
    sizes = {
        "full": {"n_events": 50_000, "n_users": 1500, "t0_day": 27, "stream_hours": 24,
                 "fetches": 1000, "batch_every": 250, "batch_keys": 100},
        "smoke": {"n_events": 5_000, "n_users": 100, "t0_day": 27, "stream_hours": 40,
                  "fetches": 100, "batch_every": 50, "batch_keys": 20},
    }

    def generate(self) -> None:
        super().generate()
        p = self.p
        self.gb = _online_gb(os.path.join(self.data, "events.parquet"))
        self.t0 = datagen.EVENTS_START_MS + p["t0_day"] * MS_DAY
        self.t_end = self.t0 + p["stream_hours"] * 3_600_000
        rng = np.random.default_rng(self.seed + 1)
        perm = rng.permutation(p["n_users"])
        n = p["fetches"]
        self.keys = perm[(rng.zipf(1.1, size=n) - 1) % p["n_users"]]
        self.ts = rng.integers(self.t0 + 1, self.t_end + 1, size=n)
        self.batches = [sorted(rng.choice(p["n_users"], p["batch_keys"], replace=False))
                        for _ in range(n // p["batch_every"])]

    def warm(self, spark) -> None:
        from zipline_chronon_spark.online.fetcher import (upload_batch_state,
                                                          upload_stream_events)
        from zipline_chronon_spark.online.kv import DirKv

        root = self.pass_dir("kv")
        self.store = DirKv(root)
        t0 = time.perf_counter()
        n_batch = upload_batch_state(self.store, spark, self.gb, self.t0)
        t1 = time.perf_counter()
        n_stream = upload_stream_events(self.store, spark, self.gb, self.t0, self.t_end)
        t2 = time.perf_counter()
        self.upload = {"online.fetcher.upload_batch_ms": (t1 - t0) * 1000,
                       "online.fetcher.upload_stream_ms": (t2 - t1) * 1000,
                       "online.kv.rows_written": n_batch + n_stream,
                       "online.kv.bytes_stored": dir_bytes(root)}

    def run_pass(self, spark) -> dict:
        from zipline_chronon_spark.online.fetcher import Fetcher

        kv = (self.store if isinstance(self.tracer, NoTracer)
              else TimedKv(self.store, self.tracer))
        start = time.perf_counter()
        f = Fetcher(kv, self.gb)
        single, batch, self.responses = [], [], []
        every = self.p["batch_every"]
        for i, (k, ts) in enumerate(zip(self.keys, self.ts)):
            t0 = time.perf_counter()
            with self.tracer.span("online.fetcher.fetch"):
                r = f.fetch((int(k),), at_ts_ms=int(ts))
            single.append((time.perf_counter() - t0) * 1000)
            self.responses.append((int(k), int(ts), r))
            if (i + 1) % every == 0:
                keys = self.batches[(i + 1) // every - 1]
                t0 = time.perf_counter()
                with self.tracer.span("online.fetcher.fetch_batch"):
                    rs = f.fetch_batch([(int(u),) for u in keys], at_ts_ms=int(ts))
                batch.append((time.perf_counter() - t0) * 1000)
                self.responses.extend((int(u), int(ts), r) for u, r in zip(keys, rs))
        wall = time.perf_counter() - start
        self.last = {}
        if isinstance(kv, TimedKv):
            self.last.update({f"online.kv.{k}": v for k, v in kv.c.items()})
            self.last.update({"online.kv.get_ms": kv.get_ms, "online.kv.scan_ms": kv.scan_ms})
        self.last.update(self.upload)  # the writes happened in set-up
        return {"wall_s": wall, "fetches_per_s": len(single) / (sum(single) / 1000),
                "ops": len(single) + len(batch), "fetch_ms": single,
                "batch_fetch_ms": batch}

    def layers(self) -> dict[str, float]:
        return self.last

    def details(self, passes: list[dict]) -> dict:
        return {**super().details(passes),
                "upload_s": (self.upload["online.fetcher.upload_batch_ms"]
                             + self.upload["online.fetcher.upload_stream_ms"]) / 1000,
                "fetch_ms": summary([x for p in passes for x in p["fetch_ms"]]),
                "fetches_per_s": summary([p["fetches_per_s"] for p in passes]),
                "batch_fetch_ms": summary([x for p in passes for x in p["batch_fetch_ms"]])}

    def check(self, spark) -> list[str]:
        """Every response of the last pass against the offline engine at the
        same key and timestamp."""
        from zipline_chronon_spark.operators.pit_join import compute_group_by

        q = pd.DataFrame({"user_id": [k for k, _, _ in self.responses],
                          "ts": [t for _, t, _ in self.responses]})
        q["__row_id"] = np.arange(len(q), dtype=np.int64)
        off = (compute_group_by(spark, self.gb, spark.createDataFrame(q), row_id="__row_id")
               .toPandas().set_index("__row_id").sort_index())
        bad = []
        for i, (k, ts, got) in enumerate(self.responses):
            want = off.loc[i]
            for c in off.columns:
                if not _same(got.get(c), want[c]):
                    bad.append(f"user {k} at {ts} {c}: {got.get(c)!r} != {want[c]!r}")
        return bad


# ---------------------------------------------------------------------------


class _Collected:
    """Rows collected earlier, in the shape ``mini_driver.compare`` reads."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 (DataFrame interface)
        return self.pdf


class DriverSuite(Workload):
    """One driver query (``__spark_entry__.queries()``) per engine module the
    backfill leaves idle, run one after another, each sent to the noop sink:
    ``approx_serve`` (approx_engine), ``dedup_minhash_lsh`` (dedup),
    ``ann_cosine_topk`` (similarity), ``entities_temporal``,
    ``join_snapshot`` (join, with a SNAPSHOT-accuracy part), ``drift_psi``
    (plans.drift), ``staging_pricing`` (plans.staging) and ``online_fetch``
    (online.fetcher and online.kv: batch IR upload, stream upload and
    ``fetch_batch`` over an in-memory store). Every query costs about the
    same whatever its input size here: a pass is mostly the fixed cost of
    its Spark jobs, so the inputs are kept small and the check quick."""

    name = "driver_suite"
    QUERIES = ("approx_serve", "dedup_minhash_lsh", "ann_cosine_topk", "entities_temporal",
               "join_snapshot", "drift_psi", "staging_pricing", "online_fetch")
    TABLES = ("events", "documents", "embeddings", "lineitem")
    warm_passes = 0  # warm() already runs every query once; a pass is long
    approx_execs = range(0)  # executions of approx_serve in the last traced pass
    sizes = {
        "full": {"n_events": 5_000, "n_users": 500, "n_docs": 1000, "n_vecs": 500,
                 "dim": 64, "n_lineitem": 20_000},
        "smoke": {"n_events": 2_000, "n_users": 200, "n_docs": 200, "n_vecs": 100,
                  "dim": 16, "n_lineitem": 2_000},
    }

    def generate(self) -> None:
        p, d = self.p, self.data
        datagen.write_parquet(datagen.events(p["n_events"], p["n_users"], self.seed),
                              os.path.join(d, "events.parquet"), 4)
        datagen.write_parquet(datagen.documents(p["n_docs"], self.seed),
                              os.path.join(d, "documents.parquet"), 2)
        datagen.write_parquet(datagen.embeddings(p["n_vecs"], p["dim"], self.seed),
                              os.path.join(d, "embeddings.parquet"), 2)
        datagen.write_parquet(datagen.lineitem(p["n_lineitem"], self.seed),
                              os.path.join(d, "lineitem.parquet"), 4)

    def _queries(self):
        import __spark_entry__ as entry

        qs = entry.queries()
        return [(q, qs[q]) for q in self.QUERIES]

    def warm(self, spark) -> None:
        # collected rather than sent to the noop sink: check() compares
        # these rows
        self.got = {q: fn(spark, self.data).toPandas() for q, fn in self._queries()}

    def run_pass(self, spark) -> dict:
        from zipline_chronon_spark.online import fetcher, kv
        from zipline_chronon_spark.operators import approx_engine

        stores: list[TimedKv] = []

        def timed_store():
            stores.append(TimedKv(in_memory(), self.tracer))
            return stores[-1]

        in_memory = kv.InMemoryKv
        first_span = len(self.tracer.spans)
        times = {}
        traced = not isinstance(self.tracer, NoTracer)
        with ExitStack() as stack:
            if traced:
                stack.enter_context(_patched(kv, "InMemoryKv", timed_store))
                for attr, span in (("upload_batch_state", "online.fetcher.upload_batch"),
                                   ("upload_stream_events", "online.fetcher.upload_stream")):
                    stack.enter_context(_wrapped(fetcher, attr, self.tracer, span))
                stack.enter_context(_wrapped(fetcher.Fetcher, "fetch_batch", self.tracer,
                                             "online.fetcher.fetch_batch"))
                stack.enter_context(_wrapped(approx_engine, "compute_group_by_approx",
                                             self.tracer, "approx.plan"))
            for q, fn in self._queries():
                split = traced and q == "approx_serve"  # tell its plans from the others'
                first_exec = self.collector.count() if split else 0
                t0 = time.perf_counter()
                with self.tracer.span(f"suite.{q}"):
                    materialize(fn(spark, self.data))
                times[q] = time.perf_counter() - t0
                if split:
                    self.approx_execs = range(first_exec, self.collector.count())
        wall = sum(times.values())
        spans = self.tracer.spans[first_span:]
        self.last = {f"suite.{q}_s": t for q, t in times.items()}
        self.last["online.fetcher.upload_batch_ms"] = total_ms(spans, "online.fetcher.upload_batch")
        self.last["online.fetcher.upload_stream_ms"] = total_ms(
            spans, "online.fetcher.upload_stream")
        for store in stores:
            self.last.update({f"online.kv.{k}": v for k, v in store.c.items()})
            self.last.update({"online.kv.get_ms": store.get_ms, "online.kv.scan_ms": store.scan_ms,
                              "online.kv.bytes_stored": sum(
                                  len(k) + len(v) for d in store.inner.data.values()
                                  for k, v in d.items())})
        return {"wall_s": wall, "suite_s": times}

    def layers(self) -> dict[str, float]:
        return self.last

    def python_split(self, py_nodes: list[dict]) -> dict[str, float]:
        return _approx_split([n for n in py_nodes if n["exec"] in self.approx_execs])

    def details(self, passes: list[dict]) -> dict:
        return {**super().details(passes),
                **{f"suite.{q}_s": summary([p["suite_s"][q] for p in passes])
                   for q in self.QUERIES}}

    def check(self, spark) -> list[str]:
        import duckdb

        import __spark_entry__ as entry
        from tests.mini_driver import compare

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        bad = []
        try:
            for t in self.TABLES:
                glob = os.path.join(self.data, f"{t}.parquet", "*.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
            for q in self.QUERIES:
                res = compare(_Collected(self.got[q]), con.execute(oracles[q]).fetchdf())
                if not res["ok"]:
                    bad.append(f"{q}: rows {res['rows']} schema_match {res['schema_match']} "
                               f"dtype {res['dtype_mismatch']} mismatches {res['mismatches'][:2]}")
        finally:
            con.close()
        return bad


WORKLOADS = {w.name: w for w in (TranscriptBackfill, SketchServe, OnlineFetch, DriverSuite)}

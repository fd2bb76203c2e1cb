"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row-count + column names + values (order-insensitive)."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except duckdb.IOException:
            pass
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        f = round(f, 9)
        return int(f) if f.is_integer() else f
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        # the REAL driver's canonicalizer crashes on container cells
        # (CORRECTNESS_r01 "unhashable type: 'list'") — mirror that so any
        # query leaking a raw array/map column fails loudly here first
        raise TypeError(f"container cell would crash the driver canonicalizer: {v!r}")
    return v


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    # build explicitly object-dtyped columns: plain assignment would coerce
    # back to float64 and turn None into NaN again
    cols = {c: pd.Series([_norm_cell(v) for v in df[c]], dtype=object) for c in sorted(df.columns)}
    ndf = pd.DataFrame(cols)
    order = sorted(range(len(ndf)), key=lambda i: tuple(str(ndf[c].iloc[i]) for c in ndf.columns))
    return ndf.iloc[order].reset_index(drop=True)


def _kinds(df: pd.DataFrame) -> dict:
    out = {}
    for c in df.columns:
        k = df[c].dtype.kind
        out[c] = {"i": "i", "u": "i", "f": "f", "b": "b"}.get(k, "o")
    return out


def compare(spark_df, oracle_pdf: pd.DataFrame) -> dict:
    got_raw, exp_raw = spark_df.toPandas(), oracle_pdf
    got = _normalize(got_raw)
    exp = _normalize(exp_raw)
    gk, ek = _kinds(got_raw), _kinds(exp_raw)
    # the real driver's value hash is dtype-sensitive: int64 0 vs float64 0.0
    # hash-differ (CORRECTNESS_r01 sessionize). Flag i-vs-f kind divergence.
    dtype_bad = [
        (c, gk[c], ek[c]) for c in gk
        if c in ek and {gk[c], ek[c]} == {"i", "f"}
    ]
    res = {
        "rows_match": len(got) == len(exp),
        "rows": (len(got), len(exp)),
        "schema_match": list(got.columns) == list(exp.columns),
        "schema": (list(got.columns), list(exp.columns)),
        "dtype_mismatch": dtype_bad,
        "mismatches": [],
    }
    if res["rows_match"] and res["schema_match"]:
        for c in got.columns:
            a, b = got[c].tolist(), exp[c].tolist()
            bad = [(i, a[i], b[i]) for i in range(len(a)) if a[i] != b[i]]
            if bad:
                res["mismatches"].append((c, len(bad), bad[:3]))
    res["ok"] = (res["rows_match"] and res["schema_match"]
                 and not res["mismatches"] and not dtype_bad)
    return res


def python_nodes(spark_df) -> list[str]:
    """The Python UDF node names (``MapInArrow``, ``FlatMapGroupsInPandas``,
    …) in ``spark_df``'s executed plan; read after the query has run, so no
    second run is started."""
    plan = spark_df._jdf.queryExecution().executedPlan().toString()
    return sorted(set(re.findall(r"\b\w*In(?:Arrow|Pandas)\b", plan)))


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, dict]:
    import __spark_entry__ as entry_mod

    con = duck_con(sf_dir)
    results = {}
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        if name not in os_:
            # non-SQL-expressible op: rows-only check (driver does the same)
            results[name] = {"ok": sdf.count() >= 0, "rows_only": True}
        else:
            results[name] = compare(sdf, con.execute(os_[name]).fetchdf())
        results[name]["python_nodes"] = python_nodes(sdf)
    return results

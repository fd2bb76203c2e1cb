"""Seeded benchmark inputs, written as parquet inside the benchmark's work
directory. The engine only ever sees these files.

- ``events``: the driver's ``events`` table shape (event_id, ts, user_id,
  event_type, value, props) over 30 days from 2024-01-01, the layout
  ``__spark_entry__`` queries read from ``{sf_dir}/events.parquet``.
- ``transcripts``: the engine's own transcript generator
  (``sources.transcripts``) with one hot conversation, trimmed to an exact
  turn count, split into several part files as a real table would be.
- ``documents``, ``embeddings``, ``lineitem``: the driver's tables of those
  names (same columns), read by the dedup, similarity and staging queries.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
EVENTS_DAYS = 30
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def events(n_events: int, n_users: int, seed: int) -> pd.DataFrame:
    """Uniform users and types, exponential values. Values are at least 0.01:
    ``join_flagship`` divides by a last value, and a benchmark input must not
    make an operation fail."""
    rng = np.random.default_rng(seed)
    ts_us = np.sort(rng.integers(0, EVENTS_DAYS * 86_400_000_000, size=n_events))
    ts_us += EVENTS_START_MS * 1000
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, size=n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n_events)],
        "value": np.round(0.01 + rng.exponential(50.0, size=n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
    })


TRANSCRIPTS_START = "2026-01-01"  # sources.transcripts.BASE_TS_MS


HOT_CONV = "conv_000000"


def transcripts(n_turns: int, avg_turns: int, n_days: int, seed: int) -> pd.DataFrame:
    """Exactly ``n_turns`` turns over ``n_days`` days: the hot conversation
    whole, and a seeded sample of the other conversations' turns. Every
    seed thus backfills the same number of rows in the same chunks."""
    from zipline_chronon_spark.sources.transcripts import generate_transcripts

    hot = avg_turns * 50
    n_convs = int(1.5 * (n_turns - hot) / avg_turns) + 1
    pdf = generate_transcripts(n_convs=n_convs, avg_turns=avg_turns, n_days=n_days,
                               seed=seed, hot_conv_factor=50)
    # long conversations run past the last day; cut them there
    end = pd.Timestamp(TRANSCRIPTS_START) + pd.Timedelta(days=n_days)
    pdf = pdf[pdf["ts"] < end]
    others = np.flatnonzero(pdf["conv_id"].to_numpy() != HOT_CONV)
    keep = np.random.default_rng(seed).choice(others, n_turns - (len(pdf) - len(others)),
                                              replace=False)
    mask = pdf["conv_id"].to_numpy() == HOT_CONV
    mask[keep] = True
    return pdf[mask].reset_index(drop=True)


WORDS = np.array("spark window merge table column vector stream value data small join "
                 "filter big group hash customer sort order slow line part fast row the "
                 "agg key query a scan batch".split())


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """Word-salad documents over one small vocabulary; one in ten copies an
    earlier document, and half of those copies change one word, so the
    dedup queries find exact and near duplicates."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        if i and rng.random() < 0.1:
            words = texts[rng.integers(0, i)].split()
            if rng.random() < 0.5:
                words[rng.integers(0, len(words))] = "dup"
        else:
            words = list(WORDS[rng.integers(0, len(WORDS), size=rng.integers(8, 96))])
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], size=n_docs,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(n_vecs: int, dim: int, seed: int) -> pd.DataFrame:
    """Unit vectors scattered around ten labelled centroids."""
    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n_vecs)
    v = centroids[label] + rng.normal(scale=0.8, size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                         "embedding": list(v), "label": label.astype(np.int32)})


def lineitem(n_rows: int, seed: int) -> pd.DataFrame:
    """TPC-H ``lineitem`` columns, ship dates over 1992-2003."""
    rng = np.random.default_rng(seed)
    qty = rng.integers(1, 51, size=n_rows).astype(np.float64)
    lo, hi = np.datetime64("1992-01-01", "us"), np.datetime64("2004-01-01", "us")
    ship = lo + (rng.integers(0, (hi - lo).astype(np.int64) // 86_400_000_000, size=n_rows)
                 * 86_400_000_000).astype("timedelta64[us]")
    return pd.DataFrame({
        "l_orderkey": rng.integers(1, n_rows // 4 + 2, size=n_rows).astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, size=n_rows).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, size=n_rows).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n_rows).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_rows), 2),
        "l_discount": rng.integers(0, 11, size=n_rows) / 100,
        "l_tax": rng.integers(0, 9, size=n_rows) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_rows),
        "l_linestatus": rng.choice(["F", "O"], size=n_rows),
        "l_shipdate": ship,
    })


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int) -> str:
    """Write ``pdf`` as a directory of ``n_files`` parquet parts (one file
    caps scan parallelism at its split count)."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        piece = tbl.slice(i * step, step)
        if piece.num_rows:
            pq.write_table(piece, os.path.join(path, f"part-{i:04d}.parquet"))
    return path

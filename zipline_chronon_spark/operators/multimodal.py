"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schema contract, Arrow batching,
partition sizing, UDF signatures; the actual media decoding is stubbed
behind ``decoder`` because no image/audio libraries ship in this container
(a real deployment passes e.g. a PIL/torchaudio-backed decoder with the
same ``bytes -> dict`` signature).

Design for 100 TB of media:
 - binaries stay in their own column and are only read by stages that need
   them (parquet column pruning keeps metadata-only queries cheap);
 - decode/feature-extract runs in ``mapInArrow`` so each task streams
   Arrow batches instead of materializing a partition of blobs; the id
   columns pass through as Arrow arrays and only the blobs reach Python;
 - ``target_batch_bytes`` guides repartitioning so one batch of decoded
   frames fits executor memory.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = (
    "media_bytes long, sha256 string, format string, width int, height int, "
    "n_frames int, duration_ms long"
)


def stub_decoder(payload: bytes) -> dict:
    """Deterministic fake decoder (the container has no media libs).

    Real deployments swap in e.g. PIL: same signature, returns the same
    keys. Raises on empty payloads like a real decoder would."""
    if not payload:
        raise ValueError("empty media payload")
    h = hashlib.sha256(payload).hexdigest()
    return {
        "sha256": h,
        "format": "fake",
        "width": 16 + int(h[:2], 16),
        "height": 16 + int(h[2:4], 16),
        "n_frames": 1 + int(h[4], 16),
        "duration_ms": int(h[:6], 16),
    }


def extract_media_metadata(
    df: DataFrame,
    binary_col: str = "media",
    id_cols: tuple[str, ...] = ("doc_id",),
    decoder: Optional[Callable[[bytes], dict]] = None,
    target_batch_bytes: int = 256 << 20,
) -> DataFrame:
    """binary column -> typed metadata row per record via Arrow batches."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    decoder = decoder or stub_decoder
    meta_schema = _parse_datatype_string(MEDIA_META_SCHEMA)
    out_schema = StructType(df.select(*id_cols).schema.fields + meta_schema.fields)
    meta = to_arrow_schema(meta_schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if not b.num_rows:
                continue
            metas = [{} if p is None else {**decoder(p), "media_bytes": len(p)}
                     for p in b.column(binary_col).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in id_cols]
                + [pa.array([m.get(f.name) for m in metas], f.type) for f in meta],
                names=[*id_cols, *meta.names])

    # size partitions so one task's blobs fit comfortably in memory —
    # from parquet FOOTER metadata (column-chunk sizes), not a data scan
    # of every blob byte
    src = df.select(*id_cols, binary_col)
    total = _blob_bytes_from_metadata(src, binary_col)
    if total is None:
        # not a plain file scan (or non-parquet): keep the plan's own
        # partitioning rather than paying a full blob pass just to count
        return src.mapInArrow(run, schema=out_schema)
    n_parts = max(1, int(total // target_batch_bytes) + 1)
    return src.repartition(n_parts).mapInArrow(run, schema=out_schema)


def _blob_bytes_from_metadata(df: DataFrame, binary_col: str) -> Optional[int]:
    """Total uncompressed bytes of ``binary_col`` summed from the parquet
    footers of the plan's input files — a metadata-only read (footers are
    KBs), vs the replaced F.sum(F.length(blob)) pre-scan which read every
    blob byte once just to pick a partition count. Returns None when the
    plan is not a simple file scan; filters make this an upper bound,
    which is the safe direction for sizing."""
    import pyarrow.parquet as pq
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for f in files:
        path = urlparse(f).path or f
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        found = False
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == binary_col:
                    total += col.total_uncompressed_size
                    found = True
        if not found:
            return None
    return total


def frame_sample_stub(
    df: DataFrame,
    binary_col: str = "media",
    id_cols: tuple[str, ...] = ("doc_id",),
    every_n: int = 2,
) -> DataFrame:
    """Frame sampling plumbing: one output row per sampled frame index.
    Decode is the stub; the explode/batch shape is the real contract."""
    meta = extract_media_metadata(df, binary_col, id_cols)
    return meta.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)),
                             F.lit(every_n))),
    ).select(*id_cols, "sha256", "frame_idx")

"""Similarity search over embedding columns (array<float>).

Two paths, both fully distributed (nothing data-scale ever reaches the
driver — no toPandas/collect anywhere):

 - brute_force_topk: exact cosine top-k via block-partitioned GEMM.
   The corpus is hash-split into B blocks; each query row is replicated
   to every block id; one cogrouped Arrow task per block scores its
   queries x block matrix (numpy GEMM) and emits that block's top-k
   candidates; a window merges per-block candidates to the global top-k.
   Shuffle cost: corpus once + queries xB; per-task memory is one block,
   so B scales with corpus bytes and no single node ever holds the corpus.
 - lsh_bucketed_topk: multi-band random-hyperplane LSH. Each vector lands
   in `n_bands` buckets (one per independent hyperplane set); candidates
   are scored only within a (band, bucket) cell; cross-band duplicates are
   deduped before the global top-k window. Multi-band bounds the recall
   loss of any single band; `max_bucket` caps cell size (deterministic
   stride subsample) so one hot bucket cannot go quadratic.
 - ivf_topk: inverted-file (IVF) partitioned search. A small md5-seeded
   codebook of corpus vectors is the coarse quantizer; every vector is
   assigned to its nearest centroid's cell, each query probes its
   `nprobe` nearest cells, and scoring happens only inside probed cells
   (one cogrouped Arrow GEMM per cell). Cost ~ n * (n/n_cells) * nprobe;
   the codebook is the only driver-side state (n_cells x dim floats —
   the classic IVF broadcast).

Every Python boundary is Arrow (``mapInArrow``, grouped and cogrouped
``applyInArrow``): vectors reach numpy as one flat buffer reshaped to
(n x dim), and every emit is columnar — no per-row Python anywhere.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CAND_SCHEMA = "q long, n long, s double"


# process-wide plane cache: the matrix is a pure function of (seed, dim,
# total), so reused Python workers (spark.python.worker.reuse, on by
# default) pay the dim x total hashlib loop once per executor process
# instead of once per task/batch — at production dim=1024 x 64 planes
# that is 65k md5 calls saved per task (guide §4.5 heavyweight init)
_PLANES_CACHE: dict[tuple[int, int, int], np.ndarray] = {}


def _md5_planes(seed: int, dim: int, total: int) -> np.ndarray:
    """Deterministic (dim x total) hyperplane matrix, replayable by ANY
    engine with md5 (the dedup.py _h60 trick): component (p, d) =
    first-15-hex of md5(f"lsh{seed}:{p}:{d}") as int, centered by -2^59 —
    a uniform signed 60-bit fixed-point value. Sign hashing only needs a
    sign-symmetric component distribution, not gaussian; uniform-cube
    directions trade a small angular bias for exact cross-engine replay
    (recall is property-tested in tests/test_data_ops.py). DuckDB replay:
    ('0x'||substr(md5('lsh'||s||':'||p||':'||d),1,15))::BIGINT
      - 576460752303423488."""
    cached = _PLANES_CACHE.get((seed, dim, total))
    if cached is not None:
        return cached
    vals = np.empty((dim, total), dtype=np.float64)
    for p in range(total):
        for d in range(dim):
            h = hashlib.md5(f"lsh{seed}:{p}:{d}".encode()).hexdigest()[:15]
            vals[d, p] = float(int(h, 16) - (1 << 59))
    _PLANES_CACHE[(seed, dim, total)] = vals
    return vals


def _matrix(vecs) -> np.ndarray:
    """(n x dim) float64 matrix of a ``list<float>`` Array or ChunkedArray of
    equal-length vectors: each chunk's ``flatten()`` (which honours a slice
    offset, unlike ``.values``) reshaped, no Python object per vector."""
    chunks = vecs.chunks if isinstance(vecs, pa.ChunkedArray) else [vecs]
    flat = np.concatenate([c.flatten().to_numpy(zero_copy_only=False)
                           for c in chunks])
    return flat.astype(np.float64).reshape(len(vecs), -1)


def _normalized_matrix(vecs) -> np.ndarray:
    m = _matrix(vecs)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _stride_capped(tbl: pa.Table, id_col: str, cap: int) -> pa.Table:
    """``tbl``, or when it holds more than ``cap`` rows a deterministic
    stride subsample of it in id order: bounded cell cost, documented
    recall tradeoff on pathological hot cells."""
    if tbl.num_rows <= cap:
        return tbl
    order = np.argsort(tbl.column(id_col).to_numpy(), kind="stable")
    return tbl.take(order[:: tbl.num_rows // cap + 1])


def _ids(tbl: pa.Table, id_col: str) -> np.ndarray:
    return tbl.column(id_col).to_numpy().astype(np.int64, copy=False)


def _cand_table(q=(), n=(), s=()) -> pa.Table:
    return pa.table({"q": pa.array(q, pa.int64()), "n": pa.array(n, pa.int64()),
                     "s": pa.array(s, pa.float64())})


def _topk_candidates(q_ids: np.ndarray, q_mat: np.ndarray,
                     c_ids: np.ndarray, c_mat: np.ndarray, k: int) -> pa.Table:
    """Columnar per-query top-k of q x c cosine sims, self excluded, ties by
    neighbor id asc. One GEMM + one flat lexsort — no per-row Python."""
    nq, nc = len(q_ids), len(c_ids)
    sims = q_mat @ c_mat.T
    # self-exclusion: same id gets -inf (ids unique per side)
    sims[q_ids[:, None] == c_ids[None, :]] = -np.inf
    kk = min(k, nc)
    # sim-only top-kk prefilter (np.partition, O(nq*nc)) before the exact
    # (-sim, neighbor_id) lexsort: the sort runs over ~nq*kk survivors
    # instead of all nq*nc scores (the old flat lexsort was the dominant
    # per-cell cost at large nc). Ties AT the kth score are all kept, so
    # the final lexsort-based selection is bit-identical to sorting the
    # full matrix.
    if nc > kk:
        thresh = np.partition(sims, nc - kk, axis=1)[:, nc - kk]
        rows_f, cols_f = np.nonzero(sims >= thresh[:, None])
    else:
        rows_f = np.repeat(np.arange(nq, dtype=np.int64), nc)
        cols_f = np.tile(np.arange(nc, dtype=np.int64), nq)
    svals = sims[rows_f, cols_f]
    cand = c_ids[cols_f]
    order = np.lexsort((cand, -svals, rows_f))
    # every row keeps >= kk survivors (the kth-largest threshold is
    # inclusive), so row r's run in `order` starts at starts[r] and its
    # first kk entries are its exact top-k
    cnt = np.bincount(rows_f, minlength=nq)
    starts = np.zeros(nq, dtype=np.int64)
    np.cumsum(cnt[:-1], out=starts[1:])
    take = (starts[:, None] + np.arange(kk, dtype=np.int64)[None, :]).reshape(-1)
    sel = order[take]
    out_sim = svals[sel]
    keep = np.isfinite(out_sim)  # drops self-only rows (nc==1 self match)
    return _cand_table(np.repeat(q_ids, kk)[keep], cand[sel][keep], out_sim[keep])


def _score_cells(k: int, id_col: str, vec_col: str, cap: int | None = None):
    """The cogrouped scorer: (queries, corpus) Arrow tables of one cell ->
    their top-k candidate table, the corpus side stride-capped at ``cap``."""
    def score(qt: pa.Table, ct: pa.Table) -> pa.Table:
        if qt.num_rows == 0 or ct.num_rows == 0:
            return _cand_table()
        if cap is not None:
            ct = _stride_capped(ct, id_col, cap)
        return _topk_candidates(_ids(qt, id_col), _normalized_matrix(qt[vec_col]),
                                _ids(ct, id_col), _normalized_matrix(ct[vec_col]), k)
    return score


def brute_force_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_blocks: int = 8,
    n_qchunks: int = 4,
) -> DataFrame:
    """Exact cosine top-k neighbors per vector (self excluded), ties broken
    by neighbor id ascending. Returns (vec_id, neighbor_id, rank, sim).

    Scale shape: a (n_qchunks x n_blocks) block-matrix grid — corpus
    hash-split into B blocks replicated per query chunk, queries hash-split
    into Q chunks replicated per block. Each grid cell is one cogrouped
    Arrow GEMM over bounded (|q|/Q x |c|/B) matrices; a window merges the
    B*k per-query candidates to the global top-k. Shuffle volume
    |q|*B + |c|*Q; per-task memory one cell — no node ever holds either
    full side, nothing reaches the driver.
    """
    base = df.select(id_col, vec_col)
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    qch = F.pmod(F.xxhash64(F.col(id_col), F.lit(1)), F.lit(n_qchunks))
    # grid keys must be LONG on BOTH sides of the cogroup: pmod(xxhash64)
    # is long but explode(sequence(int,int)) is int, and Spark hashes
    # int-typed and long-typed group keys differently, so mixed-type sides
    # land the same logical cell in different shuffle partitions and the
    # cogroup silently pairs queries with an EMPTY corpus (observed: whole
    # query chunks missing from the output, varying with the partition
    # count / AQE plan — a correctness bug, not a perf choice)
    lseq = lambda n: F.sequence(F.lit(0).cast("long"),  # noqa: E731
                                F.lit(n - 1).cast("long"))
    corpus = base.select(
        "*", blk.alias("__blk"),
        F.explode(lseq(n_qchunks)).alias("__qc"))
    queries = base.select(
        "*", qch.alias("__qc"),
        F.explode(lseq(n_blocks)).alias("__blk"))

    cand = (
        queries.groupBy("__qc", "__blk").cogroup(corpus.groupBy("__qc", "__blk"))
        .applyInArrow(_score_cells(k, id_col, vec_col), schema=_CAND_SCHEMA)
    )
    return _global_topk(cand, id_col, k)


def _global_topk(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    from pyspark.sql.window import Window as W

    w = W.partitionBy("q").orderBy(F.desc("s"), F.asc("n"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("q").alias(id_col), F.col("n").alias("neighbor_id"),
                F.col("rank").cast("int").alias("rank"), F.col("s").alias("sim"))
    )


def band_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_bands: int,
    planes_per_band: int,
    seed: int = 7,
) -> DataFrame:
    """(id, vec, band, bucket) — one row per band. Hyperplane signs are
    computed Arrow-batch-wise as a single (n x dim) @ (dim x total_planes)
    GEMM; the plane matrix is md5-derived per-task from the seed (no
    driver state, no per-row Python, DuckDB-replayable — see _md5_planes)."""
    from pyspark.sql import types as T

    total = n_bands * planes_per_band
    out_schema = df.select(id_col, vec_col).schema.add(
        "__buckets", T.ArrayType(T.LongType()))

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        planes = None
        weights = (1 << np.arange(planes_per_band, dtype=np.int64))
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            m = _matrix(b.column(vec_col))
            if planes is None:
                planes = _md5_planes(seed, m.shape[1], total)
            bits = (m @ planes >= 0).reshape(n, n_bands, planes_per_band)
            codes = bits @ weights  # (n, n_bands) int64 bucket codes
            offsets = np.arange(0, (n + 1) * n_bands, n_bands, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col), b.column(vec_col),
                 pa.ListArray.from_arrays(offsets, codes.reshape(-1))],
                names=[id_col, vec_col, "__buckets"])

    with_b = df.select(id_col, vec_col).mapInArrow(assign, schema=out_schema)
    return with_b.select(
        id_col, vec_col,
        F.posexplode("__buckets").alias("band", "bucket"))


def lsh_bucketed_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 4,
    n_bands: int = 4,
    seed: int = 7,
    max_bucket: int = 4096,
) -> DataFrame:
    """Approximate top-k: score only within (band, bucket) cells across
    n_bands independent hyperplane tables, dedupe cross-band candidate
    pairs, window-merge to global top-k. Cost sum(cell^2) << n^2; recall
    vs brute force is property-tested (tests/test_data_ops.py)."""
    cells = band_buckets(df, id_col, vec_col, n_bands, n_planes, seed)

    def score(tbl: pa.Table) -> pa.Table:
        tbl = _stride_capped(tbl, id_col, max_bucket)
        ids = _ids(tbl, id_col)
        m = _normalized_matrix(tbl[vec_col])
        return _topk_candidates(ids, m, ids, m, k)

    cand = (
        cells.groupBy("band", "bucket")
        .applyInArrow(score, schema=_CAND_SCHEMA)
        .dropDuplicates(["q", "n"])  # same pair may surface in many bands
    )
    return _global_topk(cand, id_col, k)


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 4,
    seed_round: int = 6,
    max_cell: int = 4096,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into `n_cells` cells, probe `nprobe` cells per query, score only
    inside probed cells. Returns (id, neighbor_id, rank, sim); per-cell
    top-k + global window merge is EXACT top-k over the union of probed
    cells' members (same argument as lsh_bucketed_topk).

    The codebook is deterministic and cross-engine replayable — no k-means:
    centroids are the `n_cells` corpus vectors with the smallest
    md5(id-as-string), the same fixed-point-replay idiom as
    dedup.PERM_SALTS / _md5_planes (DuckDB: ORDER BY md5(vec_id::VARCHAR)).
    Seeded codebooks trade some cell balance for bit-exact replay; cell
    skew is bounded by `max_cell` (deterministic stride subsample of a hot
    cell's corpus side). Assignment/probe ranking rounds cosine to
    `seed_round` decimals (+ the repo-wide 1e-7 epsilon) before ordering
    and tie-breaks by centroid id, so a float ULP difference between
    engines cannot flip a cell assignment.

    Scale shape: assignment is one map-only GEMM pass against the
    broadcast codebook (n_cells x dim — the only driver-side state, the
    classic IVF codebook broadcast); scoring shuffles the corpus once
    (keyed by owner cell) and queries nprobe times. Cost
    ~ n * nprobe * (n / n_cells) versus n^2 brute force; n_cells grows
    as sqrt(n) at scale."""
    from pyspark.sql import types as T

    base = df.select(id_col, vec_col)
    seeds = (base
             .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
             .limit(n_cells).toArrow())
    cids = _ids(seeds, id_col)
    cmat = _normalized_matrix(seeds[vec_col])
    nprobe = min(nprobe, len(cids))

    out_schema = T.StructType(base.schema.fields + [
        T.StructField("cell", T.LongType()),
        T.StructField("crk", T.IntegerType()),
    ])

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            m = _normalized_matrix(b.column(vec_col))
            # epsilon-then-round before ranking: see docstring
            sims = np.round(m @ cmat.T + 1e-7, seed_round)
            nq, nc = sims.shape
            row = np.repeat(np.arange(nq, dtype=np.int64), nc)
            order = np.lexsort((np.tile(cids, nq), -sims.reshape(-1), row))
            take = (np.arange(nq, dtype=np.int64)[:, None] * nc
                    + np.arange(nprobe, dtype=np.int64)[None, :]).reshape(-1)
            sel = order[take] % nc
            rep = np.repeat(np.arange(nq, dtype=np.int64), nprobe)
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col).take(rep), b.column(vec_col).take(rep),
                 pa.array(cids[sel]), pa.array(np.tile(np.arange(nprobe, dtype=np.int32), nq))],
                names=[id_col, vec_col, "cell", "crk"])

    # `assigned` feeds BOTH cogroup sides below; without materialization the
    # assignment GEMM and the source scan execute twice (once per side).
    # localCheckpoint runs the pass once and truncates the lineage — same
    # idiom and same cluster caveat as dedup.minhash_lsh_pairs: blocks pin
    # to executors, so at real scale write the assignment to a table instead
    # (it is a useful artifact anyway).
    assigned = base.mapInArrow(assign, schema=out_schema).localCheckpoint(
        eager=True)
    corpus = assigned.where(F.col("crk") == 0).drop("crk")
    probes = assigned.drop("crk")  # every vector queries its nprobe cells

    # each corpus vector lives in exactly ONE cell, so a (q, n) pair meets
    # in at most one probed cell — no cross-cell dedup needed
    cand = (probes.groupBy("cell").cogroup(corpus.groupBy("cell"))
            .applyInArrow(_score_cells(k, id_col, vec_col, max_cell),
                          schema=_CAND_SCHEMA))
    return _global_topk(cand, id_col, k)

"""The ANN scorers read vectors straight from Arrow list columns: a sliced
array (what a cell or batch of a larger buffer is) must give the matrix of
its own rows, and a hot cell's cap must keep the id-ordered stride rows."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from zipline_chronon_spark.operators.similarity import (_normalized_matrix,
                                                        _stride_capped)


def _expected(rows: list) -> np.ndarray:
    m = np.stack([np.asarray(r, dtype=np.float32) for r in rows]).astype(np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def test_normalized_matrix_of_a_sliced_list_array():
    rng = np.random.default_rng(3)
    rows = [list(rng.normal(size=4).astype(np.float32)) for _ in range(9)]
    rows[5] = [0.0] * 4  # a zero vector stays zero
    arr = pa.array(rows, pa.list_(pa.float32()))
    part = arr.slice(3, 4)
    assert part.offset == 3  # `.values` of this slice is the parent's whole buffer
    np.testing.assert_array_equal(_normalized_matrix(part), _expected(rows[3:7]))
    chunked = pa.chunked_array([arr.slice(1, 2), arr.slice(6, 3)])
    np.testing.assert_array_equal(_normalized_matrix(chunked),
                                  _expected(rows[1:3] + rows[6:9]))


def test_stride_cap_keeps_id_ordered_stride_rows():
    ids = np.random.default_rng(4).permutation(np.arange(100, 150, dtype=np.int64))
    tbl = pa.table({"id": ids, "v": pa.array([[float(i)] for i in ids],
                                             pa.list_(pa.float32()))})
    assert _stride_capped(tbl, "id", 50) is tbl
    got = _stride_capped(tbl, "id", 12)
    keep = np.sort(ids)[:: 50 // 12 + 1]
    assert got.column("id").to_pylist() == keep.tolist()
    assert got.column("v").to_pylist() == [[float(i)] for i in keep]

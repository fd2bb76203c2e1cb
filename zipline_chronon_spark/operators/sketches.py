"""Mergeable sketch IRs for approximate aggregations.

The reference keeps APPROX_UNIQUE_COUNT as a CPC sketch
(aggregator/.../base/SimpleAggregators.scala:499-543) and
APPROX_PERCENTILE as a KLL sketch (:545-585): O(sketch)-sized mergeable
intermediate state, required wherever partial aggregates must combine —
hop tiles, the lambda batch/stream merge, and salted partial rollups.
This module provides the same contracts in pure numpy:

 - HllSketch: HyperLogLog with a SPARSE-EXACT mode — up to
   ``sparse_limit`` distinct 64-bit hashes are kept exactly (a sorted
   uint64 set), degrading to dense lgK registers beyond. Small
   cardinalities therefore finalize EXACTLY (the estimate equals the true
   distinct count, matching the exact oracle), while state stays
   O(min(distinct, sparse_limit) + 2^lgK) at any scale.
 - KllSketch: quantile sketch with an EXACT buffer mode — up to ``cap``
   values kept verbatim (quantiles exact, np.quantile-compatible linear
   interpolation), degrading to a KLL-style compactor hierarchy beyond
   (rank error ~ O(1/cap), property-tested).

Both sketches: update (vectorized numpy), merge (associative,
commutative), to_bytes/from_bytes (the IR that crosses tile boundaries and
the KV tier). Hashing: splitmix64 for numeric columns (bit-exact across
processes), pandas' fixed-key siphash for object/string columns.

Every tier reads its sketch input through ``sketch_input``: the non-null
values of an Arrow column as a typed numpy array. An integer column
therefore hashes as integers (and prints as ``'16'`` in a frequent-items
sketch) with or without nulls, on the tile build, the approx serve and the
online head events alike; a pandas round trip would widen it to float64
wherever it holds a null.
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pandas as pd

_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def hash64(values) -> np.ndarray:
    """Deterministic 64-bit hashes of a 1-d array (numeric: splitmix64 of
    the raw bits; other dtypes: pandas fixed-key siphash)."""
    arr = np.asarray(values)
    if arr.dtype.kind in ("i", "u", "b"):
        x = arr.astype(np.int64).view(np.uint64).copy()
    elif arr.dtype.kind == "f":
        x = arr.astype(np.float64).view(np.uint64).copy()
    else:
        return pd.util.hash_array(arr.astype(object)).astype(np.uint64)
    x += _GOLDEN
    x ^= x >> np.uint64(30)
    x *= _SPLITMIX_C1
    x ^= x >> np.uint64(27)
    x *= _SPLITMIX_C2
    x ^= x >> np.uint64(31)
    return x


def sketch_input(col) -> np.ndarray:
    """The non-null values of an Arrow array as a typed numpy array
    (int64 stays int64, strings become an object array)."""
    if col.null_count:
        col = col.drop_null()
    return col.to_numpy(zero_copy_only=False)


class HllSketch:
    """HyperLogLog with sparse-exact small mode (CPC-sketch role)."""

    MAGIC = b"HL"

    def __init__(self, lg_k: int = 12, sparse_limit: int = 4096):
        self.lg_k = lg_k
        self.sparse_limit = sparse_limit
        self.sparse: np.ndarray | None = np.empty(0, dtype=np.uint64)
        self.regs: np.ndarray | None = None  # uint8[2^lg_k] when dense

    # -- updates ----------------------------------------------------------
    # Sparse mode keeps a LAZY buffer: updates/merges append (O(new)) and
    # possible duplicates are deduped only when the buffer outgrows the
    # limit or a reader needs set semantics (_compact). The distinct SET —
    # and therefore every estimate, the densify threshold crossing, and
    # the wire bytes — is identical to the old eager np.union1d per call,
    # which was the dominant cost of tile merges in window-sliding servers
    # (one O(m log m) sort per O(1)-amortized two-stack merge).
    def update_hashes(self, h: np.ndarray) -> "HllSketch":
        if self.sparse is not None:
            self.sparse = np.concatenate([self.sparse, h.astype(np.uint64)])
            if len(self.sparse) > self.sparse_limit:
                self._compact()
                if len(self.sparse) > self.sparse_limit:
                    self._densify()
        else:
            self._update_regs(h.astype(np.uint64))
        return self

    def update(self, values) -> "HllSketch":
        return self.update_hashes(hash64(values))

    # -- internals ---------------------------------------------------------
    def _compact(self) -> None:
        """Dedupe the lazy sparse buffer (sorted unique, set semantics)."""
        if self.sparse is not None and len(self.sparse):
            self.sparse = np.unique(self.sparse)

    def _densify(self) -> None:
        sp, self.sparse = self.sparse, None
        self.regs = np.zeros(1 << self.lg_k, dtype=np.uint8)
        self._update_regs(sp)

    @staticmethod
    def _clz64(x: np.ndarray) -> np.ndarray:
        """Exact vectorized count-leading-zeros for nonzero uint64 (binary
        search on shifts; float log2 would misround near 2^64)."""
        x = x.copy()
        n = np.zeros(len(x), dtype=np.int64)
        for shift in (32, 16, 8, 4, 2, 1):
            m = x < (np.uint64(1) << np.uint64(64 - shift))
            n[m] += shift
            x[m] <<= np.uint64(shift)
        return n

    def _update_regs(self, h: np.ndarray) -> None:
        k = np.uint64(self.lg_k)
        idx = (h >> (np.uint64(64) - k)).astype(np.int64)
        rest = h << k  # remaining 64-lgk bits in the high positions
        rho = np.full(len(h), 64 - self.lg_k + 1, dtype=np.int64)  # all-zero tail
        nz = rest != 0
        rho[nz] = 1 + self._clz64(rest[nz])
        np.maximum.at(self.regs, idx, rho.astype(np.uint8))

    # -- queries -----------------------------------------------------------
    def estimate(self) -> float:
        if self.sparse is not None:
            self._compact()
            return float(len(self.sparse))
        m = float(len(self.regs))
        alpha = 0.7213 / (1 + 1.079 / m)
        e = alpha * m * m / float(np.sum(np.exp2(-self.regs.astype(np.float64))))
        v = int(np.count_nonzero(self.regs == 0))
        if e <= 2.5 * m and v:
            return m * np.log(m / v)  # linear counting for the small regime
        return e

    # -- merge / serde ------------------------------------------------------
    def merge(self, other: "HllSketch") -> "HllSketch":
        assert self.lg_k == other.lg_k
        if self.sparse is not None and other.sparse is not None:
            self.sparse = np.concatenate([self.sparse, other.sparse])
            if len(self.sparse) > self.sparse_limit:
                self._compact()
                if len(self.sparse) > self.sparse_limit:
                    self._densify()
        else:
            if self.sparse is not None:
                self._densify()
            if other.sparse is not None:
                self._update_regs(other.sparse)
            else:
                np.maximum(self.regs, other.regs, out=self.regs)
        return self

    def copy(self) -> "HllSketch":
        """O(state) deep copy — lets window-sliding servers (approx_engine
        two-stack merge) hand out an answer without corrupting shared
        suffix aggregates (``merge`` mutates self)."""
        sk = HllSketch(lg_k=self.lg_k, sparse_limit=self.sparse_limit)
        sk.sparse = None if self.sparse is None else self.sparse.copy()
        sk.regs = None if self.regs is None else self.regs.copy()
        return sk

    def to_bytes(self) -> bytes:
        if self.sparse is not None:
            self._compact()  # wire format stays sorted-unique
            return (self.MAGIC + struct.pack("<BBI", 0, self.lg_k, len(self.sparse))
                    + self.sparse.tobytes())
        return self.MAGIC + struct.pack("<BBI", 1, self.lg_k, len(self.regs)) + self.regs.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes, sparse_limit: int = 4096) -> "HllSketch":
        assert b[:2] == cls.MAGIC
        mode, lg_k, n = struct.unpack("<BBI", b[2:8])
        sk = cls(lg_k=lg_k, sparse_limit=sparse_limit)
        if mode == 0:
            sk.sparse = np.frombuffer(b[8:], dtype=np.uint64, count=n).copy()
        else:
            sk.sparse = None
            sk.regs = np.frombuffer(b[8:], dtype=np.uint8, count=n).copy()
        return sk


class FreqSketch:
    """Misra-Gries frequent-items sketch (the reference's DataSketches
    ItemsSketch role, SimpleAggregators.scala:400-491): at most ``capacity``
    counters; evictions decrement survivors, so every stored count is a
    LOWER bound and (count + error) an UPPER bound, where ``error`` is the
    total decremented weight. EXACT while distinct items <= capacity.

    Finalize policies (ColumnAggregator.scala:266-278):
     - NO_FALSE_NEGATIVES (APPROX_FREQUENT_K): rank by upper bound — a
       truly-frequent item is never dropped, infrequent ones may appear.
     - NO_FALSE_POSITIVES (APPROX_HEAVY_HITTERS_K): keep only items whose
       LOWER bound beats the best upper bound of anything evicted — never
       report a non-heavy item.
    """

    MAGIC = b"FQ"

    def __init__(self, capacity: int = 1024):
        self.capacity = capacity
        self.counts: dict[str, int] = {}
        self.error = 0  # max weight an absent/evicted item could have had

    def update(self, values) -> "FreqSketch":
        import collections

        c = collections.Counter(str(v) for v in values)
        for k, w in c.items():
            self.counts[k] = self.counts.get(k, 0) + int(w)
        self._shrink()
        return self

    def _shrink(self) -> None:
        if len(self.counts) <= self.capacity:
            return
        # decrement-by-median-of-excess: subtract the (capacity+1)-th
        # largest count from everyone, drop the non-positive
        vals = sorted(self.counts.values(), reverse=True)
        dec = vals[self.capacity]
        self.error += dec
        self.counts = {k: v - dec for k, v in self.counts.items() if v - dec > 0}

    def merge(self, other: "FreqSketch") -> "FreqSketch":
        for k, v in other.counts.items():
            self.counts[k] = self.counts.get(k, 0) + v
        self.error += other.error
        self._shrink()
        return self

    def top_k(self, k: int, no_false_positives: bool = False) -> dict[str, int]:
        if no_false_positives:
            items = [(key, v) for key, v in self.counts.items() if v > self.error]
        else:
            items = [(key, v + self.error) for key, v in self.counts.items()]
        items.sort(key=lambda kv: (-kv[1], kv[0]))
        return dict(items[:k])

    def copy(self) -> "FreqSketch":
        sk = FreqSketch(capacity=self.capacity)
        sk.counts = dict(self.counts)
        sk.error = self.error
        return sk

    def to_bytes(self) -> bytes:
        body = json.dumps({"c": self.counts, "e": self.error},
                          sort_keys=True).encode()
        return self.MAGIC + struct.pack("<II", self.capacity, len(body)) + body

    @classmethod
    def from_bytes(cls, b: bytes) -> "FreqSketch":
        assert b[:2] == cls.MAGIC
        cap, ln = struct.unpack("<II", b[2:10])
        sk = cls(capacity=cap)
        d = json.loads(b[10:10 + ln].decode())
        sk.counts = {k: int(v) for k, v in d["c"].items()}
        sk.error = int(d["e"])
        return sk


class KllSketch:
    """Quantile sketch: exact buffer to ``cap``, then a KLL-style compactor
    hierarchy (level i holds values of weight 2^i; over-full levels sort and
    keep alternating items, promoting survivors)."""

    MAGIC = b"KL"

    def __init__(self, cap: int = 4096):
        self.cap = cap
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0  # total weighted count

    def update(self, values) -> "KllSketch":
        x = np.asarray(values, dtype=np.float64)
        x = x[~np.isnan(x)]
        if not len(x):
            return self
        self.levels[0] = np.concatenate([self.levels[0], x])
        self.n += len(x)
        self._compress()
        return self

    def _size(self) -> int:
        return sum(len(lv) for lv in self.levels)

    def _compress(self) -> None:
        # level capacities shrink geometrically from the top (KLL shape)
        while self._size() > self.cap:
            # compact the largest level below the top, lowest first
            li = int(np.argmax([len(lv) for lv in self.levels]))
            lv = np.sort(self.levels[li], kind="stable")
            # deterministic offset derived from (n, level) — keeps the
            # sketch reproducible across runs without shared RNG state
            off = (self.n + li) & 1
            keep = lv[off::2]
            drop_partner = lv[1 - off::2]
            promoted = keep[: min(len(keep), len(drop_partner) + 1)]
            self.levels[li] = np.empty(0, dtype=np.float64)
            if li + 1 == len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[li + 1] = np.concatenate([self.levels[li + 1], promoted])

    def quantiles(self, qs: list[float]) -> list[float]:
        if self.n == 0:
            return [float("nan") for _ in qs]
        vals = np.concatenate(self.levels)
        wts = np.concatenate([
            np.full(len(lv), 1 << i, dtype=np.float64)
            for i, lv in enumerate(self.levels)
        ])
        o = np.argsort(vals, kind="stable")
        vals, wts = vals[o], wts[o]
        cw = np.cumsum(wts)
        total = cw[-1]
        if len(self.levels) == 1 or all(len(lv) == 0 for lv in self.levels[1:]):
            # exact regime: np.quantile linear interpolation, bit-compatible
            return [float(v) for v in np.quantile(vals, qs)]
        out = []
        for q in qs:
            target = q * (total - 1) + 1
            i = int(np.searchsorted(cw, target, side="left"))
            out.append(float(vals[min(i, len(vals) - 1)]))
        return out

    def copy(self) -> "KllSketch":
        sk = KllSketch(cap=self.cap)
        sk.levels = [lv.copy() for lv in self.levels]
        sk.n = self.n
        return sk

    def merge(self, other: "KllSketch") -> "KllSketch":
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, lv in enumerate(other.levels):
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self._compress()
        return self

    def to_bytes(self) -> bytes:
        head = self.MAGIC + struct.pack("<IQI", self.cap, self.n, len(self.levels))
        parts = [head]
        for lv in self.levels:
            parts.append(struct.pack("<I", len(lv)))
            parts.append(lv.tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, b: bytes) -> "KllSketch":
        assert b[:2] == cls.MAGIC
        cap, n, nlev = struct.unpack("<IQI", b[2:18])
        sk = cls(cap=cap)
        sk.n = n
        sk.levels = []
        pos = 18
        for _ in range(nlev):
            (ln,) = struct.unpack("<I", b[pos:pos + 4])
            pos += 4
            sk.levels.append(np.frombuffer(b, dtype=np.float64, count=ln, offset=pos).copy())
            pos += 8 * ln
        return sk

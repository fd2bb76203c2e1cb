"""Minimal KV-store contract + in-memory implementation.

The reference's online tier reads/writes Avro-encoded IRs through a
pluggable KVStore (online/.../KVStore.scala; GroupByUpload writes batch
IRs, the Flink job writes tiles, the Fetcher reads both). This is the
same seam sized for this engine: datasets are named tables of
(key bytes -> value bytes); the batch upload and the tile sink write
sketch/scalar IR bytes; the fetcher merges them at query time.

InMemoryKv is the sandbox implementation (a dict per dataset) — swapping
in a real store is a constructor change, the byte contracts stay. Both
stores index prefix scans by the key's first ``|``-component."""

from __future__ import annotations

import hashlib
import json
import os
from abc import ABC, abstractmethod
from typing import Callable, Iterable, Optional


class KvStore(ABC):
    @abstractmethod
    def put(self, dataset: str, key: bytes, value: bytes) -> None: ...

    @abstractmethod
    def get(self, dataset: str, key: bytes) -> Optional[bytes]: ...

    @abstractmethod
    def scan(self, dataset: str, key_prefix: bytes = b"") -> Iterable[tuple[bytes, bytes]]: ...

    def connect(self) -> "KvStore":
        """Per-task hook: called once per executor partition before writes.
        Stores holding real connections should keep only config on `self`
        (it is pickled into each task) and open the client here."""
        return self

    def flush(self) -> None:
        """Per-task hook: called after a partition's writes."""

    def write_rows(self, df, encode_fn: Callable[[dict], tuple[str, bytes, bytes]]) -> int:
        """Distributed KV sink: stream the (dataset, key, value) triples
        produced by ``encode_fn(row_dict)`` into this store FROM THE
        EXECUTORS — data-scale rows never funnel through the driver
        (reference: GroupByUpload writes through per-task KVStore clients).
        Returns the number of rows written (tiny per-partition counts are
        the only thing that reaches the driver)."""
        store = self

        def _sink(it):
            client = store.connect()
            n = 0
            for row in it:
                dataset, k, v = encode_fn(row.asDict())
                client.put(dataset, k, v)
                n += 1
            client.flush()
            yield n

        return int(df.rdd.mapPartitions(_sink).sum())


class InMemoryKv(KvStore):
    """A dict per dataset. Prefix scans are indexed as in DirKv: a prefix
    containing ``|`` looks only at the keys that share its first
    ``|``-component, in insertion order (an insertion-ordered dict of keys
    per component), so a scan yields what an unindexed ``startswith``
    filter over the dataset would, in the same order."""

    def __init__(self):
        self.data: dict[str, dict[bytes, bytes]] = {}
        self._by_head: dict[str, dict[bytes, dict[bytes, None]]] = {}

    def write_rows(self, df, encode_fn) -> int:
        """TEST-ONLY collecting adapter: this store's dict lives in the
        driver process, so executor-side writes could never reach it.
        toLocalIterator bounds memory to one partition at a time; real
        deployments use a store with a working executor path (DirKv here,
        a service-backed client in production) and inherit the
        foreachPartition-shaped default."""
        n = 0
        # IR frames are small by construction, and this store is a driver
        # dict anyway, so collect() costs the same memory order as the
        # writes it feeds. The old coalesce(1).toLocalIterator() avoided
        # per-partition round trips but collapsed the WHOLE upstream tile
        # build into one task (coalesce without a shuffle propagates
        # single-partition parallelism up to the previous exchange);
        # collect() keeps the build parallel and fetches once.
        for row in df.collect():
            dataset, k, v = encode_fn(row.asDict())
            self.put(dataset, k, v)
            n += 1
        return n

    def put(self, dataset: str, key: bytes, value: bytes) -> None:
        self.data.setdefault(dataset, {})[key] = value
        self._by_head.setdefault(dataset, {}).setdefault(_head(key), {})[key] = None

    def get(self, dataset: str, key: bytes) -> Optional[bytes]:
        return self.data.get(dataset, {}).get(key)

    def scan(self, dataset: str, key_prefix: bytes = b"") -> Iterable[tuple[bytes, bytes]]:
        rows = self.data.get(dataset, {})
        keys = (self._by_head.get(dataset, {}).get(_head(key_prefix), ())
                if b"|" in key_prefix else rows)
        for k in keys:
            if k.startswith(key_prefix):
                yield k, rows[k]


class DirKv(KvStore):
    """Filesystem-backed store: dataset -> directory, key -> one file named
    sha256(key) whose content is [4-byte keylen][key][value]. Writes are
    atomic (tmp + os.replace) so concurrent executor tasks are safe, and
    the store works across processes on one machine — the sandbox's
    stand-in for a real KV service behind the same seam (`self` holds only
    the root path, so pickling it into tasks is free).

    Prefix scans are INDEXED: files bucket under sha256 of the key's first
    ``|``-component (the entity-key part of ``kb|tile`` / ``kb|ts|seq``
    keys), so a fetch reads only its own key's bucket instead of listing
    the whole dataset — the directory analogue of a real store's prefix
    scan. A scan whose prefix contains ``|`` hits one bucket; any other
    prefix (incl. empty) falls back to a correct full walk."""

    def __init__(self, root: str):
        self.root = root

    @staticmethod
    def _bucket(key: bytes) -> str:
        return hashlib.sha256(_head(key)).hexdigest()[:16]

    def _path(self, dataset: str, key: bytes) -> str:
        return os.path.join(self.root, dataset, self._bucket(key),
                            hashlib.sha256(key).hexdigest())

    def put(self, dataset: str, key: bytes, value: bytes) -> None:
        path = self._path(dataset, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(len(key).to_bytes(4, "big") + key + value)
        os.replace(tmp, path)

    @staticmethod
    def _decode(blob: bytes) -> tuple[bytes, bytes]:
        klen = int.from_bytes(blob[:4], "big")
        return blob[4:4 + klen], blob[4 + klen:]

    def get(self, dataset: str, key: bytes) -> Optional[bytes]:
        try:
            with open(self._path(dataset, key), "rb") as f:
                _, v = self._decode(f.read())
                return v
        except FileNotFoundError:
            return None

    def _walk_bucket(self, d: str, key_prefix: bytes) -> Iterable[tuple[bytes, bytes]]:
        if not os.path.isdir(d):
            return
        for name in sorted(os.listdir(d)):
            if name.endswith(".tmp") or ".tmp." in name:
                continue
            with open(os.path.join(d, name), "rb") as f:
                k, v = self._decode(f.read())
            if k.startswith(key_prefix):
                yield k, v

    def scan(self, dataset: str, key_prefix: bytes = b"") -> Iterable[tuple[bytes, bytes]]:
        base = os.path.join(self.root, dataset)
        if not os.path.isdir(base):
            return
        if b"|" in key_prefix:
            # component-aligned prefix: every matching key shares its first
            # component, so exactly one bucket can hold matches
            yield from self._walk_bucket(
                os.path.join(base, self._bucket(key_prefix)), key_prefix)
            return
        for b in sorted(os.listdir(base)):
            yield from self._walk_bucket(os.path.join(base, b), key_prefix)


def _head(key: bytes) -> bytes:
    """A key's first ``|``-component: the entity-key part of ``kb|tile`` /
    ``kb|ts|seq`` keys, which every prefix scan of one entity shares."""
    return key.split(b"|", 1)[0]


def key_bytes(key_values: tuple) -> bytes:
    """Canonical key encoding: JSON of the key tuple (stable, readable;
    the reference uses Avro — byte layout is a serde detail behind the
    seam)."""
    return json.dumps(list(key_values), sort_keys=False).encode()

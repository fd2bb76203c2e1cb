"""DirKv prefix-bucketed scans (spark-free): a component-aligned prefix
scan reads ONE bucket; unaligned/empty prefixes fall back to a correct
full walk; overwrites are in-place."""

from __future__ import annotations

import os

from zipline_chronon_spark.online.kv import DirKv


def test_bucketed_prefix_scan(tmp_path):
    kv = DirKv(str(tmp_path))
    kv.put("ds", b'["a"]|100|1', b"v1")
    kv.put("ds", b'["a"]|200|1', b"v2")
    kv.put("ds", b'["b"]|100|1', b"v3")
    kv.put("ds", b'["a"]', b"v0")

    assert kv.get("ds", b'["a"]|100|1') == b"v1"
    assert kv.get("ds", b'["a"]') == b"v0"
    assert sorted(v for _, v in kv.scan("ds", b'["a"]|')) == [b"v1", b"v2"]
    assert sorted(v for _, v in kv.scan("ds")) == [b"v0", b"v1", b"v2", b"v3"]
    # non-component-aligned prefix: full walk, still correct
    assert sorted(v for _, v in kv.scan("ds", b'["a"]')) == [b"v0", b"v1", b"v2"]

    kv.put("ds", b'["a"]|100|1', b"v1b")  # overwrite lands in place
    assert kv.get("ds", b'["a"]|100|1') == b"v1b"
    assert len(list(kv.scan("ds", b'["a"]|'))) == 2

    # the index actually restricts IO: exactly one bucket dir touched by an
    # aligned scan, and the dataset has one bucket per distinct key part
    buckets = os.listdir(tmp_path / "ds")
    assert len(buckets) == 2  # ["a"]* share a bucket; ["b"] has its own


def test_indexed_scans_equal_unindexed_filter(tmp_path):
    """InMemoryKv and DirKv index prefix scans by the key's first
    ``|``-component. Keys "a|b", "a" and "a|" share that component once
    encoded, so their scans look at one another's rows; every prefix must
    still return exactly what a ``startswith`` filter over the dataset
    returns (InMemoryKv: in the same, insertion, order)."""
    from zipline_chronon_spark.online.kv import InMemoryKv, key_bytes

    mem, dkv = InMemoryKv(), DirKv(str(tmp_path))
    rows = []
    for i, kt in enumerate([("a|b",), ("a",), ("a|",), ("b",)]):
        kb = key_bytes(kt)
        rows += [(kb, b"c%d" % i), (kb + b"|100", b"t%d" % i),
                 (kb + b"|200|1", b"e%d" % i)]
    for k, v in rows:
        mem.put("ds", k, v)
        dkv.put("ds", k, v)
    for kv in (mem, dkv):
        kv.put("ds", rows[1][0], b"over")  # an overwrite keeps its position
    everything = list(mem.data["ds"].items())
    prefixes = [b"", b'["a', b'["a|', b'["a"]', b'["a|b"]', b'["a|"]|', b'["a"]|',
                b'["a|b"]|', b'["a|b"]|2', b'["zz"]|']
    for kt in [("a|b",), ("a",), ("a|",), ("b",), ("c",)]:
        prefixes.append(key_bytes(kt) + b"|")
    for prefix in prefixes:
        want = [(k, v) for k, v in everything if k.startswith(prefix)]
        assert list(mem.scan("ds", prefix)) == want, prefix
        assert sorted(dkv.scan("ds", prefix)) == sorted(want), prefix

"""The Zarr read core: one range planner and one read loop behind both the
batch reader and the streaming reader.

``test_batch_partitions_golden`` pins ``ZarrReader.partitions()`` over a
matrix of stores x ``partition_rows`` x pushed filters. The digests were
recorded from the planner before the batch and stream readers shared one
core; a change of any partition list fails the test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import numpy as np
import pytest
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.typemap import group_schema
from zarr_datafusion_search_spark.sources.zarr_datasource import (
    DEFAULT_PARTITION_ROWS,
    RowRange,
    ZarrReader,
    ZarrStreamReader,
)

_T0 = np.datetime64("2020-01-01T00:00:00", "ms")


def _cols(n: int) -> dict:
    return {
        "x": np.arange(n, dtype=np.int64),
        "s": [f"k{i:06d}" for i in range(n)],
        "t": _T0 + np.arange(n).astype("timedelta64[s]"),
    }


def _make_stores(root) -> dict:
    """name -> (store, columns read)."""
    out = {}
    for name, n, chunk in [
        ("ragged", 1000, 128),  # 7 x 128 + a 104-row tail
        ("empty", 0, 10),
        ("one", 1, 10),
        ("many", 50_000, 100),  # default fan-out coalesces 7 chunks
    ]:
        store = f"{root}/{name}.zarr"
        zarrv3.write_group(store, "g", _cols(n), chunk_rows=chunk)
        out[name] = (store, ["s", "t", "x"])
    store = f"{root}/big.zarr"
    cols = _cols(393_216)
    del cols["s"]
    zarrv3.write_group(store, "g", cols, chunk_rows=65_536)
    out["big"] = (store, ["t", "x"])
    store = f"{root}/sharded.zarr"
    zarrv3.write_sharded_group(store, "g", _cols(1000), shard_rows=256, inner_rows=64)
    out["sharded"] = (store, ["s", "t", "x"])
    store = f"{root}/mixed.zarr"
    zarrv3.init_group(store, "g")
    for col, chunk in [("x", 700), ("s", 256), ("t", 300)]:
        zarrv3._write_array(f"{store}/g", col, _cols(5000)[col], chunk, 0)
    out["mixed"] = (store, ["s", "t", "x"])
    out["mixed_s"] = (store, ["s"])  # lead chunk 256 instead of 700
    return out


def _filter_sets(n: int) -> dict:
    def ts(i):
        return dt.datetime(2020, 1, 1) + dt.timedelta(seconds=i)

    return {
        "none": [],
        "gt": [GreaterThan(("x",), int(n * 0.7))],
        "between": [GreaterThanOrEqual(("x",), 20), LessThanOrEqual(("x",), 130)],
        "eq": [EqualTo(("x",), n // 2)],
        "in": [In(("x",), (3, n // 3, n - 1))],
        "str_eq": [EqualTo(("s",), f"k{n // 4:06d}")],
        "str_prefix": [StringStartsWith(("s",), "k0009")],
        "ts_ge": [GreaterThanOrEqual(("t",), ts(int(n * 0.9)))],
        "none_match": [LessThan(("x",), 0)],
        "notnull_eq": [IsNotNull(("x",)), EqualTo(("x",), 0)],
    }


_PARTITION_ROWS = [DEFAULT_PARTITION_ROWS, 1, 100, 1000, 10**9]


def _reader(store, columns, partition_rows, cls=ZarrReader):
    group = zarrv3.open_group(store, "g")
    schema = group_schema({c: group.arrays[c].dtype for c in columns})
    return cls(store, "g", schema, partition_rows)


def _partition_lists(store, columns, partition_rows) -> dict:
    n = zarrv3.open_group(store, "g").n_rows
    out = {}
    for fname, filters in _filter_sets(n).items():
        r = _reader(store, columns, partition_rows)
        list(r.pushFilters(list(filters)))
        out[fname] = [[p.start, p.stop] for p in r.partitions()]
    return out


# (store, partition_rows) -> SHA-256 prefix of the sorted-key JSON of
# {filter set: [[start, stop], ...]}
_GOLDEN = {
    "ragged|2097152": "efbbbd8935bfd37d",
    "ragged|1": "efbbbd8935bfd37d",
    "ragged|100": "efbbbd8935bfd37d",
    "ragged|1000": "f689bb9a3cde0d45",
    "ragged|1000000000": "e9896d668be0b2f9",
    "empty|2097152": "1434cd095cbbb59a",
    "empty|1": "1434cd095cbbb59a",
    "empty|100": "1434cd095cbbb59a",
    "empty|1000": "1434cd095cbbb59a",
    "empty|1000000000": "1434cd095cbbb59a",
    "one|2097152": "77cf586fcd8713e5",
    "one|1": "77cf586fcd8713e5",
    "one|100": "77cf586fcd8713e5",
    "one|1000": "77cf586fcd8713e5",
    "one|1000000000": "77cf586fcd8713e5",
    "many|2097152": "292b11b6b9c49790",
    "many|1": "c6fa531481312613",
    "many|100": "c6fa531481312613",
    "many|1000": "b5027f98e329a324",
    "many|1000000000": "001653a0167858e3",
    "big|2097152": "2354549dc0327413",
    "big|1": "2354549dc0327413",
    "big|100": "2354549dc0327413",
    "big|1000": "2354549dc0327413",
    "big|1000000000": "d80d50f4926bce91",
    "sharded|2097152": "3359caf72715c6b0",
    "sharded|1": "3359caf72715c6b0",
    "sharded|100": "3359caf72715c6b0",
    "sharded|1000": "0ff94869d3c95197",
    "sharded|1000000000": "414f37abe7575a6b",
    "mixed|2097152": "f6ba8ebe98979ef6",
    "mixed|1": "f6ba8ebe98979ef6",
    "mixed|100": "f6ba8ebe98979ef6",
    "mixed|1000": "f6ba8ebe98979ef6",
    "mixed|1000000000": "77d21414dd5f0378",
    "mixed_s|2097152": "eceebcf6d0622a37",
    "mixed_s|1": "eceebcf6d0622a37",
    "mixed_s|100": "eceebcf6d0622a37",
    "mixed_s|1000": "a3543a13d2bda0ea",
    "mixed_s|1000000000": "03f506f2def46f99",
}


@pytest.fixture(scope="module")
def stores(tmp_path_factory):
    return _make_stores(tmp_path_factory.mktemp("read_core"))


def test_batch_partitions_golden(stores):
    got = {}
    for name, (store, columns) in stores.items():
        for prows in _PARTITION_ROWS:
            lists = _partition_lists(store, columns, prows)
            blob = json.dumps(lists, sort_keys=True).encode()
            got[f"{name}|{prows}"] = hashlib.sha256(blob).hexdigest()[:16]
    assert got == _GOLDEN


def test_stream_fanout_matches_batch(stores):
    """One fan-out rule: a micro-batch over the whole store plans exactly
    the batch reader's unfiltered partitions."""
    for name, (store, columns) in stores.items():
        n = zarrv3.open_group(store, "g").n_rows
        for prows in _PARTITION_ROWS:
            batch = _reader(store, columns, prows).partitions()
            stream = _reader(store, columns, prows, ZarrStreamReader).partitions(
                {"rows": 0}, {"rows": n}
            )
            assert stream == batch, (name, prows)


@pytest.mark.parametrize("partition_rows", [DEFAULT_PARTITION_ROWS, 10, 20, 1000])
def test_stream_mid_chunk_range(tmp_path, partition_rows):
    """A micro-batch starting and ending inside chunks is covered exactly
    once, splits only on chunk boundaries, and reads the store's rows."""
    store = str(tmp_path / "mid.zarr")
    zarrv3.write_group(
        store, "g",
        {"x": np.arange(100, dtype=np.int64), "s": [f"v{i}" for i in range(100)]},
        chunk_rows=10,
    )
    r = _reader(store, ["s", "x"], partition_rows, ZarrStreamReader)
    parts = r.partitions({"rows": 25}, {"rows": 42})
    assert parts[0].start == 25 and parts[-1].stop == 42
    assert all(a.stop == b.start for a, b in zip(parts, parts[1:]))
    assert all(p.stop % 10 == 0 for p in parts[:-1])
    rows = [v for p in parts for b in r.read(p) for v in b.column("x").to_pylist()]
    meta = zarrv3.open_array(store, "g/x")
    assert rows == meta.read_range(25, 42).tolist()
    assert r.partitions({"rows": 42}, {"rows": 42}) == [RowRange(42, 42)]


def test_open_group_reads_each_array_json_once(tmp_path, monkeypatch):
    store = str(tmp_path / "three.zarr")
    zarrv3.write_group(
        store, "g", {c: np.arange(5, dtype=np.int64) for c in "abc"}, chunk_rows=2
    )
    loaded = []
    real = zarrv3._load_json
    monkeypatch.setattr(zarrv3, "_load_json", lambda p: loaded.append(p) or real(p))
    group = zarrv3.open_group(store, "g")
    assert sorted(group.arrays) == ["a", "b", "c"]
    assert len(loaded) == 4  # the group's zarr.json + one per array

"""Golden digests of every Zarr writer's output.

Each case writes a small fixed input with a ragged tail through one writer
and hashes every file of the resulting store (relative path + SHA-256 of
the bytes). The digests pin the on-disk format byte for byte: a refactor
of the write path must leave all of them unchanged.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered

N = 1000  # 7 full chunks of 128 rows + a 104-row tail
CHUNK = 128
T0_US = 1_700_000_000_000_000


def _store_digest(path: str) -> str:
    lines = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            lines.append(f"{os.path.relpath(p, path)}:{digest}\n")
    return hashlib.sha256("".join(sorted(lines)).encode()).hexdigest()


def _columns(n: int) -> dict:
    i = np.arange(n)
    return {
        "id": i.astype(np.int64),
        "x": i * 0.25,
        "s": [f"row_{k % 37}" for k in range(n)],
        "t": (T0_US + i * 1_000_003).astype("datetime64[us]"),
        "b": i % 3 == 0,
    }


def _frame(spark, start: int, n: int, parts: int = 3):
    return spark.range(start, start + n, 1, parts).select(
        F.col("id"),
        (F.col("id") * 0.25).alias("x"),
        F.concat(F.lit("row_"), (F.col("id") % 37).cast("string")).alias("s"),
        F.timestamp_micros(F.lit(T0_US) + F.col("id") * 1_000_003).alias("t"),
        (F.col("id") % 3 == 0).alias("b"),
    )


def _write_group(spark, store):
    zarrv3.write_group(store, "meta", _columns(N), chunk_rows=CHUNK, zstd_level=3)


def _write_sharded_group(spark, store):
    zarrv3.write_sharded_group(
        store, "meta", _columns(N), shard_rows=256, inner_rows=64
    )


def _format_writer(spark, store):
    _ensure_registered(spark)
    (
        _frame(spark, 0, N)
        .write.format("zarr")
        .option("group", "/data")
        .option("chunk_rows", str(CHUNK))
        .mode("append")
        .save(store)
    )


def _distributed(spark, store):
    from zarr_datafusion_search_spark.sources.zarr_sink import write_zarr_distributed

    write_zarr_distributed(_frame(spark, 0, N), store, "/data", chunk_rows=CHUNK)


def _distributed_sharded(spark, store):
    from zarr_datafusion_search_spark.sources.zarr_sink import write_zarr_distributed

    write_zarr_distributed(
        _frame(spark, 0, N), store, chunk_rows=CHUNK, inner_rows=32, zstd_level=1
    )


def _append(spark, store):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        append_zarr_distributed,
        write_zarr_distributed,
    )

    # 300 rows leave chunk 2 partial (44 rows): the append merges into it
    write_zarr_distributed(_frame(spark, 0, 300), store, "/data", chunk_rows=CHUNK)
    append_zarr_distributed(_frame(spark, 300, N - 300), store, "/data")


def _append_sharded(spark, store):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        append_zarr_distributed,
        write_zarr_distributed,
    )

    write_zarr_distributed(
        _frame(spark, 0, 300), store, chunk_rows=CHUNK, inner_rows=32
    )
    append_zarr_distributed(_frame(spark, 300, N - 300), store)


# SHA-256 over the sorted "relative path:file SHA-256" lines of each store.
# The format writer, the distributed writer and write-then-append produce
# the same store: same chunk grid, padding, codecs and chunk stats.
GOLDEN = {
    "write_group": "e293208cadaf38569a9a78490aba6d5511c1a228eb55728f8e654479a138a8e3",
    "write_sharded_group": "8bc29601b2c6d2b0b9a9693befa8a73d45aa85b49b33b1f2cb6aa32505426b3d",
    "format_writer": "f5a2f83c2d27198f3f7df05b0a1c09637987fb8be78d3fcc43aedaaf0fc40a2f",
    "distributed": "f5a2f83c2d27198f3f7df05b0a1c09637987fb8be78d3fcc43aedaaf0fc40a2f",
    "distributed_sharded": "392e6d7bfc5c82c32403a2467d8aaa8a19486ba5429887a723fbb9583d5262e3",
    "append": "f5a2f83c2d27198f3f7df05b0a1c09637987fb8be78d3fcc43aedaaf0fc40a2f",
    "append_sharded": "ee0daaab6d44da9ebea12531e2822ccb7675b54836f80060dd01c7e4abe1fc97",
}

WRITERS = {
    "write_group": _write_group,
    "write_sharded_group": _write_sharded_group,
    "format_writer": _format_writer,
    "distributed": _distributed,
    "distributed_sharded": _distributed_sharded,
    "append": _append,
    "append_sharded": _append_sharded,
}


@pytest.mark.parametrize("case", sorted(WRITERS))
def test_writer_output_is_byte_identical(spark, tmp_path, case):
    store = str(tmp_path / f"{case}.zarr")
    WRITERS[case](spark, store)
    assert _store_digest(store) == GOLDEN[case]


def test_sharded_fixture_recipe_reproduces_checked_in_store(tmp_path):
    """The committed pipeline fixture is write_sharded_group's output."""
    from zarr_datafusion_search_spark.plans import zarr_queries

    store = str(tmp_path / "zarr_sharded.zarr")
    n = 1000
    zarrv3.write_sharded_group(
        store,
        "meta",
        {
            "idx": np.arange(n, dtype=np.int64),
            "collection": [f"collection_{chr(97 + i % 4)}" for i in range(n)],
        },
        shard_rows=256,
        inner_rows=64,
    )
    assert _store_digest(store) == _store_digest(zarr_queries.SHARDED_FIXTURE_STORE)

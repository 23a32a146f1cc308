"""Tests for the native ns-parquet read (``nanos_parquet.read_native``)."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from zarr_datafusion_search_spark.sources import nanos_parquet


def _ns_table(n, start=0):
    ts = pa.array(
        [1_700_000_000_000_000_000 + (start + i) * 1_000_000_007 for i in range(n)],
        type=pa.int64(),
    ).cast(pa.timestamp("ns"))
    return pa.table({"k": pa.array(range(start, start + n)), "ts": ts})


def test_read_native_truncates_ns_to_us(spark, tmp_path):
    path = str(tmp_path / "ev.parquet")
    pq.write_table(_ns_table(40), path, row_group_size=10)
    rows = nanos_parquet.read_native(spark, path).orderBy("k").collect()
    assert len(rows) == 40
    # ns ticks truncate towards zero at us resolution: 1_000_000_007 ns step
    # means row i's sub-second part is (i * 7) ns past a us boundary — all
    # truncated, so the us value is floor(ns/1000)
    raw = _ns_table(40)["ts"].cast(pa.timestamp("us"), safe=False).to_pylist()
    assert [r.ts.replace(tzinfo=None) for r in rows] == [
        t.replace(tzinfo=None) for t in raw
    ]


def test_directory_of_part_files(spark, tmp_path):
    d = tmp_path / "evdir"
    d.mkdir()
    pq.write_table(_ns_table(10), str(d / "part-0.parquet"))
    pq.write_table(_ns_table(10, start=10), str(d / "part-1.parquet"))
    df = nanos_parquet.read_native(spark, str(d))
    assert df.count() == 20
    assert df.agg(F.min("k"), F.max("k")).first() == (0, 19)


def test_projection_still_works(spark, tmp_path):
    path = str(tmp_path / "ev3.parquet")
    pq.write_table(_ns_table(25), path)
    df = nanos_parquet.read_native(spark, path)
    out = df.select("k").filter(F.col("k") % 5 == 0)
    assert sorted(r.k for r in out.collect()) == [0, 5, 10, 15, 20]


def test_events_fixture_matches_duckdb(spark, sf_dir, duck):
    from zarr_datafusion_search_spark.plans.registry import table

    e = table(spark, sf_dir, "events")
    n_spark = e.count()
    n_duck = duck.execute("SELECT count(*) FROM events").fetchone()[0]
    assert n_spark == n_duck
    s_min, s_max = e.agg(F.min("event_id"), F.max("event_id")).first()
    d_min, d_max = duck.execute(
        "SELECT min(event_id), max(event_id) FROM events"
    ).fetchone()
    assert (s_min, s_max) == (d_min, d_max)


def test_read_native_matches_pyarrow(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    t = pq.read_table(path)
    t = t.cast(
        pa.schema(
            pa.field(f.name, pa.timestamp("us", f.type.tz))
            if pa.types.is_timestamp(f.type)
            else f
            for f in t.schema
        ),
        safe=False,
    )

    def plain(row):
        return tuple(
            v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v for v in row
        )

    want = sorted(plain(r.values()) for r in t.to_pylist())
    got = sorted(plain(r) for r in nanos_parquet.read_native(spark, path).collect())
    assert got == want

"""Zarr sink: df.write.format("zarr") roundtrips, overwrite semantics,
type validation, and SQL DDL (CREATE TABLE ... USING zarr)."""

import datetime

import pyspark.sql.functions as F
import pytest

from zarr_datafusion_search_spark import ZarrTable
from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered
from zarr_datafusion_search_spark.plans.registry import table


def test_write_roundtrip(spark, sf_dir, tmp_path):
    _ensure_registered(spark)
    store = str(tmp_path / "docs.zarr")
    docs = table(spark, sf_dir, "documents")
    (
        docs.write.format("zarr")
        .option("group", "/data")
        .option("chunk_rows", "128")
        .mode("append")
        .save(store)
    )
    back = ZarrTable(store, "/data").to_df(spark)
    assert back.count() == docs.count()
    want = {r.doc_id: (r.text, r.lang) for r in docs.collect()}
    got = {r.doc_id: (r.text, r.lang) for r in back.collect()}
    assert got == want


def test_write_multi_partition_preserves_rows(spark, tmp_path):
    _ensure_registered(spark)
    store = str(tmp_path / "multi.zarr")
    df = spark.range(0, 10_000, 1, 8).select(
        F.col("id"), (F.col("id") * 2.5).alias("x"),
        F.concat(F.lit("row_"), F.col("id")).alias("s"),
    )
    df.write.format("zarr").option("chunk_rows", "1000").mode("append").save(store)
    back = ZarrTable(store).to_df(spark)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))
    row = back.filter(F.col("id") == 1234).collect()[0]
    assert row.x == 1234 * 2.5 and row.s == "row_1234"


def test_write_timestamps(spark, tmp_path):
    _ensure_registered(spark)
    store = str(tmp_path / "ts.zarr")
    base = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    df = spark.createDataFrame(
        [(i, base + datetime.timedelta(hours=i)) for i in range(5)], ["id", "t"]
    )
    df.write.format("zarr").mode("append").save(store)
    back = ZarrTable(store).to_df(spark).orderBy("id").collect()
    assert back[0].t == base
    assert back[4].t == base + datetime.timedelta(hours=4)


def test_overwrite_modes(spark, tmp_path):
    _ensure_registered(spark)
    store = str(tmp_path / "ow.zarr")
    df1 = spark.range(5).select(F.col("id"))
    df2 = spark.range(3).select(F.col("id"))
    df1.write.format("zarr").mode("append").save(store)
    # append to an existing store is rejected (no cheap row-append in zarr)
    with pytest.raises(Exception):
        df2.write.format("zarr").mode("append").save(store)
    df2.write.format("zarr").mode("overwrite").save(store)
    assert ZarrTable(store).to_df(spark).count() == 3


def test_failed_overwrite_keeps_old_store(spark, tmp_path):
    """Nulls fail the write job, before commit touches the old store."""
    _ensure_registered(spark)
    store = str(tmp_path / "keep.zarr")
    spark.range(5).select(F.col("id")).write.format("zarr").mode("append").save(store)
    bad = spark.createDataFrame([(1,), (None,)], "id long").repartition(2)
    with pytest.raises(Exception, match="non-nullable|nulls"):
        bad.write.format("zarr").mode("overwrite").save(store)
    back = ZarrTable(store).to_df(spark)
    assert sorted(r.id for r in back.collect()) == [0, 1, 2, 3, 4]


def test_format_writer_stages_per_task_attempt(tmp_path, monkeypatch):
    """Two attempts of one partition stage to different files, so a
    speculative attempt cannot interleave writes with the first."""
    import pyarrow as pa
    import pyspark
    from pyspark.sql import types as T

    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrWriter

    class _Task:
        def partitionId(self):
            return 0

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: _Task()))
    schema = T.StructType([T.StructField("id", T.LongType())])
    writer = ZarrWriter(str(tmp_path / "att.zarr"), "/", schema, False, 8, 0)
    msgs = [
        writer.write(iter([pa.record_batch([pa.array(vals)], names=["id"])]))
        for vals in ([1, 2, 3], [4, 5])
    ]
    assert msgs[0].staged_path != msgs[1].staged_path
    for msg, n in zip(msgs, (3, 2)):
        with pa.ipc.open_file(msg.staged_path) as reader:
            assert reader.read_all().num_rows == n


def test_unsupported_type_rejected(spark, tmp_path):
    _ensure_registered(spark)
    df = spark.createDataFrame([([1, 2],)], ["arr"])
    with pytest.raises(Exception, match="cannot write|zarr"):
        df.write.format("zarr").mode("append").save(str(tmp_path / "bad.zarr"))


def test_create_table_using_zarr_sql(spark, parity_store):
    """The orphaned intent at reference src/zarr_array.rs:186-210 would be
    CREATE TABLE ... USING zarr. This Spark version does not propagate
    catalog-table OPTIONS to Python data source readers (they arrive empty
    at scan planning), so the DDL route must fail with our informative
    error; the supported SQL route is a registered view."""
    _ensure_registered(spark)
    spark.sql("DROP TABLE IF EXISTS zarr_ddl")
    spark.sql(
        f"""
        CREATE TABLE zarr_ddl USING zarr
        OPTIONS (path '{parity_store}', `group` '/meta')
        """
    )
    try:
        with pytest.raises(Exception, match="ZarrTable|propagate|path"):
            spark.sql("SELECT collection FROM zarr_ddl").collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS zarr_ddl")
    # the supported SQL path: register() -> temp view
    ZarrTable(parity_store, "/meta").register(spark, "zarr_view")
    rows = spark.sql("SELECT collection FROM zarr_view ORDER BY collection").collect()
    assert [r.collection for r in rows] == [
        "collection_a", "collection_b", "collection_c",
    ]


# ---------------------------------------------------------------------------
# distributed (task-side) sink
# ---------------------------------------------------------------------------


def test_distributed_roundtrip_multichunk(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    store = str(tmp_path / "dist.zarr")
    df = spark.range(0, 10_000, 1, 8).select(
        F.col("id"), (F.col("id") * 2.5).alias("x"),
        F.concat(F.lit("row_"), F.col("id")).alias("s"),
    )
    n = write_zarr_distributed(df, store, "/data", chunk_rows=1000)
    assert n == 10_000
    back = ZarrTable(store, "/data").to_df(spark)
    # 10 chunks -> 10 scan partitions (chunk-partitioned source)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))
    row = back.filter(F.col("id") == 1234).collect()[0]
    assert row.x == 1234 * 2.5 and row.s == "row_1234"
    # chunk files exist for every chunk id (task-side writes, not driver)
    import os

    assert sorted(
        int(c) for c in os.listdir(str(tmp_path / "dist.zarr" / "data" / "id" / "c"))
    ) == list(range(10))


def test_distributed_matches_format_writer(spark, sf_dir, tmp_path):
    """Task-side sink and streaming driver sink must produce byte-identical
    reads (same codec stack, same chunk grid)."""
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    docs = table(spark, sf_dir, "documents")
    store = str(tmp_path / "docs_dist.zarr")
    write_zarr_distributed(docs, store, "/data", chunk_rows=128)
    back = ZarrTable(store, "/data").to_df(spark)
    want = {r.doc_id: (r.text, r.lang) for r in docs.collect()}
    got = {r.doc_id: (r.text, r.lang) for r in back.collect()}
    assert got == want


def test_distributed_timestamps(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    store = str(tmp_path / "ts_dist.zarr")
    base = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    df = spark.createDataFrame(
        [(i, base + datetime.timedelta(hours=i)) for i in range(5)], ["id", "t"]
    )
    write_zarr_distributed(df, store)
    back = ZarrTable(store).to_df(spark).orderBy("id").collect()
    assert back[0].t == base
    assert back[4].t == base + datetime.timedelta(hours=4)


def test_distributed_null_int_rejected(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long"
    )
    with pytest.raises(Exception, match="non-nullable|nulls"):
        write_zarr_distributed(df, str(tmp_path / "nul.zarr"))


def test_distributed_null_fill(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    store = str(tmp_path / "fill.zarr")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long"
    )
    write_zarr_distributed(df, store, null_fill={"v": -1})
    back = {r.id: r.v for r in ZarrTable(store).to_df(spark).collect()}
    assert back == {1: 10, 2: -1, 3: 30}


def test_distributed_overwrite_guard(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    store = str(tmp_path / "ow_dist.zarr")
    df = spark.range(5).select("id")
    write_zarr_distributed(df, store)
    with pytest.raises(ValueError, match="already exists"):
        write_zarr_distributed(df, store)
    write_zarr_distributed(spark.range(3).select("id"), store, overwrite=True)
    assert ZarrTable(store).to_df(spark).count() == 3


def test_format_writer_null_int_rejected(spark, tmp_path):
    """ADVICE fix: the driver-side sink previously wrote float64+NaN bytes
    under int metadata for null-bearing columns — must now fail loudly."""
    _ensure_registered(spark)
    df = spark.createDataFrame([(1, 10), (2, None)], "id long, v long")
    with pytest.raises(Exception, match="non-nullable|nulls"):
        df.write.format("zarr").mode("append").save(str(tmp_path / "nulfmt.zarr"))


def test_distributed_sharded_roundtrip(spark, tmp_path):
    """inner_rows turns the distributed sink into a sharding_indexed writer:
    one object per shard, crc32c-checksummed index, same read granularity."""
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )

    store = str(tmp_path / "shard_dist.zarr")
    df = spark.range(0, 10_000, 1, 8).select(
        F.col("id"), (F.col("id") * 1.5).alias("x"),
        F.concat(F.lit("s_"), F.col("id")).alias("s"),
    )
    n = write_zarr_distributed(
        df, store, "/data", chunk_rows=2048, inner_rows=256
    )
    assert n == 10_000
    import os

    from zarr_datafusion_search_spark.sources import zarrv3

    meta = zarrv3.open_array(store, "data/id")
    assert meta.sharding is not None
    assert meta.chunk_rows == 2048
    # 5 shard objects, not 40 chunk files
    assert len(os.listdir(str(tmp_path / "shard_dist.zarr" / "data" / "id" / "c"))) == 5
    # index crc32c declared and verified on read
    idx_codecs = meta.sharding["index_codecs"]
    assert any(c["name"] == "crc32c" for c in idx_codecs)
    assert list(meta.read_range(2040, 2060)) == list(range(2040, 2060))
    back = ZarrTable(store, "/data").to_df(spark)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(10_000))
    row = back.filter(F.col("id") == 4321).collect()[0]
    assert row.x == 4321 * 1.5 and row.s == "s_4321"
    # corrupting a shard index byte must fail loudly (crc verification)
    p = str(tmp_path / "shard_dist.zarr" / "data" / "id" / "c" / "0")
    raw = bytearray(open(p, "rb").read())
    raw[-10] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(zarrv3.ZarrError, match="crc32c mismatch"):
        zarrv3.open_array(store, "data/id").read_range(0, 10)


def test_distributed_sharded_ragged_tail(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        write_zarr_distributed,
    )
    from zarr_datafusion_search_spark.sources import zarrv3

    store = str(tmp_path / "ragged.zarr")
    write_zarr_distributed(
        spark.range(0, 1000).select("id"), store,
        chunk_rows=512, inner_rows=128,
    )
    meta = zarrv3.open_array(store, "id")
    # last shard holds 488 rows: inner chunks 0-3 present, trailing missing
    assert list(meta.read_range(990, 1000)) == list(range(990, 1000))
    assert ZarrTable(store).to_df(spark).count() == 1000

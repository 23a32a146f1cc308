"""``ZarrTable`` — the reference's primary user-facing object, Spark-first.

Reference API (python/src/table.rs:11-53, README.md:29-42)::

    table = ZarrTable("data/zarr_store.zarr", "/meta")
    ctx.register_table_provider("zarr_data", table)
    ctx.sql("SELECT * FROM zarr_data")

Spark rebuild::

    table = ZarrTable("data/zarr_store.zarr", "/meta")
    df = table.to_df(spark)                       # DataFrame over format("zarr")
    table.register(spark, "zarr_data")            # temp view for spark.sql(...)

Schema is inferred eagerly at construction, like the reference
(src/table_provider.rs:42-52 -> src/schema.rs:16-20), and cached.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.typemap import group_schema


class ZarrTable:
    """A Zarr v3 group of parallel 1-D arrays exposed as a Spark table."""

    def __init__(self, store_path: str, group_path: str = "/"):
        self.store_path = store_path
        self.group_path = group_path
        self._group = zarrv3.open_group(store_path, group_path)
        # eager, cached schema (parity: src/table_provider.rs:35-38,73-75)
        self.schema: StructType = group_schema(
            {name: meta.dtype for name, meta in self._group.arrays.items()}
        )

    @classmethod
    def from_obstore(cls, store_path: str, group_path: str = "/") -> "ZarrTable":
        """Parity shim for the reference's async object-store constructor
        (python/src/table.rs:28-42). ``s3://``/``gs://``/... URLs route
        through fsspec inside the reader (``zarrv3``); a clear ``ZarrError``
        is raised when fsspec is not installed (it is not bundled in this
        environment). Local paths work uniformly.
        """
        return cls(store_path, group_path)

    @property
    def n_rows(self) -> int:
        return self._group.n_rows

    def column_names(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    def to_df(
        self, spark: SparkSession, columns: Sequence[str] | None = None
    ) -> DataFrame:
        """DataFrame over the ``zarr`` data source (chunk-partitioned scan)."""
        _ensure_registered(spark)
        return (
            spark.read.format("zarr")
            .option("group", self.group_path)
            .schema(self._pruned(columns))
            .load(self.store_path)
        )

    def register(self, spark: SparkSession, name: str) -> DataFrame:
        """Register as a temp view so ``spark.sql`` can query it — the
        Spark equivalent of ``ctx.register_table_provider`` (README.md:37-41).
        """
        df = self.to_df(spark)
        df.createOrReplaceTempView(name)
        return df

    @staticmethod
    def write(
        df: DataFrame,
        store_path: str,
        group_path: str = "/",
        chunk_rows: int = 65536,
        overwrite: bool = False,
    ) -> "ZarrTable":
        """Write a DataFrame as a Zarr v3 group and return its ZarrTable.

        Sugar over ``df.write.format("zarr")`` (see
        ``zarr_datasource.ZarrWriter`` for the commit protocol).
        """
        _ensure_registered(df.sparkSession)
        (
            df.write.format("zarr")
            .option("group", group_path)
            .option("chunk_rows", str(chunk_rows))
            .mode("overwrite" if overwrite else "append")
            .save(store_path)
        )
        return ZarrTable(store_path, group_path)

    def _pruned(self, columns: Sequence[str] | None) -> StructType:
        if not columns:
            return self.schema
        by_name = {f.name: f for f in self.schema.fields}
        missing = [c for c in columns if c not in by_name]
        if missing:
            raise ValueError(f"unknown columns: {missing}")
        return StructType([by_name[c] for c in columns])


def _ensure_registered(spark: SparkSession) -> None:
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource

    try:
        spark.dataSource.register(ZarrDataSource)
    except Exception:
        # already registered (Spark raises on duplicate in some versions)
        pass
    # The reader implements pushFilters, which Spark refuses to plan unless
    # this flag is on — sessions not built by engine.build_session (e.g. the
    # verification driver's) would otherwise fail on every zarr read. It is
    # a runtime-settable SQL conf.
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass

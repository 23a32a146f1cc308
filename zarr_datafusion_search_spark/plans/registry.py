"""Query registry: every capability from SURVEY.md §2 as a named pair of
(PySpark plan, DuckDB oracle SQL).

The reference's API contract is "register the table, then run arbitrary SQL"
(reference: README.md:29-42) — its capability surface is the embedding
engine's SQL dialect. Here each declared capability is a ``QuerySpec``:

- ``spark``: a callable ``(SparkSession, sf_dir) -> DataFrame`` building the
  plan with the DataFrame API (Catalyst optimizes it);
- ``oracle``: equivalent ANSI SQL that DuckDB runs on the same parquet for
  the correctness gate (``None`` for ops SQL can't express — the driver then
  records a weaker rows-only check).

Column names are aliased identically on both sides: the driver's compare
sorts columns by name before hashing values.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    name: str
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, doc: str = ""):
    """Decorator adding a query builder to the registry."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, doc=doc or fn.__doc__ or "", spark=fn, oracle=oracle)
        return fn

    return wrap


def _harden_session(spark: SparkSession) -> None:
    """Runtime confs the queries rely on, for sessions not built by
    ``engine.build_session`` (the verification driver passes its own).
    UTC keeps LTZ timestamp rendering aligned with the tz-naive oracle.
    Marked done per session object: each conf.set is a py4j round trip
    and multi-table queries call ``table()`` up to 6x per plan build."""
    if getattr(spark, "_zdss_hardened", False):
        return
    spark._zdss_hardened = True
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def _path_stat(path: str) -> tuple:
    """(size, mtime_ns) fingerprint so an in-place rewrite invalidates the
    memoized handle; directories fingerprint the dir entry itself (its
    mtime changes when files are added/removed)."""
    try:
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return (-1, -1)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy DataFrame over ``<sf_dir>/<name>.parquet``.

    The handle is memoized per (session, path, file-stat): a fresh
    ``spark.read.parquet`` costs a driver-side file listing + footer
    schema read on EVERY plan build (and the events table additionally a
    pyarrow footer read), which multi-table queries pay up to 6x per
    build. The memo stores only the unexecuted plan — no data, no
    ``.cache()`` — so every action still computes from the parquet; an
    in-place rewrite of the file changes its stat fingerprint and misses
    the memo (same discipline as similarity's probe memo). The dict lives
    on the session object, so it dies with the session.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name}")
    _harden_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    memo = getattr(spark, "_zdss_table_memo", None)
    if memo is None:
        memo = {}
        spark._zdss_table_memo = memo
    key = (path, _path_stat(path))
    df = memo.get(key)
    if df is None:
        if name == "events":
            df = _read_nanos_parquet(spark, path)
        else:
            df = spark.read.parquet(path)
        memo[key] = df
        # one live entry per path: drop superseded fingerprints so a
        # rewrite loop cannot grow the memo unboundedly
        for k in [k for k in memo if k[0] == path and k != key]:
            del memo[k]
    return df


def _read_nanos_parquet(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    rejects ([PARQUET_TYPE_ILLEGAL]) under its own inferred schema. Route
    through ``nanos_parquet.read_native``: the ns columns are requested as
    LONG (their physical INT64 encoding, which the native vectorized
    reader accepts) and rescaled to us timestamps in the plan — fully
    JVM-side, with the same truncation a DuckDB TIMESTAMP_NS -> python
    datetime fetch applies on the oracle side.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    if not any(
        pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema
    ):
        return spark.read.parquet(path)
    from zarr_datafusion_search_spark.sources import nanos_parquet

    return nanos_parquet.read_native(spark, path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for spark.sql queries.

    Idempotent per (session, sf_dir): re-registering ten lazy views costs
    ~0.8 s of driver round-trips (file listing + schema reads), which would
    otherwise be paid by EVERY spark.sql query in a bench run. The marker
    lives on the session object itself, so it dies with the session and a
    different sf_dir re-registers."""
    if getattr(spark, "_zdss_views_sf", None) == sf_dir:
        _harden_session(spark)
        return
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    spark._zdss_views_sf = sf_dir


def load_all() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: fills REGISTRY)."""
    import zarr_datafusion_search_spark.plans.sql_surface  # noqa: F401
    import zarr_datafusion_search_spark.plans.sql_surface2  # noqa: F401
    import zarr_datafusion_search_spark.plans.tpch_extra  # noqa: F401
    import zarr_datafusion_search_spark.plans.pipeline_ops  # noqa: F401
    import zarr_datafusion_search_spark.plans.pipeline_ops3  # noqa: F401
    import zarr_datafusion_search_spark.plans.pipeline_ops4  # noqa: F401
    import zarr_datafusion_search_spark.plans.pipeline_ops5  # noqa: F401
    import zarr_datafusion_search_spark.plans.pipeline_ops6  # noqa: F401
    import zarr_datafusion_search_spark.plans.curation  # noqa: F401
    import zarr_datafusion_search_spark.plans.zarr_queries  # noqa: F401

    return REGISTRY

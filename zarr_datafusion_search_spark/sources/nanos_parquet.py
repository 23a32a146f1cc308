"""Native Spark read of parquet files carrying TIMESTAMP(NANOS).

Spark's native parquet scan rejects nanosecond timestamps outright
([PARQUET_TYPE_ILLEGAL]) under its own inferred schema; the synthetic
``events.parquet`` fixtures are written that way. :func:`read_native`
keeps the whole scan in Spark's vectorized reader: the driver reads only
the parquet footer's schema, requests the ns columns as LONG (their
physical INT64 encoding) and rescales them to microsecond timestamps in
the plan, truncating towards zero — the same truncation a DuckDB
TIMESTAMP_NS → python datetime fetch applies on the oracle side.

A directory of ``*.parquet`` part-files is also accepted.
"""

from __future__ import annotations


def _list_files(path: str) -> list[str]:
    import os

    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return [path]


def _field_ddl(t) -> str:
    """Spark DDL type for one Arrow type (ns timestamps -> `timestamp`)."""
    import pyarrow as pa

    def field_type(t: "pa.DataType") -> str:
        if pa.types.is_timestamp(t):
            # tz-aware -> LTZ timestamp; naive also maps to `timestamp`
            # (interpreted in the session zone, UTC under the engine conf),
            # matching what the round-1 driver bridge produced.
            return "timestamp"
        if pa.types.is_int8(t):
            return "tinyint"
        if pa.types.is_int16(t):
            return "smallint"
        if pa.types.is_int32(t):
            return "int"
        if pa.types.is_int64(t):
            return "bigint"
        if pa.types.is_uint8(t) or pa.types.is_uint16(t):
            return "int"
        if pa.types.is_uint32(t):
            return "bigint"
        if pa.types.is_float16(t) or pa.types.is_float32(t):
            return "float"
        if pa.types.is_float64(t):
            return "double"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"array<{field_type(t.value_type)}>"
        raise TypeError(f"nanos_parquet: unsupported parquet type {t}")

    return field_type(t)


def read_native(spark, path: str):
    """Read a ns-timestamp parquet through Spark's NATIVE vectorized
    reader by requesting the ns columns as LONG (their physical INT64
    encoding, which the reader accepts), then rescaling to microsecond
    timestamps in the plan: ``timestamp_micros(ts div 1000)``. The
    truncation matches a DuckDB TIMESTAMP_NS fetch (both integer-truncate;
    test data is post-epoch so rounding direction never differs).

    This is the route for the synthetic ``events`` table: it keeps the
    whole scan JVM-side (whole-stage codegen, no Python workers) and
    inherits native predicate pushdown on the non-timestamp columns.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    schema = pq.read_schema(_list_files(path)[0])
    ddl, cols = [], []
    for f in schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            ddl.append(f"`{f.name}` bigint")
            cols.append(
                F.timestamp_micros(F.expr(f"`{f.name}` div 1000")).alias(
                    f.name
                )
            )
        else:
            ddl.append(f"`{f.name}` {_field_ddl(f.type)}")
            cols.append(F.col(f.name))
    return spark.read.schema(", ".join(ddl)).parquet(path).select(*cols)

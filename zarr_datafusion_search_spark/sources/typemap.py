"""Zarr dtype -> Spark / Arrow type mapping.

Reimplements the reference's ``zarr_to_arrow_field`` semantics
(reference: src/schema.rs:56-125) with Spark's type system:

- Spark has no unsigned integer types: uint8/16/32 widen to the next signed
  type; uint64 widens to ``DecimalType(20, 0)`` (documented widening, see
  SURVEY.md §1.3).
- Spark has no float16: widens to ``FloatType``.
- ``numpy.datetime64`` maps to **timezone-naive** ``TimestampNTZType`` — the
  reference produces ``Timestamp(unit, None)`` (src/schema.rs:96-110) and a
  tz-aware type would shift values with the session timezone.
- A column *named* ``bbox`` with string dtype carries GeoArrow WKT extension
  metadata with CRS EPSG:4326 (src/schema.rs:57-74); any other dtype for
  ``bbox`` is an error (src/schema.rs:68-73). Dispatch is by column name, as
  in the reference.
- Every field is non-nullable (src/schema.rs:64,124).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

from zarr_datafusion_search_spark.sources.zarrv3 import ZarrDType, ZarrError

GEOARROW_WKT_METADATA = {
    "geoarrow:extension": "geoarrow.wkt",
    "crs": "EPSG:4326",
}

# kind -> (spark type, arrow type used on the wire)
_SPARK_ARROW: dict[str, tuple[T.DataType, pa.DataType]] = {
    "bool": (T.BooleanType(), pa.bool_()),
    "int8": (T.ByteType(), pa.int8()),
    "int16": (T.ShortType(), pa.int16()),
    "int32": (T.IntegerType(), pa.int32()),
    "int64": (T.LongType(), pa.int64()),
    # unsigned widening (Spark has no unsigned types)
    "uint8": (T.ShortType(), pa.int16()),
    "uint16": (T.IntegerType(), pa.int32()),
    "uint32": (T.LongType(), pa.int64()),
    "uint64": (T.DecimalType(20, 0), pa.decimal128(20, 0)),
    # float16 widening (Spark has no half type)
    "float16": (T.FloatType(), pa.float32()),
    "float32": (T.FloatType(), pa.float32()),
    "float64": (T.DoubleType(), pa.float64()),
    "string": (T.StringType(), pa.string()),
    "bytes": (T.BinaryType(), pa.binary()),
    "raw": (T.BinaryType(), pa.binary()),
}

# Spark's Arrow bridge only accepts microsecond timestamps (its internal
# representation); coarser/finer units are rescaled on the wire (ns truncates,
# matching Spark's own ns->us behavior for parquet).
_TS_ARROW = {"s": pa.timestamp("us"), "ms": pa.timestamp("us"),
             "us": pa.timestamp("us"), "ns": pa.timestamp("us")}


def zarr_to_spark_field(name: str, dtype: ZarrDType) -> T.StructField:
    """One Zarr array -> one non-nullable Spark field."""
    metadata: dict = {}
    if name == "bbox":
        # geometry special case, dispatched by column name (src/schema.rs:57-74)
        if dtype.kind != "string":
            raise ZarrError(
                f"bbox column must be a string (WKT) array, got {dtype.kind}"
            )
        metadata = dict(GEOARROW_WKT_METADATA)
    if dtype.kind == "datetime64":
        spark_type: T.DataType = T.TimestampNTZType()
    elif dtype.kind in _SPARK_ARROW:
        spark_type = _SPARK_ARROW[dtype.kind][0]
    else:
        raise ZarrError(f"unsupported Zarr dtype: {dtype}")
    return T.StructField(name, spark_type, nullable=False, metadata=metadata)


def zarr_to_arrow_type(dtype: ZarrDType) -> pa.DataType:
    if dtype.kind == "datetime64":
        return _TS_ARROW[dtype.unit]
    if dtype.kind in _SPARK_ARROW:
        return _SPARK_ARROW[dtype.kind][1]
    raise ZarrError(f"unsupported Zarr dtype: {dtype}")


def zarr_to_arrow_array(dtype: ZarrDType, vals) -> pa.Array:
    """Decoded values of one Zarr array -> an Arrow array of
    :func:`zarr_to_arrow_type`."""
    if dtype.kind == "datetime64":
        # int64 ticks in the array's unit -> reinterpret, then rescale to
        # Spark's microsecond timestamps
        return pa.array(vals).cast(pa.timestamp(dtype.unit)).cast(_TS_ARROW[dtype.unit])
    if dtype.kind == "raw":
        # numpy void arrays aren't Arrow-convertible directly
        return pa.array([bytes(v) for v in vals], type=pa.binary())
    if dtype.kind == "bytes":
        return pa.array(list(vals), type=pa.binary())
    arr = pa.array(vals)
    want = zarr_to_arrow_type(dtype)
    return arr if arr.type == want else arr.cast(want)


def group_schema(arrays: dict[str, ZarrDType]) -> T.StructType:
    """Sorted-by-name schema of a group, matching src/schema.rs:39."""
    return T.StructType(
        [zarr_to_spark_field(n, dt) for n, dt in sorted(arrays.items())]
    )

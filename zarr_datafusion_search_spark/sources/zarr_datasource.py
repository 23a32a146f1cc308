"""Spark Python Data Source for Zarr v3 groups: ``format("zarr")``.

This is the Spark-native rebuild of the reference's ``ZarrTableProvider`` +
``ZarrExec`` (reference: src/table_provider.rs:224-300). Differences are
deliberate scale upgrades over the reference's single-partition,
whole-table-in-one-batch scan (src/table_provider.rs:193-220,237):

- **Chunk-aligned partitions**: ``partitions()`` maps row ranges aligned to
  Zarr chunk boundaries to Spark ``InputPartition``s, so a 100 TB store scans
  in parallel across executors and no task materializes the whole table.
  (This is the design the reference's orphaned ``FileSource`` experiment was
  reaching for — src/source.rs:28-33.)
- **Column pruning at the source**: only the Zarr arrays named in the read
  schema are fetched and decoded (a schema given to ``spark.read``, as
  ``ZarrTable.to_df(columns=...)`` does, or ``option("columns", "a,b")``);
  the reference stores the projection but never uses it
  (src/table_provider.rs:228-229).
- **Filter pushdown**: ``pushFilters`` claims simple comparison predicates
  and evaluates them on decoded Arrow batches before shipping rows to the
  JVM; the reference ignores ``_filters`` entirely (src/table_provider.rs:85).
- **Streaming**: ``spark.readStream.format("zarr")`` tails a store that
  ``zarr_sink.append_zarr_distributed`` grows (:class:`ZarrStreamReader`).

One read core (:class:`_ZarrScan`) serves the batch and the stream reader:
the group set-up, one range planner and one read loop.

- *Planner*: ``[lo, hi)`` is split into pieces that end on a lead-chunk
  boundary (the lead chunk is the largest chunk among the read columns), the
  pieces a predicate accepts are kept (chunk pruning, batch reads only), and
  adjacent kept pieces are coalesced up to the rows per partition.
- *Fan-out rule*: an explicit ``partition_rows`` is used as given. The
  default (:data:`DEFAULT_PARTITION_ROWS`) is capped at ``rows //
  _TARGET_PARTS``, where ``rows`` is what is being planned: the whole store
  for a batch read, the new rows for a micro-batch. So small reads still fan
  out to about ``_TARGET_PARTS`` tasks, while big stores keep
  ~``partition_rows``-sized tasks. Either value is rounded down to whole
  lead chunks, and is at least one lead chunk.
- *Read loop*: one Arrow batch per chunk-local slice of a partition,
  starting mid-chunk when a micro-batch does, masked by the claimed filters.

Usage::

    spark.dataSource.register(ZarrDataSource)
    df = (spark.read.format("zarr")
          .option("group", "/meta")
          .load("/path/to/store.zarr"))
"""

from __future__ import annotations

import datetime as _dt
import functools
import os
from dataclasses import dataclass
from fractions import Fraction
from typing import Iterator, List, Sequence

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.typemap import (
    group_schema,
    zarr_to_arrow_array,
)

# Default rows per input partition. Chosen so a partition of a wide-ish table
# of scalar columns stays well under executor memory; tune per deployment with
# option("partition_rows", ...).
DEFAULT_PARTITION_ROWS = 1 << 21  # ~2M rows
_TARGET_PARTS = 64  # default-mode fan-out floor for small reads


@dataclass
class RowRange(InputPartition):
    start: int
    stop: int


# The claimed filter classes: class -> (``pyarrow.compute`` mask kernel,
# chunk test over (stats min, stats max, value in the stats' domain) or None
# when the stats cannot prune it).
_FILTERS = {
    EqualTo: ("equal", lambda mn, mx, v: mn <= v <= mx),
    GreaterThan: ("greater", lambda mn, mx, v: mx > v),
    GreaterThanOrEqual: ("greater_equal", lambda mn, mx, v: mx >= v),
    LessThan: ("less", lambda mn, mx, v: mn < v),
    LessThanOrEqual: ("less_equal", lambda mn, mx, v: mn <= v),
    In: ("is_in", lambda mn, mx, vals: any(mn <= v <= mx for v in vals)),
    IsNull: ("is_null", None),
    IsNotNull: ("is_valid", None),
    StringStartsWith: ("starts_with", None),
    StringEndsWith: ("ends_with", None),
    StringContains: ("match_substring", None),
}


def _mask(batch: pa.RecordBatch, filters: List[Filter]) -> pa.Array:
    """The rows of ``batch`` that pass every claimed filter."""
    # imported here, not at module level: every Spark planning worker
    # imports this module, and importing pyarrow.compute takes tens of ms
    import pyarrow.compute as pc

    masks = []
    for f in filters:
        if isinstance(f, (IsNull, IsNotNull)):
            operands = ()
        elif isinstance(f, In):
            operands = (pa.array(list(f.value)),)
        else:
            operands = (f.value,)
        kernel = getattr(pc, _FILTERS[type(f)][0])
        masks.append(kernel(batch.column(f.attribute[0]), *operands))
    return functools.reduce(pc.and_, masks)


_TICKS_PER_US = {"s": Fraction(1, 10**6), "ms": Fraction(1, 10**3),
                 "us": Fraction(1), "ns": Fraction(1000)}


def _stat_value(v, unit: str | None):
    """A filter value in the chunk stats' domain; None when it has none.

    Datetime stats are integer ticks in the array's unit. Exact integer/
    rational arithmetic only: float ``total_seconds()`` rounds (~0.25us at us
    precision), which could push the value across a chunk's true min/max and
    wrongly prune a boundary-matching chunk."""
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        v = _dt.datetime(v.year, v.month, v.day)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.replace(tzinfo=None) - v.utcoffset()
        delta = v - _dt.datetime(1970, 1, 1)
        ticks_us = (delta.days * 86_400 + delta.seconds) * 10**6 + delta.microseconds
        ticks = ticks_us * _TICKS_PER_US[unit or "us"]
        return int(ticks) if ticks.denominator == 1 else ticks
    if isinstance(v, (int, float, str)):
        return v
    return None


class ZarrDataSource(DataSource):
    """``spark.read.format("zarr")`` over a Zarr v3 group of 1-D arrays."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def _path_option(self) -> str:
        path = self.options.get("path") or self.options.get("location")
        if not path:
            raise ValueError(
                "zarr data source requires a path: .load('/store.zarr'). "
                "Note: catalog tables (CREATE TABLE ... USING zarr) do not "
                "propagate OPTIONS to Python data source readers in this "
                "Spark version — use spark.read.format('zarr').load(path) or "
                "ZarrTable(path, group).register(spark, name) instead."
            )
        return path

    def _group(self) -> zarrv3.ZarrGroup:
        return zarrv3.open_group(self._path_option(), self.options.get("group", "/"))

    def schema(self) -> StructType:
        group = self._group()
        fields = {name: meta.dtype for name, meta in group.arrays.items()}
        columns = self.options.get("columns")
        if columns:
            keep = [c.strip() for c in columns.split(",")]
            missing = [c for c in keep if c not in fields]
            if missing:
                raise ValueError(f"unknown zarr columns: {missing}")
            fields = {c: fields[c] for c in keep}
        return group_schema(fields)

    def _scan(self, cls, schema: StructType):
        return cls(
            self._path_option(),
            self.options.get("group", "/"),
            schema,
            int(self.options.get("partition_rows", DEFAULT_PARTITION_ROWS)),
        )

    def reader(self, schema: StructType) -> "ZarrReader":
        return self._scan(ZarrReader, schema)

    def streamReader(self, schema: StructType) -> "ZarrStreamReader":
        return self._scan(ZarrStreamReader, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "ZarrWriter":
        return ZarrWriter(
            path=zarrv3.normalize_store_path(self._path_option()),
            group_path=self.options.get("group", "/"),
            schema=schema,
            overwrite=overwrite,
            chunk_rows=int(self.options.get("chunk_rows", 65536)),
            zstd_level=int(self.options.get("zstd_level", 0)),
        )


class _ZarrScan:
    """The read core shared by :class:`ZarrReader` and
    :class:`ZarrStreamReader` (see the module docstring).

    Only scalars are kept: the reader is pickled to every task, so the
    per-chunk stats are re-read by ``partitions()`` instead of carried."""

    def __init__(
        self, path: str, group_path: str, schema: StructType, partition_rows: int
    ):
        self._path = path
        self._group_path = group_path
        self._columns = [f.name for f in schema.fields]
        group = zarrv3.open_group(path, group_path)
        missing = [c for c in self._columns if c not in group.arrays]
        if missing:
            raise ValueError(f"zarr group has no arrays named {missing}")
        self._n_rows = group.n_rows
        # align to the largest chunk among the read columns so most chunks
        # are read by exactly one task; columns with smaller chunks are
        # sliced per range (decode is still chunk-local)
        self._lead = max(group.arrays[c].chunk_rows for c in self._columns)
        self._partition_rows = partition_rows
        self._filters: list[Filter] = []

    def _slices(self, lo: int, hi: int) -> Iterator[tuple[int, int]]:
        """Chunk-local pieces of ``[lo, hi)``: each ends on a lead-chunk
        boundary or at ``hi``."""
        while lo < hi:
            end = min((lo // self._lead + 1) * self._lead, hi)
            yield lo, end
            lo = end

    def _plan(self, lo: int, hi: int, keep=None) -> List[RowRange]:
        """Partitions of ``[lo, hi)``: the pieces ``keep(lo, hi)`` accepts,
        coalesced up to the rows per partition of the fan-out rule."""
        per_part = self._partition_rows
        if per_part == DEFAULT_PARTITION_ROWS:
            per_part = min(per_part, max(1, (hi - lo) // _TARGET_PARTS))
        per_part = max(self._lead, per_part // self._lead * self._lead)
        parts: list[RowRange] = []
        for a, b in self._slices(lo, hi):
            if keep is not None and not keep(a, b):
                continue
            if parts and parts[-1].stop == a and b - parts[-1].start <= per_part:
                parts[-1].stop = b
            else:
                parts.append(RowRange(a, b))
        return parts or [RowRange(lo, lo)]

    def read(self, partition: RowRange) -> Iterator[pa.RecordBatch]:
        # one batch per chunk-local slice, so no task holds its whole range
        group = zarrv3.open_group(self._path, self._group_path)
        arrays = [group.arrays[c] for c in self._columns]
        for lo, hi in self._slices(partition.start, partition.stop):
            batch = pa.record_batch(
                [zarr_to_arrow_array(m.dtype, m.read_range(lo, hi)) for m in arrays],
                names=self._columns,
            )
            if self._filters:
                batch = batch.filter(_mask(batch, self._filters))
            if batch.num_rows:
                yield batch


class ZarrReader(_ZarrScan, DataSourceReader):
    """Batch scan: chunk-aligned partitions over the whole store, pruned by
    the per-chunk stats against the claimed filters."""

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Claim simple predicates; evaluate them batch-side in ``read``.

        The reference discards pushed filters (src/table_provider.rs:85); we
        apply them on the decoded Arrow batch so filtered rows never cross
        the Python->JVM boundary.
        """
        for f in filters:
            if (
                type(f) in _FILTERS
                and len(f.attribute) == 1
                and f.attribute[0] in self._columns
            ):
                self._filters.append(f)
            else:
                yield f  # let Spark evaluate the rest

    def partitions(self) -> Sequence[RowRange]:
        # chunk pruning: with per-chunk min/max stats (written by our sink
        # into the array attributes) and claimed filters, whole chunks that
        # cannot satisfy the conjunction are never read — the Zarr analogue
        # of parquet row-group pruning
        group = zarrv3.open_group(self._path, self._group_path)
        return self._plan(
            0, self._n_rows, keep=lambda lo, hi: self._chunk_may_match(group, lo, hi)
        )

    def _chunk_may_match(self, group: zarrv3.ZarrGroup, lo: int, hi: int) -> bool:
        """False only when the stats PROVE no row in [lo, hi) can pass every
        claimed filter; missing/malformed stats always pass."""
        for f in self._filters:
            test = _FILTERS[type(f)][1]
            meta = group.arrays[f.attribute[0]]
            stats = meta.chunk_stats
            if test is None or not stats:
                continue
            if isinstance(f, In):
                val = [_stat_value(v, meta.dtype.unit) for v in f.value]
                val = None if None in val else val
            else:
                val = _stat_value(f.value, meta.dtype.unit)
            if val is None:
                continue
            first, last = lo // meta.chunk_rows, (hi - 1) // meta.chunk_rows
            mins = stats["min"][first : last + 1]
            maxs = stats["max"][first : last + 1]
            if len(mins) != last - first + 1:
                continue  # stats don't cover the range: don't prune
            if not any(
                mn is None or mx is None or test(mn, mx, val)  # None: unknown chunk
                for mn, mx in zip(mins, maxs)
            ):
                return False
        return True


class ZarrStreamReader(_ZarrScan, DataSourceStreamReader):
    """Streaming source that TAILS a growing Zarr store: offsets are
    committed row counts, each micro-batch reads the row ranges appended
    since the last batch (``spark.readStream.format("zarr").load(store)``).

    Visibility is the append sink's metadata commit: chunk files written
    by an in-flight ``append_zarr_distributed`` are invisible until its
    ``zarr.json`` flips the shape, so ``latestOffset`` (the current
    ``n_rows``) only ever exposes fully committed rows — the stream can
    never observe a torn append. Offsets are monotone because append only
    grows the shape; a store REPLACED with fewer rows is a contract
    violation and fails loudly rather than silently re-reading.

    A micro-batch is planned and read by the same core as a batch scan,
    with the same fan-out rule applied to the new rows: a micro-batch over
    the whole store gets the batch reader's unfiltered partitions. Its
    first piece starts mid-chunk when the previous batch ended inside a
    chunk, so that boundary chunk is re-read only for its new tail rows.
    """

    def initialOffset(self) -> dict:
        # new streams start at the beginning of the store
        return {"rows": 0}

    def latestOffset(self) -> dict:
        # the append commit flips per-array zarr.json files with bare
        # renames; a read landing inside that microseconds-wide window can
        # see arrays with disagreeing shapes — retry briefly before failing
        import time

        last_err: Exception | None = None
        for _ in range(5):
            try:
                return {
                    "rows": zarrv3.open_group(
                        self._path, self._group_path
                    ).n_rows
                }
            except zarrv3.ZarrError as ex:
                last_err = ex
                time.sleep(0.05)
        raise last_err

    def partitions(self, start: dict, end: dict) -> Sequence[RowRange]:
        lo, hi = int(start["rows"]), int(end["rows"])
        if hi < lo:
            raise ValueError(
                f"zarr stream offset went backwards ({lo} -> {hi}): the "
                "store was replaced with fewer rows; streams may only tail "
                "appends"
            )
        return self._plan(lo, hi)

    def commit(self, end: dict) -> None:
        # offsets are externally durable (the store itself); nothing to do
        pass


# ---------------------------------------------------------------------------
# sink: df.write.format("zarr")
# ---------------------------------------------------------------------------


@dataclass
class ZarrCommitMessage(WriterCommitMessage):
    partition_id: int
    staged_path: str
    n_rows: int


class ZarrWriter(DataSourceArrowWriter):
    """Write a DataFrame as a Zarr v3 group of parallel 1-D arrays.

    The reference engine is read-only (no ``create_writer_physical_plan``,
    commented out at reference src/file_format.rs:109-117) — this sink is a
    beyond-parity extension.

    Two-phase protocol:

    1. Each task streams its Arrow batches to a staged IPC file (parallel,
       executor-side) and reports (partition_id, path, rows).
    2. ``commit`` assembles the staged files *in partition order* into the
       final store through :class:`zarrv3.ChunkedArrayWriter` — memory is
       bounded by one chunk per column, but throughput is driver-bound.

    Zarr's regular chunk grid is why: a chunk's file name is its global row
    position / chunk_rows, unknowable per-task without a global row index.
    The scale path is ``zarr_sink.write_zarr_distributed``: it assigns
    global row ids (per-partition count + offset pass), repartitions on
    chunk id, and lets each task write whole chunks directly — a
    metadata-only commit.

    Nulls are rejected task-side in phase 1, so a failed overwrite leaves
    the old store in place: ``commit`` is the first step that touches it.
    """

    def __init__(
        self,
        path: str,
        group_path: str,
        schema: StructType,
        overwrite: bool,
        chunk_rows: int,
        zstd_level: int,
    ):
        self._path = path
        self._group = group_path
        self._schema = schema
        self._overwrite = overwrite
        self._chunk_rows = chunk_rows
        self._zstd_level = zstd_level
        self._staging = os.path.join(path, ".staging")
        for field in schema.fields:
            self._col_spec(field)  # validate types eagerly (driver-side)
        # Spark's Python data sources expose only Append/Overwrite save
        # modes. This writer treats "append" as create-new-store and errors
        # when one exists; true row append (boundary-chunk merge) lives in
        # zarr_sink.append_zarr_distributed, which the DSv2 writer protocol
        # can't express (it would need the store's row count at planning).
        zarrv3._check_store(path, overwrite, "mode('overwrite')")

    @staticmethod
    def _col_spec(field) -> dict:
        """StructField -> ChunkedArrayWriter kwargs (or raise)."""
        import numpy as np

        dt = field.dataType
        if isinstance(dt, T.StringType):
            return {"is_string": True}
        if isinstance(dt, (T.TimestampNTZType, T.TimestampType)):
            return {"is_string": False, "datetime_unit": "us", "np_dtype": np.dtype("<i8")}
        numeric = {
            T.BooleanType: "|b1",
            T.ByteType: "|i1",
            T.ShortType: "<i2",
            T.IntegerType: "<i4",
            T.LongType: "<i8",
            T.FloatType: "<f4",
            T.DoubleType: "<f8",
        }
        for spark_t, np_t in numeric.items():
            if isinstance(dt, spark_t):
                return {"is_string": False, "np_dtype": np.dtype(np_t)}
        raise ValueError(
            f"cannot write Spark type {dt.simpleString()} to zarr (column "
            f"{field.name}); supported: numeric, string, boolean, timestamp"
        )

    def write(self, iterator) -> ZarrCommitMessage:
        import uuid

        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._staging, exist_ok=True)
        # one file per task attempt: speculative or zombie attempts of the
        # same partition must not interleave writes into one staged file
        staged = os.path.join(
            self._staging,
            f"part-{pid:05d}.{os.getpid()}.{uuid.uuid4().hex[:8]}.arrow",
        )
        n = 0
        writer = None
        for batch in iterator:
            for col, name in zip(batch.columns, batch.schema.names):
                # the zarr table model is non-nullable: a null int/
                # timestamp column silently degrades to float64+NaN under
                # to_numpy (garbage bytes under int metadata), and string
                # nulls would render as the literal 'None' — fail loudly
                # instead. (Float NaN is a legal zarr value and passes.)
                if col.null_count and not pa.types.is_floating(col.type):
                    raise ValueError(
                        f"column {name!r} has {col.null_count} nulls: the "
                        "zarr table model is non-nullable — drop or fill "
                        "nulls before writing"
                    )
            if writer is None:
                writer = pa.ipc.new_file(staged, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
        else:
            staged = ""
        return ZarrCommitMessage(partition_id=pid, staged_path=staged, n_rows=n)

    def commit(self, messages) -> None:
        import shutil

        import pyarrow as pa

        group_dir = zarrv3._prepare_store(
            self._path,
            self._group,
            self._overwrite,
            "mode('overwrite')",
            keep=(os.path.basename(self._staging),),
        )
        writers = {
            f.name: zarrv3.ChunkedArrayWriter(
                group_dir,
                f.name,
                chunk_rows=self._chunk_rows,
                zstd_level=self._zstd_level,
                **self._col_spec(f),
            )
            for f in self._schema.fields
        }
        for msg in sorted(messages, key=lambda m: m.partition_id):
            if not msg or not msg.staged_path:
                continue
            with pa.ipc.open_file(msg.staged_path) as reader:
                for i in range(reader.num_record_batches):
                    batch = reader.get_batch(i)
                    for f in self._schema.fields:
                        col = batch.column(f.name)
                        if pa.types.is_timestamp(col.type):
                            vals = col.cast(pa.timestamp("us")).cast(pa.int64())
                            writers[f.name].append(
                                vals.to_numpy(zero_copy_only=False)
                            )
                        elif pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                            writers[f.name].append(col.to_pylist())
                        else:
                            writers[f.name].append(
                                col.to_numpy(zero_copy_only=False)
                            )
        lengths = {name: w.close() for name, w in writers.items()}
        if len(set(lengths.values())) > 1:  # pragma: no cover - invariant
            raise ValueError(f"column length mismatch: {lengths}")
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)

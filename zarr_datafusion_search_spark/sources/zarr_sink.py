"""Task-side Zarr writers: the scale path for writing.

The ``format("zarr")`` writer (``zarr_datasource.ZarrWriter``) stages Arrow
files per task and assembles chunks serially on the driver: correct, but
throughput is driver-bound. :func:`write_zarr_distributed` and
:func:`append_zarr_distributed` write chunks on the executors instead (the
reference is read-only, so the whole sink is a beyond-parity extension).
Both run one write core, and a fresh write is an append at row 0 onto an
empty store:

1. **global row ids** from a first row (0, or the store's row count for an
   append) — ``monotonically_increasing_id`` decomposes into (partition id,
   within-partition offset); one metadata-light pass counts rows per
   partition, a broadcast offset map turns the pair into a global
   contiguous row id. The input is persisted for the duration of the write
   so both passes see the same partition layout.
2. **repartition on chunk id** — ``row_id // chunk_rows``; a single hash
   shuffle groups every row of a chunk into one task.
3. **task-side chunk writes** (:func:`_write_chunks`) — ``applyInPandas``
   per chunk id: each group holds one chunk's new rows. The task checks
   they are contiguous, merges the store's old tail rows into the boundary
   chunk when the first row falls mid-chunk, pads, encodes every column
   with the codec stack of the other writers
   (:func:`zarrv3.encode_chunk_payload`, or
   :func:`zarrv3.encode_shard_payload` for a sharded store), writes the
   chunk files atomically, and returns one metadata row (chunk id, rows,
   per-column min/max).
4. **metadata-only commit** (:func:`_commit`) — the driver verifies chunk
   coverage and the row count from the returned rows (one per chunk, not
   data), stages every array's ``zarr.json`` with the kept stats prefix
   plus the new chunk stats as ``zarr.json.pending``, then flips each with
   ``os.replace``. Until then no metadata references a rewritten chunk.

Nulls: the Zarr table model is non-nullable (every chunk is a dense typed
buffer). Null-bearing columns fail loudly task-side unless ``null_fill``
supplies a per-column substitute.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: monotonically_increasing_id() = partition_id << 33 | within-partition seq.
_MONO_PART_SHIFT = 33


def _series_to_vals(s, spec: dict, name: str, cid: int, null_fill: dict):
    """Convert one chunk's pandas column to the dense values the codec
    stack encodes (str list / numeric ndarray / us-tick int64), enforcing
    the non-nullable zarr table model (floats pass NaN through — a legal
    zarr float value)."""
    import pandas as pd

    is_float = (
        not spec["is_string"]
        and not spec.get("datetime_unit")
        and spec["np_dtype"].kind == "f"
    )
    if not is_float and s.isna().any():
        if name in null_fill:
            s = s.fillna(null_fill[name])
        else:
            raise ValueError(
                f"column {name!r} has {int(s.isna().sum())} nulls in "
                f"chunk {cid}: the zarr table model is non-nullable — "
                "drop/fill nulls first or pass null_fill={...}"
            )
    if spec["is_string"]:
        return s.astype(str).tolist()
    if spec.get("datetime_unit"):
        s = pd.to_datetime(s)
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.to_numpy().astype("datetime64[us]").astype("<i8")
    return s.to_numpy().astype(spec["np_dtype"])


def _assign_row_ids(df: DataFrame, chunk_rows: int, start: int):
    """Phase 1 of the write core: global contiguous row ids
    from ``start`` via monotonically_increasing_id decomposition + a
    broadcast per-partition offset map. Returns ``(rows, n_new)`` where
    ``rows`` carries ``_row_id``/``_chunk_id``. The caller must have the
    input persisted so the offset-count action and the write action see
    the same partition layout."""
    mono = df.withColumn("_mono", F.monotonically_increasing_id())
    with_pid = mono.withColumn(
        "_pid", F.shiftright("_mono", _MONO_PART_SHIFT).cast("int")
    ).withColumn(
        "_local", F.col("_mono").bitwiseAND(F.lit((1 << _MONO_PART_SHIFT) - 1))
    )
    counts = {
        r._pid: r.n
        for r in with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_new = sum(counts.values())
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # an empty input has no partitions with rows: CASE with zero WHEN
    # branches does not parse, and no row will read the expression
    offset_expr = (
        "CASE _pid "
        + " ".join(f"WHEN {pid} THEN {off}L" for pid, off in offsets.items())
        + " END"
        if offsets
        else "CAST(0 AS BIGINT)"
    )
    rows = (
        with_pid.withColumn("_row_id", F.expr(offset_expr) + F.col("_local"))
        .withColumn(
            "_chunk_id", (F.col("_row_id") / F.lit(chunk_rows)).cast("long")
        )
        .drop("_mono", "_pid", "_local")
    )
    return rows, n_new


def _write_chunk_file(group_dir: str, name: str, cid: int, payload: bytes) -> None:
    """Atomic chunk write: the append path rewrites the boundary chunk the
    CURRENT metadata references, so a crashed or torn write must never be
    visible — stage to a temp file and os.replace onto the chunk key.

    Temp names carry a per-attempt unique suffix: speculative or zombie
    task attempts of the SAME chunk must not interleave writes into one
    shared staging file (a truncated buffer renamed into place). Each
    attempt stages privately; os.replace is atomic, last writer wins with
    a complete payload either way."""
    import uuid

    final = os.path.join(group_dir, name, "c", str(cid))
    tmp = f"{final}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, final)


def _write_chunks(
    df: DataFrame,
    group_dir: str,
    specs: dict,
    null_fill: dict,
    chunk_rows: int,
    first_row: int,
    zstd_level: int,
    inner_rows: int | None,
    index_crc32c: bool,
):
    """Phases 1-3 of the write core: number ``df``'s rows from
    ``first_row``, shuffle on chunk id and write every touched chunk
    task-side. Returns ``(n_new, {chunk id: result row})``; an empty
    ``df`` stops after the row count, with no write job."""
    import numpy as np

    from zarr_datafusion_search_spark.sources import zarrv3

    names = list(specs)
    for name in names:
        os.makedirs(os.path.join(group_dir, name, "c"), exist_ok=True)
    df = df.persist()
    try:
        rows, n_new = _assign_row_ids(df, chunk_rows, first_row)
        if n_new == 0:
            return 0, {}
        n_rows = first_row + n_new

        def write_chunk(pdf):
            import pandas as pd

            cid = int(pdf["_chunk_id"].iloc[0])
            pdf = pdf.sort_values("_row_id")
            row_ids = pdf["_row_id"].to_numpy()
            lo = cid * chunk_rows
            start, stop = max(lo, first_row), min(lo + chunk_rows, n_rows)
            if len(pdf) != stop - start or row_ids[0] != start or (
                np.diff(row_ids) != 1
            ).any():
                raise ValueError(
                    f"chunk {cid}: non-contiguous row ids "
                    f"[{row_ids[0]}..{row_ids[-1]}], n={len(pdf)}, "
                    f"expected {stop - start} from {start}"
                )
            old = None
            if start > lo:
                # the boundary chunk: merge the store's trailing partial
                # rows (bounded: < one chunk), read through the chunk reader
                g = zarrv3.open_group(group_dir)
                old = {n: g.arrays[n].read_range(lo, start) for n in names}
            # pad EVERY partial chunk to the full chunk_shape, including a
            # single-chunk store: the metadata keeps chunk_shape=chunk_rows,
            # and zarr v3 requires edge chunks to be full-size fill-padded —
            # strict readers (e.g. the zarrs crate the reference builds on)
            # fail decode on short buffers
            n_vals = stop - lo
            pad = chunk_rows - n_vals
            stats = {}
            for name in names:
                spec = specs[name]
                vals = _series_to_vals(pdf[name], spec, name, cid, null_fill)
                if old is not None:
                    if spec["is_string"]:
                        vals = list(old[name]) + vals
                    else:
                        prev = np.asarray(old[name]).astype(spec["np_dtype"])
                        vals = np.concatenate([prev, vals])
                if len(vals) != n_vals:
                    raise ValueError(
                        f"chunk {cid} column {name!r}: merged {len(vals)} "
                        f"values, expected {n_vals}"
                    )
                stats[name] = zarrv3.chunk_stats(vals, spec["is_string"])
                if inner_rows is None:
                    payload = zarrv3.encode_chunk_payload(
                        vals, spec["is_string"], pad, zstd_level
                    )
                else:
                    payload = zarrv3.encode_shard_payload(
                        vals,
                        spec["is_string"],
                        inner_rows,
                        chunk_rows,
                        zstd_level,
                        index_crc32c=index_crc32c,
                    )
                _write_chunk_file(group_dir, name, cid, payload)
            return pd.DataFrame(
                {"chunk_id": [cid], "n": [n_vals], "stats": [json.dumps(stats)]}
            )

        done = (
            rows.groupBy("_chunk_id")
            .applyInPandas(write_chunk, "chunk_id long, n long, stats string")
            .collect()
        )
    finally:
        df.unpersist()
    return n_new, {r.chunk_id: r for r in done}


def _commit(
    group_dir: str,
    specs: dict,
    done: dict,
    first_row: int,
    n_rows: int,
    chunk_rows: int,
    kept: dict,
    **layout,
) -> None:
    """Phase 4 of the write core: check that the chunks from the one
    holding ``first_row`` on were all written with every row, then stage
    each array's ``zarr.json`` as ``zarr.json.pending`` and flip them with
    bare renames — shrinking the multi-array commit window from N
    encode+write cycles to N atomic renames, so a concurrent open_group
    (the stream reader's latestOffset) has the smallest possible chance of
    seeing disagreeing shapes. ``kept[name]`` is the ``(min, max)`` stats
    of the untouched chunks before it, or None to drop the array's stats.
    ``layout`` is ``zstd_level``/``inner_rows``/``index_crc32c``."""
    from zarr_datafusion_search_spark.sources import zarrv3

    first = first_row // chunk_rows
    expected = list(range(first, -(-n_rows // chunk_rows)))
    if sorted(done) != expected:
        raise ValueError(
            f"chunk coverage mismatch: expected {expected}, got {sorted(done)}"
        )
    written = sum(r.n for r in done.values())
    if written != n_rows - first * chunk_rows:
        raise ValueError(
            f"row count mismatch: wrote {written}, expected "
            f"{n_rows - first * chunk_rows}"
        )
    new_stats = [json.loads(done[c].stats) for c in expected]
    for name, spec in specs.items():
        stat_min = stat_max = None
        if kept[name] is not None:
            stat_min = list(kept[name][0]) + [s[name][0] for s in new_stats]
            stat_max = list(kept[name][1]) + [s[name][1] for s in new_stats]
        zarrv3.write_array_metadata(
            os.path.join(group_dir, name),
            n_rows=n_rows,
            chunk_rows=chunk_rows,
            stat_min=stat_min,
            stat_max=stat_max,
            # the chunk grid stays as requested even for a store smaller
            # than one chunk, so later appends keep the intended chunking
            clamp_chunk=False,
            filename="zarr.json.pending",
            **spec,
            **layout,
        )
    for name in specs:
        arr_dir = os.path.join(group_dir, name)
        os.replace(
            os.path.join(arr_dir, "zarr.json.pending"),
            os.path.join(arr_dir, "zarr.json"),
        )


def write_zarr_distributed(
    df: DataFrame,
    path: str,
    group_path: str = "/",
    chunk_rows: int = 65536,
    zstd_level: int = 0,
    null_fill: dict | None = None,
    overwrite: bool = False,
    inner_rows: int | None = None,
) -> int:
    """Write ``df`` as a Zarr v3 group of parallel 1-D arrays; returns the
    row count. Executors write whole chunks in parallel; the driver commits
    metadata only.

    With ``inner_rows`` the store is ``sharding_indexed``: each task's unit
    becomes one SHARD object of ``chunk_rows`` rows packing independently
    compressed ``inner_rows`` chunks plus a crc32c-checksummed index — the
    object-count-friendly layout for 100 TB stores (same read granularity,
    ~chunk_rows/inner_rows fewer objects)."""
    from zarr_datafusion_search_spark.sources import zarrv3
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrWriter

    if inner_rows is not None and chunk_rows % inner_rows != 0:
        raise ValueError("chunk_rows (shard size) must be a multiple of inner_rows")
    specs = {f.name: ZarrWriter._col_spec(f) for f in df.schema.fields}
    null_fill = dict(null_fill or {})
    for c in null_fill:
        if c not in specs:
            raise KeyError(f"null_fill column {c!r} not in DataFrame")
    group_dir = zarrv3._prepare_store(path, group_path, overwrite, "overwrite=True")
    layout = dict(
        zstd_level=zstd_level,
        inner_rows=inner_rows,
        index_crc32c=inner_rows is not None,
    )
    total, done = _write_chunks(
        df, group_dir, specs, null_fill, chunk_rows, 0, **layout
    )
    kept = {name: ([], []) for name in specs}
    _commit(group_dir, specs, done, 0, total, chunk_rows, kept, **layout)
    return total


def compact_zarr_stores(
    spark,
    stores: list[str],
    out_path: str,
    group_path: str = "/",
    chunk_rows: int = 65536,
    inner_rows: int | None = None,
    zstd_level: int = 0,
) -> int:
    """Rewrite many small Zarr stores (e.g. streaming landing-zone batch
    stores from ``write_stream_to_zarr``) into ONE store, optionally
    sharded. The compaction job a landing zone needs: reads are a chunk-
    partitioned union scan (parallel across stores and chunks), the write
    is the distributed sink — both ends executor-side, metadata-only on
    the driver. Schemas must match across stores. Returns rows written."""
    from functools import reduce

    from zarr_datafusion_search_spark.sources.zarr_table import ZarrTable

    if not stores:
        raise ValueError("no stores to compact")
    dfs = [ZarrTable(s, group_path).to_df(spark) for s in stores]
    union = reduce(lambda a, b: a.unionByName(b), dfs)
    return write_zarr_distributed(
        union,
        out_path,
        group_path=group_path,
        chunk_rows=chunk_rows,
        inner_rows=inner_rows,
        zstd_level=zstd_level,
    )


def append_zarr_distributed(
    df: DataFrame,
    path: str,
    group_path: str = "/",
    zstd_level: int | None = None,
    null_fill: dict | None = None,
) -> int:
    """Append rows to an existing Zarr store, task-side; returns the new
    total row count.

    Zarr's regular chunk grid has no native row append (the format writer
    refuses and says so) — but append IS implementable with bounded extra
    I/O, and a landing zone wants it: only the boundary chunk (the
    existing store's final, possibly partial, chunk) must be rewritten;
    every other existing chunk's bytes are untouched. This is the write
    core with the first row at the store's row count: the task that owns
    the boundary chunk reads the store's trailing partial rows through the
    chunk reader, prepends them to its new rows, and writes the merged
    chunk. The commit extends shape and per-chunk stats; a failed job
    leaves the old ``zarr.json`` (and therefore the old logical table)
    fully intact, because data files for chunks >= the boundary are not
    referenced until the metadata flips.

    Schema must match the store (same column names; Spark types mapping
    to each array's exact zarr dtype). ``zstd_level``/shard layout are
    inherited from the store (``zstd_level`` overrides if given).
    """
    from zarr_datafusion_search_spark.sources import zarrv3
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrWriter

    group = zarrv3.open_group(path, group_path)
    if not group.arrays:
        raise ValueError(f"no arrays in zarr group {path}{group_path}")
    names = sorted(group.arrays)
    if sorted(df.columns) != names:
        raise ValueError(
            f"append schema mismatch: store has {names}, DataFrame has "
            f"{sorted(df.columns)}"
        )
    specs = {f.name: ZarrWriter._col_spec(f) for f in df.schema.fields}

    # dtype compatibility: the spec must regenerate the array's data_type
    for name in names:
        expected = zarrv3._column_json(**specs[name])[0]
        actual = zarrv3.dtype_to_json(group.arrays[name].dtype)
        if expected != actual:
            raise ValueError(
                f"append dtype mismatch on {name!r}: store is {actual}, "
                f"DataFrame maps to {expected}"
            )

    meta0 = group.arrays[names[0]]
    chunk_rows = meta0.chunk_rows
    old_total = meta0.n_rows
    for name in names:
        m = group.arrays[name]
        if m.n_rows != old_total or m.chunk_rows != chunk_rows:
            raise ValueError(
                f"array {name!r} disagrees on shape/chunking "
                f"({m.n_rows}x{m.chunk_rows} vs {old_total}x{chunk_rows})"
            )
    sharding = meta0.sharding
    if zstd_level is None:
        chain = (sharding or {}).get("codecs") or meta0.codecs
        zstd_level = next(
            (
                (c.get("configuration") or {}).get("level", 0)
                for c in chain
                if c.get("name") == "zstd"
            ),
            0,
        )
    index_codecs = (sharding or {}).get("index_codecs") or []
    layout = dict(
        zstd_level=zstd_level,
        inner_rows=sharding["chunk_shape"][0] if sharding else None,
        index_crc32c=any(c.get("name") == "crc32c" for c in index_codecs),
    )

    group_rel = group_path.strip("/")
    group_dir = zarrv3.normalize_store_path(path)
    if group_rel:
        group_dir = os.path.join(group_dir, group_rel)
    n_new, done = _write_chunks(
        df, group_dir, specs, dict(null_fill or {}), chunk_rows, old_total, **layout
    )
    if n_new == 0:
        return old_total
    # chunks before the boundary keep their stats verbatim; a store
    # without (complete) stats loses them
    keep = old_total // chunk_rows
    kept = {}
    for name in names:
        stats = group.arrays[name].chunk_stats or {"min": [], "max": []}
        ok = len(stats["min"]) >= keep
        kept[name] = (stats["min"][:keep], stats["max"][:keep]) if ok else None
    n_rows = old_total + n_new
    _commit(group_dir, specs, done, old_total, n_rows, chunk_rows, kept, **layout)
    return n_rows

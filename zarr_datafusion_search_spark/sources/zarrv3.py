"""Minimal pure-Python Zarr v3 store reader/writer.

The execution environment has no ``zarr``/``numcodecs``/``zstandard``
packages, so this module implements the small subset of the Zarr v3 spec the
engine needs, using only ``numpy`` + ``pyarrow`` (whose bundled zstd codec
handles (de)compression; streaming decompression avoids needing the
decompressed size up front).

Scope (mirrors what the reference engine consumes / produces):

- Zarr v3 stores on a local filesystem (``zarr_format: 3`` directory layout
  with per-node ``zarr.json`` metadata and ``c/<i>`` chunk keys). The
  reference reads the same layout via the ``zarrs`` crate
  (reference: src/table_provider.rs:100-104).
- 1-D arrays only for table reads — the data model is "a group of parallel
  1-D arrays = one table" (reference: README.md:5-16).
- dtypes: bool, (u)int8/16/32/64, float16/32/64, raw bits, variable-length
  UTF-8 strings, and ``numpy.datetime64`` with s/ms/us/ns units — exactly the
  supported set of the reference's type mapping (reference: src/schema.rs:56-125).
  Complex, extension, and other datetime units raise, matching
  src/schema.rs:89-122.
- codecs: ``bytes`` (endian), ``vlen-utf8``, ``vlen-bytes``, ``zstd``,
  ``gzip``, ``crc32c`` (stripped; no crc32c library bundled), and
  ``sharding_indexed`` (inner chunks packed per shard object with a uint64
  offset/nbytes index — the object-count-friendly layout for very large
  stores). The reference's own fixture uses ``vlen-utf8``+``zstd`` and
  ``bytes``+``zstd`` (data/zarr_store.zarr/meta/*/zarr.json).
"""

from __future__ import annotations

import json
import math
import os
import struct
import zlib
from dataclasses import dataclass, field
from typing import Any, Sequence

import numpy as np
import pyarrow as pa


_CRC32C_TABLE: "np.ndarray | None" = None


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — dependency-free,
    table-driven. Used to verify the zarr ``crc32c`` codec and shard-index
    checksums; ~100 MB/s via a numpy-backed byte loop, fine for a codec
    that appears on metadata-sized payloads and optional chunk checksums."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = np.empty(256, dtype=np.uint32)
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table[i] = c
        _CRC32C_TABLE = table
    tab = _CRC32C_TABLE
    crc = 0xFFFFFFFF
    for b in memoryview(data):
        crc = (crc >> 8) ^ int(tab[(crc ^ b) & 0xFF])
    return crc ^ 0xFFFFFFFF


def _verify_crc32c(payload: bytes, stored: bytes, what: str) -> None:
    (want,) = struct.unpack("<I", stored)
    got = crc32c(payload)
    if got != want:
        raise ZarrError(
            f"crc32c mismatch in {what}: stored {want:#010x}, "
            f"computed {got:#010x} — chunk data is corrupted"
        )


class ZarrError(ValueError):
    """Error reading or interpreting a Zarr v3 store."""


# ---------------------------------------------------------------------------
# dtype handling
# ---------------------------------------------------------------------------

_FIXED_NUMPY: dict[str, str] = {
    "bool": "|b1",
    "int8": "|i1",
    "int16": "<i2",
    "int32": "<i4",
    "int64": "<i8",
    "uint8": "|u1",
    "uint16": "<u2",
    "uint32": "<u4",
    "uint64": "<u8",
    "float16": "<f2",
    "float32": "<f4",
    "float64": "<f8",
}

_DATETIME_UNITS = {"s", "ms", "us", "ns"}


@dataclass(frozen=True)
class ZarrDType:
    """Normalized Zarr v3 data type.

    ``kind`` is one of the fixed numeric names above, ``"string"``,
    ``"bytes"``, ``"raw"`` (raw bits, ``nbytes`` set), or ``"datetime64"``
    (``unit`` set).
    """

    kind: str
    unit: str | None = None
    nbytes: int | None = None

    @property
    def is_variable(self) -> bool:
        return self.kind in ("string", "bytes")

    def numpy_dtype(self) -> np.dtype:
        if self.kind in _FIXED_NUMPY:
            return np.dtype(_FIXED_NUMPY[self.kind])
        if self.kind == "datetime64":
            return np.dtype("<i8")  # epoch ticks in self.unit
        if self.kind == "raw":
            return np.dtype(f"|V{self.nbytes}")
        raise ZarrError(f"no fixed numpy dtype for {self}")


def parse_dtype(data_type: Any) -> ZarrDType:
    """Parse the ``data_type`` member of a v3 array metadata document.

    Unsupported types raise, mirroring the reference's explicit error paths
    for complex/extension/other (reference: src/schema.rs:89-122).
    """
    if isinstance(data_type, str):
        if data_type in _FIXED_NUMPY:
            return ZarrDType(data_type)
        if data_type == "string":
            return ZarrDType("string")
        if data_type == "bytes":
            return ZarrDType("bytes")
        if data_type.startswith("r") and data_type[1:].isdigit():
            bits = int(data_type[1:])
            if bits % 8 != 0:
                raise ZarrError(f"raw bits not byte-aligned: {data_type}")
            return ZarrDType("raw", nbytes=bits // 8)
        if data_type.startswith("complex"):
            raise ZarrError(f"complex types are not supported: {data_type}")
        raise ZarrError(f"unsupported Zarr data type: {data_type!r}")
    if isinstance(data_type, dict):
        name = data_type.get("name")
        config = data_type.get("configuration", {}) or {}
        if name == "numpy.datetime64":
            unit = config.get("unit")
            if unit not in _DATETIME_UNITS:
                raise ZarrError(
                    f"unsupported numpy.datetime64 unit {unit!r} "
                    "(only s/ms/us/ns are supported)"
                )
            if config.get("scale_factor", 1) != 1:
                raise ZarrError("numpy.datetime64 scale_factor != 1 unsupported")
            return ZarrDType("datetime64", unit=unit)
        raise ZarrError(f"unsupported extension data type: {name!r}")
    raise ZarrError(f"unparseable data_type: {data_type!r}")


def dtype_to_json(dt: ZarrDType) -> Any:
    if dt.kind == "datetime64":
        return {
            "name": "numpy.datetime64",
            "configuration": {"unit": dt.unit, "scale_factor": 1},
        }
    if dt.kind == "raw":
        return f"r{dt.nbytes * 8}"
    return dt.kind


# ---------------------------------------------------------------------------
# codecs
# ---------------------------------------------------------------------------


def _zstd_decompress(raw: bytes) -> bytes:
    with pa.input_stream(pa.BufferReader(raw), compression="zstd") as f:
        return f.read()


def _zstd_compress(raw: bytes, level: int = 0) -> bytes:
    return pa.Codec("zstd", compression_level=level).compress(raw, asbytes=True)


def _decode_vlen(buf: bytes) -> list[str] | list[bytes]:
    """numcodecs VLen layout: u32 item count, then (u32 length, payload)*."""
    (n,) = struct.unpack_from("<I", buf, 0)
    off = 4
    out: list[bytes] = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", buf, off)
        off += 4
        out.append(buf[off : off + ln])
        off += ln
    return out


def _encode_vlen(items: Sequence[bytes]) -> bytes:
    parts = [struct.pack("<I", len(items))]
    for it in items:
        parts.append(struct.pack("<I", len(it)))
        parts.append(it)
    return b"".join(parts)


# ---------------------------------------------------------------------------
# array metadata
# ---------------------------------------------------------------------------


@dataclass
class ZarrArrayMeta:
    """Parsed ``zarr.json`` for one 1-D array."""

    store_path: str
    path: str  # path within the store, e.g. "meta/date"
    name: str  # column name = path with group prefix stripped (src/schema.rs:43-53)
    shape: tuple[int, ...]
    chunk_shape: tuple[int, ...]
    dtype: ZarrDType
    codecs: list[dict]
    fill_value: Any
    separator: str = "/"
    #: optional per-chunk min/max ({"min": [...], "max": [...]}) from the
    #: array attributes key "zdss:chunk_stats"; written by our sink, used
    #: for chunk pruning against pushed filters. Datetime stats are ticks
    #: in the array's unit.
    chunk_stats: dict | None = None

    @property
    def n_rows(self) -> int:
        return self.shape[0]

    @property
    def chunk_rows(self) -> int:
        return self.chunk_shape[0]

    @property
    def n_chunks(self) -> int:
        return max(1, math.ceil(self.n_rows / self.chunk_rows)) if self.n_rows else 0

    def chunk_file(self, index: int) -> str:
        # default chunk key encoding: "c" + separator + index (1-D)
        return os.path.join(
            self.store_path, self.path, "c" + self.separator + str(index)
        )

    # -- decoding -----------------------------------------------------------

    @property
    def sharding(self) -> dict | None:
        """sharding_indexed configuration when this array is sharded (the
        codec must be the only entry of the outer chain per the spec)."""
        if self.codecs and self.codecs[0].get("name") == "sharding_indexed":
            return self.codecs[0].get("configuration") or {}
        return None

    def decode_chunk(self, raw: bytes | None, rows: int) -> np.ndarray | list:
        """Decode one (outer) chunk's bytes into ``rows`` logical values.

        ``raw is None`` means the chunk file is absent → fill value.
        """
        if raw is None:
            return self._fill(rows)
        sharding = self.sharding
        if sharding is not None:
            return self._decode_shard(bytes(raw), rows, sharding)
        return self._decode_pipeline(raw, rows, self.codecs)

    def _decode_pipeline(
        self, raw: bytes, rows: int, codecs: list[dict]
    ) -> np.ndarray | list:
        buf = raw
        # bytes->bytes codecs run last on encode, so undo them first
        array_codec: dict | None = None
        for codec in reversed(codecs):
            cname = codec.get("name")
            if cname == "zstd":
                buf = _zstd_decompress(bytes(buf))
            elif cname == "gzip":
                buf = zlib.decompress(bytes(buf), wbits=31)
            elif cname == "crc32c":
                # checksum codec appends a little-endian CRC-32C
                _verify_crc32c(
                    bytes(buf[:-4]), bytes(buf[-4:]), f"array {self.path}"
                )
                buf = buf[:-4]
            elif cname in ("bytes", "vlen-utf8", "vlen-bytes"):
                array_codec = codec
            elif cname in ("transpose", "sharding_indexed", "blosc"):
                raise ZarrError(f"unsupported codec: {cname}")
            else:
                raise ZarrError(f"unknown codec: {cname}")
        if array_codec is None:
            raise ZarrError(f"array {self.path} has no array->bytes codec")
        cname = array_codec["name"]
        if cname == "vlen-utf8":
            vals = [b.decode("utf-8") for b in _decode_vlen(bytes(buf))]
            return vals[:rows]
        if cname == "vlen-bytes":
            return list(_decode_vlen(bytes(buf)))[:rows]
        # fixed-width "bytes" codec
        endian = (array_codec.get("configuration") or {}).get("endian", "little")
        np_dt = self.dtype.numpy_dtype()
        if endian == "big":
            np_dt = np_dt.newbyteorder(">")
        arr = np.frombuffer(bytes(buf), dtype=np_dt)
        return arr[:rows]

    def _decode_shard(self, raw: bytes, rows: int, cfg: dict) -> np.ndarray | list:
        """Decode a sharding_indexed shard: inner chunks packed into one
        object with an (offset, nbytes) uint64 index at the start or end.

        Missing inner chunks (offset == nbytes == 2^64-1) yield fill values.
        The index is decoded through ``index_codecs`` (only ``bytes`` [+
        ``crc32c``] supported — the spec default).
        """
        inner_rows = int(cfg["chunk_shape"][0])
        shard_rows = self.chunk_rows
        if shard_rows % inner_rows != 0:
            raise ZarrError(
                f"shard rows {shard_rows} not a multiple of inner chunk "
                f"rows {inner_rows}"
            )
        n_inner = shard_rows // inner_rows
        idx_size = n_inner * 16
        idx_checksummed = False
        for c in cfg.get("index_codecs", []):
            if c.get("name") == "crc32c":
                idx_size += 4
                idx_checksummed = True
            elif c.get("name") != "bytes":
                raise ZarrError(f"unsupported index codec: {c.get('name')}")
        if cfg.get("index_location", "end") == "start":
            idx_raw, body_offset = raw[:idx_size], 0
        else:
            idx_raw, body_offset = raw[-idx_size:], 0
        if idx_checksummed:
            _verify_crc32c(
                bytes(idx_raw[: n_inner * 16]),
                bytes(idx_raw[n_inner * 16 : n_inner * 16 + 4]),
                f"shard index of array {self.path}",
            )
        index = np.frombuffer(idx_raw[: n_inner * 16], dtype="<u8").reshape(
            n_inner, 2
        )
        missing = np.uint64(2**64 - 1)
        inner_codecs = cfg.get("codecs", [])
        pieces: list = []
        produced = 0
        for i in range(n_inner):
            if produced >= rows:
                break
            take = min(inner_rows, rows - produced)
            off, nb = index[i]
            if off == missing and nb == missing:
                pieces.append(self._fill(take))
            else:
                seg = raw[body_offset + int(off) : body_offset + int(off) + int(nb)]
                vals = self._decode_pipeline(seg, take, inner_codecs)
                pieces.append(vals[:take])
            produced += take
        if self.dtype.is_variable:
            out: list = []
            for p in pieces:
                out.extend(p)
            return out
        return pieces[0] if len(pieces) == 1 else np.concatenate(pieces)

    def _fill(self, rows: int):
        if self.dtype.is_variable:
            fv = self.fill_value if self.fill_value is not None else ""
            return [fv] * rows
        np_dt = self.dtype.numpy_dtype()
        fv = self.fill_value
        if fv is None:
            fv = 0
        return np.full(rows, fv, dtype=np_dt)

    # -- range read ---------------------------------------------------------

    def read_range(self, start: int, stop: int) -> np.ndarray | list:
        """Read logical rows [start, stop) across covering chunks."""
        stop = min(stop, self.n_rows)
        if stop <= start:
            return [] if self.dtype.is_variable else np.empty(0, self.dtype.numpy_dtype())
        crows = self.chunk_rows
        first, last = start // crows, (stop - 1) // crows
        pieces: list = []
        for ci in range(first, last + 1):
            c_start = ci * crows
            c_len = min(crows, self.n_rows - c_start)
            path = self.chunk_file(ci)
            try:
                raw = _read_bytes(path)
            except FileNotFoundError:
                raw = None  # only a missing key means fill value in zarr
            vals = self.decode_chunk(raw, c_len)
            lo = max(start, c_start) - c_start
            hi = min(stop, c_start + c_len) - c_start
            pieces.append(vals[lo:hi])
        if self.dtype.is_variable:
            out: list = []
            for p in pieces:
                out.extend(p)
            return out
        return pieces[0] if len(pieces) == 1 else np.concatenate(pieces)


def normalize_store_path(path: str) -> str:
    """Accept plain paths and ``file:`` URIs (Spark's DDL/catalog layer
    resolves OPTIONS paths to URIs)."""
    if path.startswith("file://"):
        return path[len("file://") :] or "/"
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


# -- storage access (local fs, or any fsspec URL when fsspec is present) ----
#
# Mirrors the reference's two interchangeable backends (sync filesystem /
# async object store, src/table_provider.rs:143-191): local paths use the
# stdlib; s3://, gs://, etc. route through fsspec when it is installed.
# Writers are local-only (the sink's staged-commit protocol needs renames).


def _is_remote(path: str) -> bool:
    return "://" in path and not path.startswith("file:")


def _fs(path: str):
    try:
        import fsspec
    except ImportError as e:  # pragma: no cover - fsspec not in test env
        raise ZarrError(
            f"remote store {path!r} requires fsspec, which is not installed"
        ) from e
    return fsspec.filesystem(path.split("://", 1)[0])


def _exists(path: str) -> bool:
    if _is_remote(path):
        return _fs(path).exists(path)
    return os.path.exists(path)


def _read_bytes(path: str) -> bytes:
    if _is_remote(path):
        return _fs(path).cat_file(path)
    with open(path, "rb") as f:
        return f.read()


def _listdir(path: str) -> list[str]:
    if _is_remote(path):
        return [p.rstrip("/").rsplit("/", 1)[-1] for p in _fs(path).ls(path)]
    return os.listdir(path)


def _isdir(path: str) -> bool:
    if _is_remote(path):
        return _fs(path).isdir(path)
    return os.path.isdir(path)


def _load_json(path: str) -> dict:
    return json.loads(_read_bytes(path).decode("utf-8"))


def open_array(store_path: str, array_path: str) -> ZarrArrayMeta:
    store_path = normalize_store_path(store_path)
    array_path = array_path.strip("/")
    meta_path = os.path.join(store_path, array_path, "zarr.json")
    if not _exists(meta_path):
        raise ZarrError(f"no zarr.json at {meta_path}")
    return _array_meta(store_path, array_path, _load_json(meta_path), meta_path)


def _array_meta(
    store_path: str, array_path: str, doc: dict, meta_path: str
) -> ZarrArrayMeta:
    """An array's parsed ``zarr.json`` document -> its metadata."""
    if doc.get("zarr_format") != 3 or doc.get("node_type") != "array":
        raise ZarrError(f"{meta_path} is not a Zarr v3 array")
    shape = tuple(doc["shape"])
    grid = doc.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise ZarrError(f"unsupported chunk grid: {grid.get('name')}")
    chunk_shape = tuple(grid["configuration"]["chunk_shape"])
    cke = doc.get("chunk_key_encoding", {}) or {}
    sep = (cke.get("configuration") or {}).get("separator", "/")
    stats = (doc.get("attributes") or {}).get("zdss:chunk_stats")
    if stats is not None and not (
        isinstance(stats, dict) and "min" in stats and "max" in stats
    ):
        stats = None  # malformed: ignore rather than fail the scan
    return ZarrArrayMeta(
        store_path=store_path,
        path=array_path,
        name=array_path.rsplit("/", 1)[-1],
        shape=shape,
        chunk_shape=chunk_shape,
        dtype=parse_dtype(doc["data_type"]),
        codecs=doc.get("codecs", []),
        fill_value=doc.get("fill_value"),
        separator=sep,
        chunk_stats=stats,
    )


@dataclass
class ZarrGroup:
    """A Zarr v3 group of parallel 1-D arrays = one relational table.

    Column names are array names; fields are sorted lexicographically for a
    consistent order, matching the reference (src/schema.rs:39).
    """

    store_path: str
    group_path: str
    arrays: dict[str, ZarrArrayMeta] = field(default_factory=dict)

    @property
    def n_rows(self) -> int:
        if not self.arrays:
            return 0
        return next(iter(self.arrays.values())).n_rows


def open_group(store_path: str, group_path: str = "/") -> ZarrGroup:
    """Open a group and discover its immediate child 1-D arrays."""
    store_path = normalize_store_path(store_path)
    group_rel = group_path.strip("/")
    group_dir = os.path.join(store_path, group_rel) if group_rel else store_path
    meta_path = os.path.join(group_dir, "zarr.json")
    if not _exists(meta_path):
        raise ZarrError(f"no zarr.json at {meta_path}")
    doc = _load_json(meta_path)
    if doc.get("zarr_format") != 3 or doc.get("node_type") != "group":
        raise ZarrError(f"{meta_path} is not a Zarr v3 group")
    arrays: dict[str, ZarrArrayMeta] = {}
    for entry in sorted(_listdir(group_dir)):
        child_dir = os.path.join(group_dir, entry)
        child_meta = os.path.join(child_dir, "zarr.json")
        if not (_isdir(child_dir) and _exists(child_meta)):
            continue
        child_doc = _load_json(child_meta)
        if child_doc.get("node_type") != "array":
            continue
        rel = (group_rel + "/" + entry) if group_rel else entry
        meta = _array_meta(store_path, rel, child_doc, child_meta)
        if len(meta.shape) != 1:
            raise ZarrError(
                f"array {rel} has rank {len(meta.shape)}; the table model "
                "requires parallel 1-D arrays (reference README.md:5-16)"
            )
        arrays[entry] = meta
    if not arrays:
        raise ZarrError(f"group {group_path} contains no 1-D arrays")
    lengths = {m.n_rows for m in arrays.values()}
    if len(lengths) > 1:
        raise ZarrError(f"group arrays disagree on length: {lengths}")
    return ZarrGroup(store_path=store_path, group_path=group_path, arrays=arrays)


# ---------------------------------------------------------------------------
# writer (fixtures + sink)
# ---------------------------------------------------------------------------


def write_group(
    store_path: str,
    group_path: str,
    columns: dict[str, Any],
    chunk_rows: int = 65536,
    zstd_level: int = 0,
) -> None:
    """Write a dict of parallel 1-D columns as a Zarr v3 group.

    Accepts numpy arrays (numeric / datetime64) and lists of ``str``. Layout,
    codecs, and metadata match what ``zarr-python`` v3 produces for the
    reference fixture (data/zarr_store.zarr): ``vlen-utf8``+``zstd`` for
    strings, ``bytes``(little)+``zstd`` for fixed-width types.
    """
    group_dir = init_group(store_path, group_path)
    lengths = {len(v) for v in columns.values()}
    if len(lengths) > 1:
        raise ZarrError(f"columns disagree on length: {lengths}")
    for name, values in columns.items():
        _write_array(group_dir, name, values, chunk_rows, zstd_level)


def encode_chunk_payload(
    vals, is_string: bool, pad: int, zstd_level: int
) -> bytes:
    """Encode one chunk's values (plus ``pad`` fill rows) to compressed
    bytes — the stateless core shared by :class:`ChunkedArrayWriter`
    (driver-side streaming) and the distributed sink's task-side writes."""
    if is_string:
        items = [str(v).encode("utf-8") for v in vals]
        items.extend([b""] * pad)
        payload = _encode_vlen(items)
    else:
        arr = np.asarray(vals)
        if pad:
            arr = np.concatenate([arr, np.zeros(pad, dtype=arr.dtype)])
        if arr.dtype.kind == "M":
            arr = arr.astype("<i8")
        else:
            arr = arr.astype(arr.dtype.newbyteorder("<"))
        payload = arr.tobytes()
    return _zstd_compress(payload, zstd_level)


def chunk_stats(vals, is_string: bool):
    """(min, max) of a chunk's real (pre-padding) values, or (None, None)
    for empty/boolean chunks. Datetimes record integer ticks."""
    if len(vals) == 0:
        return None, None
    if is_string:
        return min(vals), max(vals)
    arr = np.asarray(vals)
    if arr.dtype.kind == "b":
        return None, None
    if arr.dtype.kind == "M":
        arr = arr.astype("<i8")
    return arr.min().item(), arr.max().item()


def _column_json(
    is_string: bool,
    np_dtype=None,
    datetime_unit: str | None = None,
    zstd_level: int = 0,
) -> tuple[Any, Any, list[dict]]:
    """``(data_type, fill_value, codecs)`` of one column spec: the members
    of ``zarr.json`` every writer derives from it. ``codecs`` is the
    array->bytes + ``zstd`` chain (a sharded array's inner chain)."""
    zstd = {"name": "zstd", "configuration": {"level": zstd_level, "checksum": False}}
    if is_string:
        return "string", "", [{"name": "vlen-utf8", "configuration": {}}, zstd]
    if datetime_unit:
        zdt, fill = ZarrDType("datetime64", unit=datetime_unit), -9223372036854775808
    else:
        zdt, fill = _numpy_to_zarr_dtype(np.empty(0, np_dtype)), 0
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}, zstd]
    return dtype_to_json(zdt), fill, codecs


def write_array_metadata(
    arr_dir: str,
    n_rows: int,
    chunk_rows: int,
    is_string: bool,
    np_dtype=None,
    datetime_unit: str | None = None,
    zstd_level: int = 0,
    stat_min: "list | None" = None,
    stat_max: "list | None" = None,
    inner_rows: int | None = None,
    index_crc32c: bool = False,
    clamp_chunk: bool = True,
    filename: str = "zarr.json",
) -> None:
    """Write one array's ``zarr.json`` (shape/dtype/codecs/chunk stats).
    With ``inner_rows`` the array is ``sharding_indexed``: ``chunk_rows``
    becomes the shard size and the codec chain wraps the inner chunks.

    ``clamp_chunk`` shrinks ``chunk_shape`` to ``n_rows`` for small
    arrays — correct for :class:`ChunkedArrayWriter`, whose PHYSICAL
    chunks are clamped the same way, but writers whose layout keeps the
    requested chunk grid (the distributed sink: one unpadded partial
    chunk) pass ``clamp_chunk=False`` so a store created from a small
    first batch keeps its intended chunk size for later appends.
    ``filename`` lets a multi-array commit stage every array's metadata
    first (``zarr.json.pending``) and flip them with bare renames."""
    dt, fill, codecs = _column_json(is_string, np_dtype, datetime_unit, zstd_level)
    if inner_rows is not None:
        codecs = [
            sharding_codec_config(inner_rows, is_string, zstd_level, index_crc32c)
        ]
    attributes: dict = {}
    if stat_min and any(v is not None for v in stat_min):
        attributes["zdss:chunk_stats"] = {"min": stat_min, "max": stat_max}
    _write_json(
        os.path.join(arr_dir, filename),
        {
            "shape": [n_rows],
            "data_type": dt,
            "chunk_grid": {
                "name": "regular",
                "configuration": {
                    # sharded arrays keep the exact shard size (must stay a
                    # multiple of inner_rows even when the array is smaller)
                    "chunk_shape": [
                        chunk_rows
                        if (inner_rows is not None or not clamp_chunk)
                        else max(1, min(chunk_rows, max(n_rows, 1)))
                    ]
                },
            },
            "chunk_key_encoding": {
                "name": "default",
                "configuration": {"separator": "/"},
            },
            "fill_value": fill,
            "codecs": codecs,
            "attributes": attributes,
            "zarr_format": 3,
            "node_type": "array",
            "storage_transformers": [],
        },
    )


class ChunkedArrayWriter:
    """Incremental writer for one 1-D array: feed values in arbitrary-sized
    pieces, chunks are flushed to disk as soon as they fill, metadata is
    written at ``close()`` when the final length is known. Memory is bounded
    by one chunk per column."""

    def __init__(
        self,
        group_dir: str,
        name: str,
        is_string: bool,
        np_dtype: "np.dtype | None" = None,
        datetime_unit: str | None = None,
        chunk_rows: int = 65536,
        zstd_level: int = 0,
    ):
        self.arr_dir = os.path.join(group_dir, name)
        os.makedirs(os.path.join(self.arr_dir, "c"), exist_ok=True)
        self.is_string = is_string
        self.np_dtype = np_dtype
        self.datetime_unit = datetime_unit
        self.chunk_rows = chunk_rows
        self.zstd_level = zstd_level
        self._buf: list = []
        self._buf_len = 0
        self._n_written = 0
        self._chunk_idx = 0
        self._stat_min: list = []
        self._stat_max: list = []

    def append(self, values) -> None:
        if self.is_string:
            self._buf.extend(values)
            self._buf_len = len(self._buf)
        else:
            arr = np.asarray(values)
            self._buf.append(arr)
            self._buf_len += len(arr)
        while self._buf_len >= self.chunk_rows:
            self._flush_chunk(self.chunk_rows)

    def _take(self, n: int):
        if self.is_string:
            out, self._buf = self._buf[:n], self._buf[n:]
        else:
            joined = self._buf[0] if len(self._buf) == 1 else np.concatenate(self._buf)
            out, rest = joined[:n], joined[n:]
            self._buf = [rest] if len(rest) else []
        self._buf_len -= n
        return out

    def _flush_chunk(self, n: int) -> None:
        vals = self._take(n)
        lo, hi = chunk_stats(vals, self.is_string)
        self._stat_min.append(lo)
        self._stat_max.append(hi)
        # the zarr spec stores edge chunks at full chunk size, padded with
        # the fill value; pad only when this is a ragged tail of a
        # multi-chunk array (a single-chunk array gets chunk_shape == n)
        pad = self.chunk_rows - n if (self._chunk_idx > 0 and n < self.chunk_rows) else 0
        with open(os.path.join(self.arr_dir, "c", str(self._chunk_idx)), "wb") as f:
            f.write(encode_chunk_payload(vals, self.is_string, pad, self.zstd_level))
        self._chunk_idx += 1
        self._n_written += n

    def close(self) -> int:
        if self._buf_len:
            self._flush_chunk(self._buf_len)
        write_array_metadata(
            self.arr_dir,
            n_rows=self._n_written,
            chunk_rows=self.chunk_rows,
            is_string=self.is_string,
            np_dtype=self.np_dtype,
            datetime_unit=self.datetime_unit,
            zstd_level=self.zstd_level,
            stat_min=self._stat_min,
            stat_max=self._stat_max,
        )
        return self._n_written


def init_group(store_path: str, group_path: str) -> str:
    """Create the store/group metadata skeleton; returns the group dir."""
    group_rel = group_path.strip("/")
    os.makedirs(store_path, exist_ok=True)
    _write_json(
        os.path.join(store_path, "zarr.json"),
        {"zarr_format": 3, "node_type": "group", "attributes": {}},
    )
    group_dir = os.path.join(store_path, group_rel) if group_rel else store_path
    if group_rel:
        os.makedirs(group_dir, exist_ok=True)
        _write_json(
            os.path.join(group_dir, "zarr.json"),
            {"zarr_format": 3, "node_type": "group", "attributes": {}},
        )
    return group_dir


def _check_store(path: str, overwrite: bool, how: str) -> bool:
    """The writers' overwrite guard: True when a store exists at ``path``;
    raises unless ``overwrite``. ``how`` names the caller's overwrite
    switch in the error."""
    exists = os.path.exists(os.path.join(path, "zarr.json"))
    if exists and not overwrite:
        raise ValueError(
            f"zarr store already exists at {path}; use {how} to replace it, "
            "or append_zarr_distributed() to add rows"
        )
    return exists


def _prepare_store(
    path: str, group_path: str, overwrite: bool, how: str, keep: tuple = ()
) -> str:
    """Guard an existing store, clear its entries (except ``keep``) for an
    overwrite and build the group skeleton; returns the group dir."""
    if _check_store(path, overwrite, how):
        import shutil

        for entry in os.listdir(path):
            if entry not in keep:
                p = os.path.join(path, entry)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    return init_group(path, group_path)


def _write_json(path: str, doc: dict) -> None:
    # atomic: a crash mid-dump must never leave a truncated zarr.json —
    # metadata IS the commit record, so it flips all-or-nothing
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=2)
    os.replace(tmp, path)


def _numpy_to_zarr_dtype(arr: np.ndarray) -> ZarrDType:
    kind = arr.dtype.kind
    if kind == "M":
        unit = np.datetime_data(arr.dtype)[0]
        if unit not in _DATETIME_UNITS:
            raise ZarrError(f"unsupported datetime64 unit for writing: {unit}")
        return ZarrDType("datetime64", unit=unit)
    name = arr.dtype.name
    if name in _FIXED_NUMPY:
        return ZarrDType(name)
    raise ZarrError(f"unsupported numpy dtype for writing: {arr.dtype}")


def _values_spec(values: Any) -> dict:
    """Column spec of an in-memory column: numpy arrays are fixed-width
    (validated eagerly), anything else is a list of strings."""
    if not isinstance(values, np.ndarray):
        return {"is_string": True}
    zdt = _numpy_to_zarr_dtype(values)
    return {"is_string": False, "np_dtype": values.dtype, "datetime_unit": zdt.unit}


def _write_array(
    group_dir: str, name: str, values: Any, chunk_rows: int, zstd_level: int
) -> None:
    w = ChunkedArrayWriter(
        group_dir,
        name,
        chunk_rows=min(chunk_rows, max(len(values), 1)),
        zstd_level=zstd_level,
        **_values_spec(values),
    )
    if len(values):
        w.append(values)
    w.close()


def write_sharded_group(
    store_path: str,
    group_path: str,
    columns: dict[str, Any],
    shard_rows: int = 65536,
    inner_rows: int = 4096,
    zstd_level: int = 0,
) -> None:
    """Write columns as a sharded Zarr v3 group (``sharding_indexed``).

    Each outer chunk object packs ``shard_rows / inner_rows`` independently
    compressed inner chunks plus a uint64 (offset, nbytes) index at the end
    — the layout large-scale stores use so object counts stay manageable
    while reads stay chunk-granular. Index codec: plain ``bytes`` (the
    crc32c library is not bundled here; readers accept both).
    """
    if shard_rows % inner_rows != 0:
        raise ZarrError("shard_rows must be a multiple of inner_rows")
    group_dir = init_group(store_path, group_path)
    lengths = {len(v) for v in columns.values()}
    if len(lengths) > 1:
        raise ZarrError(f"columns disagree on length: {lengths}")
    for name, values in columns.items():
        _write_sharded_array(
            group_dir, name, values, shard_rows, inner_rows, zstd_level
        )


def _write_sharded_array(
    group_dir: str,
    name: str,
    values: Any,
    shard_rows: int,
    inner_rows: int,
    zstd_level: int,
) -> None:
    spec = _values_spec(values)
    n = len(values)
    arr_dir = os.path.join(group_dir, name)
    os.makedirs(os.path.join(arr_dir, "c"), exist_ok=True)
    write_array_metadata(
        arr_dir,
        n_rows=n,
        chunk_rows=shard_rows,
        zstd_level=zstd_level,
        inner_rows=inner_rows,
        **spec,
    )
    for si, s_lo in enumerate(range(0, n, shard_rows)):
        blob = encode_shard_payload(
            values[s_lo : s_lo + shard_rows],
            spec["is_string"],
            inner_rows,
            shard_rows,
            zstd_level,
        )
        with open(os.path.join(arr_dir, "c", str(si)), "wb") as f:
            f.write(blob)


def encode_shard_payload(
    vals,
    is_string: bool,
    inner_rows: int,
    shard_rows: int,
    zstd_level: int = 0,
    index_crc32c: bool = False,
) -> bytes:
    """Pack one shard's values (< = ``shard_rows`` rows) into a
    ``sharding_indexed`` object: independently compressed inner chunks, a
    uint64 (offset, nbytes) index at the end, trailing inner chunks of a
    ragged shard marked missing. Stateless — shared by the driver-side
    sharded fixture writer and the distributed sink's task-side writes."""
    n_inner = shard_rows // inner_rows
    n = len(vals)
    body = bytearray()
    index = np.full((n_inner, 2), 2**64 - 1, dtype="<u8")
    for ii in range(n_inner):
        lo = ii * inner_rows
        if lo >= n:
            break  # trailing inner chunks of the last shard: missing
        hi = min(lo + inner_rows, n)
        pad = inner_rows - (hi - lo)
        seg = encode_chunk_payload(vals[lo:hi], is_string, pad, zstd_level)
        index[ii] = (len(body), len(seg))
        body.extend(seg)
    idx = index.tobytes()
    if index_crc32c:
        idx += struct.pack("<I", crc32c(idx))
    return bytes(body) + idx


def sharding_codec_config(
    inner_rows: int,
    is_string: bool,
    zstd_level: int = 0,
    index_crc32c: bool = False,
) -> dict:
    """The ``sharding_indexed`` codec entry matching
    :func:`encode_shard_payload`'s layout."""
    inner = _column_json(is_string, zstd_level=zstd_level)[2]
    index_codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if index_crc32c:
        index_codecs.append({"name": "crc32c", "configuration": {}})
    return {
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [inner_rows],
            "codecs": inner,
            "index_codecs": index_codecs,
            "index_location": "end",
        },
    }

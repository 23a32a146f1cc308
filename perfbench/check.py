"""Output checks: order-independent checksums of Zarr reads, and canonical
result hashes against the registry's DuckDB oracles.

A read operation is timed as ``SELECT count(*), <per-column sums> FROM
(<query>)``. The sums touch every output column of every result row, so
Catalyst cannot prune any of the query's work, and the single result row
is compared exactly with the same sums computed in numpy from the
generator's columns.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np

from gen import EPOCH_MS

STRING, TIMESTAMP, LONG = "string", "timestamp", "long"


def checksum_sql(inner: str, columns: dict[str, str]) -> str:
    """Wrap ``inner`` in the checksum aggregate over ``columns`` (name -> kind)."""
    parts = ["count(*)"]
    for name, kind in columns.items():
        if kind == STRING:
            parts.append(f"sum(crc32({name}))")
        elif kind == TIMESTAMP:
            parts.append(f"sum(unix_millis(CAST({name} AS TIMESTAMP)) - {EPOCH_MS})")
        else:
            parts.append(f"sum({name})")
    return f"SELECT {', '.join(parts)} FROM ({inner})"


def column_digests(cols: dict) -> dict[str, np.ndarray]:
    """Per-row int64 terms of the checksum: CRC-32 of each string, epoch
    milliseconds minus ``EPOCH_MS`` of each timestamp."""
    out = {}
    for name, values in cols.items():
        if isinstance(values, np.ndarray) and values.dtype.kind == "M":
            out[name] = values.astype("datetime64[ms]").astype(np.int64) - EPOCH_MS
        else:
            out[name] = np.fromiter(
                (zlib.crc32(v.encode("utf-8")) for v in values),
                dtype=np.int64,
                count=len(values),
            )
    return out


def expected_checksum(digests: dict, columns, mask=None) -> tuple:
    """The checksum row for ``columns`` over the rows selected by ``mask``."""
    n = len(next(iter(digests.values()))) if mask is None else int(mask.sum())
    sums = []
    for name in columns:
        d = digests[name] if mask is None else digests[name][mask]
        sums.append(int(d.sum()) if n else None)
    return (n, *sums)


def expected_group_checksum(cols: dict, digests: dict, keys) -> tuple:
    """Checksum of ``SELECT <keys>, count(*) AS n ... GROUP BY <keys>``:
    the group count, each key's digest summed once per group, and sum(n).
    Groups are found on the values themselves, not on their digests."""
    import pandas as pd

    first = pd.DataFrame({k: cols[k] for k in keys}).drop_duplicates().index.to_numpy()
    n_rows = len(digests[keys[0]])
    return (len(first), *(int(digests[k][first].sum()) for k in keys), n_rows)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-independent hash of a result under the oracle protocol
    (columns sorted by name, values canonicalized, rows sorted)."""
    from oracle_utils import canonicalize

    canon = canonicalize(list(columns), [tuple(r) for r in rows])
    return hashlib.sha256(repr(canon).encode("utf-8")).hexdigest()


def oracle_hash(con, sql: str) -> str:
    """Hash of a registry oracle's result, run in DuckDB."""
    from oracle_utils import duckdb_result

    return result_hash(*duckdb_result(con, sql))

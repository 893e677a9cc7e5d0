"""Canonical result digests for the benchmark's correctness check.

A digest is the SHA-256 of a query result taken as a multiset of rows:
the column names and Arrow types, the row count, and the sorted 64-bit
hash of every row.  A row hash mixes one hash per cell, and a cell hash
is exact: numbers by their bit pattern (so ``-0.0`` and ``+0.0``
differ), times by their integer ticks, everything else by a BLAKE2b of
its text, nulls by a constant no value hashes to in practice.

``expected.json`` holds the digest of each workload query's result on
the benchmark's data.  ``make_expected.py`` records a digest only after
the query matched its DuckDB oracle through the repository's oracle gate
(``plans.oracle_check.compare_query``), so at run time a digest match
stands for an oracle match without running DuckDB.  The result travels
to the driver as Arrow, which keeps the check pass short.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
_NULL = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x = x ^ (x >> np.uint64(27))
        x = x * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _text_hash(value) -> int:
    digest = hashlib.blake2b(str(value).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def cell_hashes(column: pa.ChunkedArray) -> np.ndarray:
    """One uint64 per row: the exact hash of each cell of ``column``."""
    t = column.type
    if pa.types.is_floating(t):
        bits = pc.fill_null(column.cast(pa.float64()), 0.0).to_numpy().view(np.uint64)
    elif pa.types.is_integer(t) or pa.types.is_boolean(t):
        bits = pc.fill_null(column.cast(pa.int64()), 0).to_numpy().view(np.uint64)
    elif pa.types.is_temporal(t):
        ticks = column.cast(pa.int64()) if t.bit_width == 64 else column.cast(pa.int32())
        bits = pc.fill_null(ticks.cast(pa.int64()), 0).to_numpy().view(np.uint64)
    else:
        bits = np.fromiter(
            (0 if v is None else _text_hash(v) for v in column.to_pylist()),
            dtype=np.uint64,
            count=len(column),
        )
    hashes = _mix(bits)
    valid = pc.is_valid(column).to_numpy(zero_copy_only=False)
    return np.where(valid, hashes, _NULL)


def table_digest(table: pa.Table) -> str:
    """Digest of an Arrow table, independent of row and column order."""
    names = sorted(range(table.num_columns), key=lambda i: table.column_names[i])
    rows = np.zeros(table.num_rows, dtype=np.uint64)
    h = hashlib.sha256()
    for i in names:
        field = table.schema.field(i)
        h.update(f"{field.name}:{field.type}\n".encode())
        rows = _mix(rows ^ cell_hashes(table.column(i)))
    h.update(f"rows:{table.num_rows}\n".encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()


def result_digest(df) -> tuple[str, int]:
    """(digest, row count) of a DataFrame's result."""
    table = df.toArrow()
    return table_digest(table), table.num_rows


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)

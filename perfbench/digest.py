"""Order-insensitive result digests.

The rule is the repo's DuckDB-oracle comparison (``tests/oracle.py``: row
count, column names, and the sorted multiset of normalized row values,
columns ordered by name), folded into one SHA-256 so an expected result can
be cached as a string.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa

from tests.oracle import rows_multiset


def lines_digest(lines, header: str = "") -> str:
    h = hashlib.sha256(header.encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def rows_digest(rows, colnames) -> str:
    lines = [str(r) for r in rows_multiset(rows, colnames)]
    return lines_digest(lines, repr((sorted(colnames), len(lines))))


def arrow_digest(tbl: pa.Table) -> str:
    cols = [c.to_pylist() for c in tbl.columns]
    return rows_digest(list(zip(*cols)) if cols else [], tbl.column_names)

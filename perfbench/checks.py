"""Output checks. None of them runs inside a timed region.

- query results: a digest of the canonical rows (``tests/oracle.py``'s
  canonicalization), compared with a stored digest of the DuckDB oracle
  twin's result (``golden.json``, written by ``make_golden.py``);
- gateway responses: compared after the run with DuckDB over the parquet
  of the snapshot that served them, floats to a relative tolerance;
- published snapshots: row counts equal the source's.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os

#: Spark's SUM(double) merge order varies with partitioning, so gateway
#: aggregates may differ from DuckDB's in the last bits.
REL_TOL = 1e-9


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, as the oracle harness
    canonicalizes it (columns sorted by name, cells via repr, rows
    sorted)."""
    from tests.oracle import canonical_rows

    payload = json.dumps([sorted(columns), canonical_rows(columns, rows)])
    return hashlib.sha256(payload.encode()).hexdigest()


def snapshot_connection(snapshot_dir: str, views: dict[str, str]):
    """DuckDB over one published snapshot: a view per table directory,
    then the snapshot's own summary views."""
    import duckdb

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(snapshot_dir, "*", ""))):
        name = os.path.basename(os.path.dirname(path))
        files = os.path.join(path, "**", "*.parquet")
        if glob.glob(files, recursive=True):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{files}')"
            )
    for name, sql in views.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=0.0)
    if a is None or b is None:
        return a is b
    return str(a) == str(b)


def _rows_same(got: list[list], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def _key(row, floats: bool = False) -> str:
    return "\x01".join(
        "" if isinstance(v, float) and not floats else str(v) for v in row
    )


def response_problem(body: dict, want: list[tuple], expect: str, cap: int) -> str | None:
    """Why a gateway response body disagrees with DuckDB's rows ``want``
    for the same SQL (None if it agrees). ``expect`` says how to compare: ``exact`` (same rows in the
    same order), ``bag`` (same rows in any order) or ``subset`` (a scan
    capped at ``cap`` rows: every row is in the table, and
    ``min(cap, table rows)`` rows came back)."""
    if not body.get("success"):
        return f"not a success envelope: {str(body)[:200]}"
    cols = body["columns"]
    got = [[row.get(c) for c in cols] for row in body["data"]]
    if body["row_count"] != len(got):
        return "row_count differs from the rows returned"
    if expect == "subset":
        table = {_key(r, floats=True) for r in want}
        stray = [r for r in got if _key(r, floats=True) not in table]
        if stray or len(got) != min(len(want), cap):
            return f"{len(stray)} rows not in the table, {len(got)} returned"
        return None
    if expect == "bag":
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    if not _rows_same(got, want):
        return f"rows differ: got {str(got)[:200]} want {str(want)[:200]}"
    return None


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path`` (footer metadata only)."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def snapshot_problems(manifest: dict, expected: dict[str, int]) -> list[str]:
    """Published row counts (manifest and files) against the source's."""
    problems = []
    for table, n in expected.items():
        listed = manifest["tables"].get(table)
        on_disk = parquet_rows(os.path.join(manifest["snapshot_dir"], table))
        if listed != n or on_disk != n:
            problems.append(
                f"{manifest['version']}/{table}: manifest {listed}, "
                f"files {on_disk}, source {n}"
            )
    return problems

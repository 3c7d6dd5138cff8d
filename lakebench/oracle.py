"""Independent oracle: duckdb over the generated parquet inputs.

duckdb reads the same input files the engine was fed and computes the
expected last-writer-wins state with plain SQL (``arg_max`` over the
batch number), so a bug in the engine's merge-on-read, compaction or MV
code cannot hide in the oracle too. Expected and engine answers are
compared with ``==``: every value is an integer, a string or a double
both sides read from the same parquet bytes.
"""

from __future__ import annotations

import duckdb

from gen import FULL_COLS, PARTIAL_COLS

# columns a partial batch omits: their last writer is the last full batch
_KEEP_ON_PARTIAL = [c for c in FULL_COLS if c not in PARTIAL_COLS]


class Oracle:
    """Expected table state after any prefix of the input batches."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.files: list[tuple[int, str, bool]] = []  # (bno, path, partial)

    def add(self, bno: int, path: str, partial: bool = False) -> None:
        """Register input batch ``bno`` (0 = the base table)."""
        self.files.append((bno, path, partial))

    def close(self) -> None:
        self.con.close()

    def _state(self, upto: int) -> str:
        """SQL for the logical table after batches ``0..upto``."""
        files = [p for b, p, _ in self.files if b <= upto]
        partial = [b for b, _, part in self.files if part and b <= upto]
        src = "read_parquet([{}], union_by_name = true)".format(
            ", ".join("'" + p.replace("'", "''") + "'" for p in files))
        full = (f"bno NOT IN ({', '.join(map(str, partial))})"
                if partial else "TRUE")
        cols = []
        for c in FULL_COLS:
            if c == "k":
                continue
            agg = f"arg_max({c}, bno)"
            if c in _KEEP_ON_PARTIAL:
                agg += f" FILTER (WHERE {full})"
            cols.append(f"{agg} AS {c}")
        return f"SELECT k, {', '.join(cols)} FROM {src} GROUP BY k"

    def rows(self, upto: int, keys: list[int]) -> dict[int, tuple]:
        """Expected full rows (FULL_COLS order) of ``keys``; absent keys
        are missing from the result."""
        if not keys:
            return {}
        q = (f"SELECT * FROM ({self._state(upto)}) "
             f"WHERE k IN ({', '.join(str(int(k)) for k in keys)})")
        return {r[0]: tuple(r) for r in self.con.execute(q).fetchall()}

    def table_summary(self, upto: int) -> tuple:
        """(rows, sum v, sum len(tag), min x, max x) of the whole table."""
        return tuple(self.con.execute(
            f"SELECT count(*), sum(v), sum(length(tag)), min(x), max(x) "
            f"FROM ({self._state(upto)})").fetchone())

    def range_agg(self, upto: int, ranges: list[int]) -> dict[int, tuple]:
        """Per range value: (rows, sum v, min x, max x) over ``ranges``."""
        q = (f"SELECT p, count(*), sum(v), min(x), max(x) "
             f"FROM ({self._state(upto)}) "
             f"WHERE p IN ({', '.join(map(str, ranges))}) GROUP BY p")
        return {r[0]: tuple(r[1:]) for r in self.con.execute(q).fetchall()}

    def group_agg(self, upto: int, max_group: int) -> dict[int, tuple]:
        """The MV dashboard answer: per group g < max_group, (sum v, rows)."""
        q = (f"SELECT g, sum(v), count(*) FROM ({self._state(upto)}) "
             f"WHERE g < {max_group} GROUP BY g")
        return {r[0]: tuple(r[1:]) for r in self.con.execute(q).fetchall()}

    def write_state(self, upto: int, path: str) -> None:
        """The logical table as one plain snappy parquet file, ordered by
        key: the denominator of space amplification."""
        self.con.execute(
            f"COPY (SELECT * FROM ({self._state(upto)}) ORDER BY k) "
            f"TO '{path}' (FORMAT parquet, COMPRESSION snappy)")


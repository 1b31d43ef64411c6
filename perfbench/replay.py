"""Independent DuckDB replay of the landed inputs, the correctness oracle.

The replay applies to an in-memory DuckDB table exactly the changes the
program reports as made: an append per published file and a keyed
upsert per change set (matched keys take every source column, unmatched
source rows are inserted). Queries and the final table are compared
against it.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


class Replay:
    def __init__(self, table: str, key: list[str]):
        self.table = table
        self.key = key
        self.con = duckdb.connect(config={"threads": 1})
        self._created = False

    def append(self, path: str) -> None:
        src = f"read_parquet('{path}')"
        if self._created:
            self.con.execute(f"INSERT INTO {self.table} SELECT * FROM {src}")
        else:
            self.con.execute(f"CREATE TABLE {self.table} AS SELECT * FROM {src}")
            self._created = True

    def merge(self, path: str) -> None:
        t = self.table
        self.con.execute(f"CREATE TEMP TABLE src AS SELECT * FROM read_parquet('{path}')")
        cols = [r[0] for r in self.con.execute("DESCRIBE src").fetchall()]
        on = " AND ".join(f"{t}.{k} = src.{k}" for k in self.key)
        sets = ", ".join(f"{c} = src.{c}" for c in cols if c not in self.key)
        self.con.execute(
            f"INSERT INTO {t} SELECT * FROM src "
            f"WHERE NOT EXISTS (SELECT 1 FROM {t} WHERE {on})"
        )
        # the rows just inserted match themselves: rewriting them with
        # the same values leaves them as inserted
        self.con.execute(f"UPDATE {t} SET {sets} FROM src WHERE {on}")
        self.con.execute("DROP TABLE src")

    def rows(self) -> int:
        if not self._created:
            return 0
        return self.con.execute(f"SELECT COUNT(*) FROM {self.table}").fetchone()[0]

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def diff(self, got: pa.Table) -> tuple[int, int]:
        """(rows of the replay missing from ``got``, rows of ``got`` not in
        the replay), as multisets."""
        self.con.register("got", got)
        try:
            cols = ", ".join(got.column_names)
            missing = self.con.execute(
                f"SELECT COUNT(*) FROM (SELECT {cols} FROM {self.table} "
                f"EXCEPT ALL SELECT {cols} FROM got)"
            ).fetchone()[0]
            extra = self.con.execute(
                f"SELECT COUNT(*) FROM (SELECT {cols} FROM got "
                f"EXCEPT ALL SELECT {cols} FROM {self.table})"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")
        return missing, extra

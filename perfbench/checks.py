"""Output checks against DuckDB, computed from the generated inputs.

Nothing here touches Spark: callers hand in the program's output as a
parquet path or an Arrow table. Every check returns a list of problems;
an empty list means the output is correct.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pyarrow as pa


def checksum_sql(relation: str, columns: list[str], where: str = "") -> str:
    """Row count plus an order-independent checksum of ``columns``. Values
    are hashed through their text form, so a column that changes width
    (int32 -> int64) or timestamp flavour on the way through Spark still
    hashes the same."""
    cols = ", ".join(f"{c}::VARCHAR" for c in columns)
    cond = f" WHERE {where}" if where else ""
    return f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {relation}{cond}"


def parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


# ------------------------------------------------------------ copy jobs ----
def etl_expected(con, source_dir: str, columns: list[str], where: str) -> tuple:
    return con.sql(checksum_sql(parquet_glob(source_dir), columns, where)).fetchone()


def etl_problems(
    con, target_dir: str, columns: list[str], expected: tuple, written: int | None
) -> list[str]:
    got = con.sql(checksum_sql(parquet_glob(target_dir), columns)).fetchone()
    out = []
    if got != expected:
        out.append(f"output {target_dir}: (rows, checksum) {got} != expected {expected}")
    if written is not None and written != expected[0]:
        out.append(f"WriteResult.written {written} != expected rows {expected[0]}")
    return out


# ------------------------------------------------------------ lake_dml ----
ORDERS_COLUMNS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


@dataclass
class Step:
    rows: int  # table rows after the operation (for a read: rows it returned)
    changed: int  # rows the operation inserted, updated or deleted


class DmlModel:
    """The lake_dml sequence replayed in DuckDB: the expected table after
    every operation."""

    def __init__(self, con: duckdb.DuckDBPyConnection):
        self.con = con

    def apply(self, op) -> Step:
        c = self.con
        if op.kind == "overwrite":
            c.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM {parquet_glob(op.source)}")
            n = self.rows()
            return Step(n, n)
        if op.kind == "append":
            n = c.execute(f"INSERT INTO t SELECT * FROM read_parquet('{op.source}')").fetchone()[0]
            return Step(self.rows(), n)
        if op.kind == "merge":
            src = f"read_parquet('{op.source}')"
            sets = ", ".join(f"{k} = s.{k}" for k in ORDERS_COLUMNS[1:])
            upd = c.execute(
                f"UPDATE t SET {sets} FROM {src} s WHERE t.o_orderkey = s.o_orderkey"
            ).fetchone()[0]
            ins = c.execute(
                f"INSERT INTO t SELECT * FROM {src} "
                "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
            ).fetchone()[0]
            return Step(self.rows(), upd + ins)
        if op.kind == "delete":
            n = c.execute(f"DELETE FROM t WHERE {op.sql()}").fetchone()[0]
            return Step(self.rows(), n)
        if op.kind == "read":
            n = c.execute(f"SELECT count(*) FROM t WHERE {op.sql()}").fetchone()[0]
            return Step(n, 0)
        raise ValueError(f"unknown operation {op.kind!r}")

    def rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM t").fetchone()[0]

    def checksum(self) -> tuple:
        return self.con.sql(checksum_sql("t", ORDERS_COLUMNS)).fetchone()

    def arrow(self) -> pa.Table:
        return self.con.sql("SELECT * FROM t").arrow()


def snapshot_problems(con, snapshot: pa.Table, expected: tuple) -> list[str]:
    con.register("snapshot", snapshot)
    try:
        got = con.sql(checksum_sql("snapshot", ORDERS_COLUMNS)).fetchone()
    finally:
        con.unregister("snapshot")
    if got != expected:
        return [f"final snapshot (rows, checksum) {got} != expected {expected}"]
    return []


# ------------------------------------------------------------ curation ----
def frame_problems(con, name: str, got: pa.Table, want: pa.Table) -> list[str]:
    """Compare an operator's result with its oracle's as multisets of rows
    over the oracle's columns."""
    missing = sorted(set(want.column_names) - set(got.column_names))
    if missing:
        return [f"{name}: result lacks oracle columns {missing}"]
    cols = ", ".join(want.column_names)
    con.register("got_t", got)
    con.register("want_t", want)
    try:
        extra = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM got_t EXCEPT ALL SELECT {cols} FROM want_t)"
        ).fetchone()[0]
        lost = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM want_t EXCEPT ALL SELECT {cols} FROM got_t)"
        ).fetchone()[0]
    finally:
        con.unregister("got_t")
        con.unregister("want_t")
    if extra or lost:
        return [
            f"{name}: {got.num_rows} rows vs oracle {want.num_rows}; "
            f"{extra} unexpected, {lost} missing"
        ]
    return []

"""Independent output checks: DuckDB replays and order-insensitive
result digests.

The store workloads replay their seeded op stream through plain DuckDB
SQL and compare the final table with the store's. The analytics
workload compares each query with its DuckDB oracle SQL, or with a
pinned digest when the query has no SQL form.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb


def _norm(v):
    if isinstance(v, float):
        # full-precision double reprs differ between engines only in
        # summation order; 12 significant digits keep real mismatches
        return "NaN" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.12g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def digest(rows, columns) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    keys = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return len(keys), hashlib.sha256("\n".join(keys).encode()).hexdigest()[:16]


def spark_digest(df) -> tuple[int, str]:
    return digest(df.collect(), df.columns)


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return digest(rel.fetchall(), rel.columns)


def analytics_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


class OrdersReplay:
    """The keyed orders table replayed through DuckDB SQL: the same
    seeded op stream the store receives, applied with the store verbs'
    documented semantics."""

    def __init__(self, rows: list[tuple]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate DATE, "
            "o_orderpriority VARCHAR)"
        )
        self._insert("orders", rows)
        self.snapshots: list[str] = []

    def _insert(self, table: str, rows: list[tuple]) -> None:
        if rows:
            marks = ", ".join("?" * len(rows[0]))
            self.con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)

    def _stage(self, rows: list[tuple], with_tag: bool = False) -> None:
        tag = ", cdc_op VARCHAR" if with_tag else ""
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE src (o_orderkey BIGINT, o_custkey BIGINT, "
            "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate DATE, "
            f"o_orderpriority VARCHAR{tag})"
        )
        self._insert("src", rows)

    def snapshot(self) -> int:
        """Freeze the current contents; returns the snapshot index."""
        name = f"snap{len(self.snapshots)}"
        self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM orders")
        self.snapshots.append(name)
        return len(self.snapshots) - 1

    def upsert(self, rows: list[tuple]) -> None:
        self._stage(rows)
        self.con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
        self.con.execute("INSERT INTO orders SELECT * FROM src")

    def merge_cdc(self, rows: list[tuple]) -> None:
        """merge_when: matched D deletes, matched U/I updates all
        columns, unmatched non-D inserts."""
        self._stage(rows, with_tag=True)
        self.con.execute(
            "DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM src)"
        )
        self.con.execute(
            "INSERT INTO orders SELECT o_orderkey, o_custkey, o_orderstatus, "
            "o_totalprice, o_orderdate, o_orderpriority FROM src WHERE cdc_op <> 'D'"
        )

    def delete_range(self, lo: int, hi: int) -> None:
        self.con.execute(f"DELETE FROM orders WHERE o_orderkey BETWEEN {lo} AND {hi}")

    def digest(self, table: str = "orders", where: str = "TRUE") -> tuple[int, str]:
        return duck_digest(self.con, f"SELECT * FROM {table} WHERE {where}")

    def scalar(self, sql: str):
        return self.con.sql(sql).fetchone()[0]

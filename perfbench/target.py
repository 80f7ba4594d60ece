"""sqlite targets of the upsert workloads.

Kept free of heavy imports: the connection factory is pickled by reference
into Spark's Python workers, which import this module to call it.
"""

from __future__ import annotations

import datetime
import sqlite3

ACTIVITY_DDL = (
    "CREATE TABLE user_activity (lms_user_id INTEGER PRIMARY KEY, "
    "department_id TEXT, email TEXT, score REAL, active_status INTEGER, "
    "last_seen TEXT)"
)


def connect(path: str) -> sqlite3.Connection:
    """DB-API connection for the engine's upsert sinks.  Timestamps are
    stored as ``YYYY-MM-DD HH:MM:SS`` text (sqlite has no datetime type)."""
    sqlite3.register_adapter(datetime.datetime, lambda d: d.isoformat(" "))
    return sqlite3.connect(path, timeout=60)


def create(path: str, ddl: str, rows: list[tuple] = ()) -> None:
    con = sqlite3.connect(path)
    try:
        con.execute(ddl)
        if rows:
            marks = ", ".join("?" * len(rows[0]))
            table = ddl.split()[2]
            con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)
        con.commit()
    finally:
        con.close()


def read(path: str, table: str, where: str = "", params: tuple = ()) -> dict[int, tuple]:
    """Rows of ``table`` (optionally filtered) keyed by their first column."""
    con = sqlite3.connect(path, timeout=60)
    try:
        sql = f"SELECT * FROM {table}" + (f" WHERE {where}" if where else "")
        return {r[0]: tuple(r) for r in con.execute(sql, params)}
    finally:
        con.close()

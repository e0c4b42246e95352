"""Output checks, run outside every timed region.

``digest`` reduces a result to an order-insensitive hash that is equal
for two frames exactly when they hold the same multiset of rows: columns
are matched by name, every number is compared as the IEEE bits of its
float64 value (so ``-0.0`` and ``+0.0`` differ, as in the engine's own
oracle gate), timestamps and dates as epoch microseconds, and lists
element by element. Spark results (``toPandas``) and DuckDB results
(``fetchdf``) type the same column differently often enough that the
canonical form cannot rely on dtypes matching.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_NULL = "\x01"
_EPOCH = dt.datetime(1970, 1, 1)


def duck_connection(input_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per input table, as the oracles expect."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _micros(v) -> int:
    if isinstance(v, dt.datetime):
        return (v.replace(tzinfo=None) - _EPOCH) // dt.timedelta(microseconds=1)
    return (dt.datetime(v.year, v.month, v.day) - _EPOCH) // dt.timedelta(microseconds=1)


def _canon_value(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return _NULL
    if isinstance(v, (dt.date, pd.Timestamp)):
        return f"t{_micros(v)}"
    if isinstance(v, (bool, np.bool_, int, np.integer, float, np.floating, decimal.Decimal)):
        return f"f{np.float64(v).view(np.uint64)}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return "s" + str(v)


def _canon_column(s: pd.Series) -> pd.Series:
    kind = s.dtype.kind
    if kind == "M":
        us = s.astype("datetime64[us]")
        out = "t" + us.astype("int64").astype(str)
        return out.where(us.notna(), _NULL)
    if kind in "biuf":
        v = s.to_numpy(dtype="float64", na_value=np.nan).copy()
        bits = "f" + pd.Series(v.view(np.uint64), index=s.index).astype(str)
        return bits.where(~np.isnan(v), _NULL)
    return s.map(_canon_value)


def digest(frame: pd.DataFrame) -> str:
    """Order-insensitive sha256 of a result frame."""
    cols = sorted(frame.columns)
    h = hashlib.sha256(("\x1f".join(cols) + f"|{len(frame)}").encode())
    if len(frame):
        rows = _canon_column(frame[cols[0]]).astype(str)
        for c in cols[1:]:
            rows = rows + "\x1f" + _canon_column(frame[c]).astype(str)
        for row in sorted(rows):
            h.update(row.encode())
            h.update(b"\x1e")
    return h.hexdigest()


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    return digest(con.execute(sql).fetchdf())


class IngestReplay:
    """DuckDB replay of the ingest op log: the reference final snapshot."""

    _COLS = "event_id, ts, user_id, event_type, value, props"

    def __init__(self, base_path: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT {self._COLS} FROM '{base_path}'")

    def append(self, path: str) -> None:
        self.con.execute(f"INSERT INTO t SELECT {self._COLS} FROM '{path}'")

    def merge(self, path: str, tombstones: bool) -> None:
        """MERGE on event_id: matched rows take the source image, or are
        deleted when the source row is a tombstone; unmatched rows are
        inserted unless they are tombstones."""
        self.con.execute(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM '{path}')")
        keep = "WHERE NOT _tombstone" if tombstones else ""
        self.con.execute(f"INSERT INTO t SELECT {self._COLS} FROM '{path}' {keep}")

    def delete_where(self, sql_condition: str) -> None:
        self.con.execute(f"DELETE FROM t WHERE {sql_condition}")

    def update_where(self, sql_condition: str, sql_assignments: str) -> None:
        self.con.execute(f"UPDATE t SET {sql_assignments} WHERE {sql_condition}")

    def snapshot_digest(self) -> str:
        return digest(self.con.execute("SELECT * FROM t").fetchdf())

    def close(self) -> None:
        self.con.close()

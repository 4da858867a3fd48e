"""Output checks. They run outside every timed region.

Registry keys are compared with their DuckDB ``oracle_sql()`` twin on
the same fixture tables, with the canonicalise-and-sort semantics of
``tools/check_keys.py`` (floats to 6 places, timestamps to the
microsecond, column names in order, rows as a sorted multiset). That
tool runs its sweep at import time, so the rules are restated here.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def canon(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def row_multiset(rows) -> list[str]:
    return sorted(
        json.dumps(canon(tuple(r)), default=str, sort_keys=True) for r in rows
    )


class Oracle:
    """One DuckDB connection with the ten tables of ``sf_dir`` as views."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> tuple[list[str], list]:
        cur = self.con.execute(sql)
        return [d[0].lower() for d in cur.description], cur.fetchall()

    def compare(self, df, sql: str) -> tuple[int, str | None]:
        """Collect ``df`` and compare it with ``sql``. Returns the row
        count and ``None`` on a match, or a one-line reason."""
        srows = df.collect()
        scols = [c.lower() for c in df.columns]
        ocols, orows = self.query(sql)
        if scols != ocols:
            return len(srows), f"columns {scols} != oracle {ocols}"
        if len(srows) != len(orows):
            return len(srows), f"rows {len(srows)} != oracle {len(orows)}"
        if row_multiset(srows) != row_multiset(orows):
            return len(srows), "values differ from oracle"
        return len(srows), None

    def same_rows(self, relation: str, table: str) -> tuple[int, str | None]:
        """Compare a DuckDB ``relation`` (a table function reading what
        a job wrote) with fixture ``table`` as row multisets, doubles to
        6 places. Returns the relation's row count and ``None`` on a
        match, or a one-line reason."""
        proj = ", ".join(f"round({c}, 6)" if t == "DOUBLE" else f"CAST({c} AS {t})"
                         for c, t in self.columns(table).items())
        got = f"SELECT {proj} FROM {relation}"
        want = f"SELECT {proj} FROM {table}"
        n, extra, missing = self.con.execute(
            f"SELECT (SELECT count(*) FROM {relation}),"
            f" (SELECT count(*) FROM ({got} EXCEPT ALL {want})),"
            f" (SELECT count(*) FROM ({want} EXCEPT ALL {got}))").fetchone()
        if extra or missing:
            return n, f"{extra} rows not in {table}, {missing} rows of {table} missing"
        return n, None

    def columns(self, table: str) -> dict[str, str]:
        """Column name -> DuckDB type of a fixture table."""
        return {c: t for c, t, *_ in self.con.execute(f"DESCRIBE {table}").fetchall()}

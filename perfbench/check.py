"""Result checks, run outside every timed region.

Queries are compared with their DuckDB oracle as ``tests/parity.py``
does: column names, row count and an order-insensitive hash of the rows
normalised by ``tests.parity.normalize``. Oracle answers are computed
once per (corpus, SQL text) and cached as small JSON digests. The
lakehouse is checked against DuckDB replaying the same operations.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa

from tests.parity import duck_connection, normalize


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def rows_of(result, dtypes: list[tuple[str, str]]) -> list[tuple]:
    """Rows of a fetched result: a list of ``Row`` from ``collect`` or a
    pandas frame from ``toPandas``. The frame goes back to Python values
    through Arrow; integral Spark columns that pandas widened to float
    to hold nulls are cast back, so both fetch paths normalise alike."""
    if isinstance(result, list):
        return [tuple(r) for r in result]
    table = pa.Table.from_pandas(result, preserve_index=False)
    cols = []
    for i, (_, dtype) in enumerate(dtypes):
        col = table.column(i)
        if dtype in _INTEGRAL and pa.types.is_floating(col.type):
            col = col.cast(pa.int64())
        cols.append(col.to_pylist())
    return list(zip(*cols))


def digest(columns: list[str], rows: list[tuple]) -> dict:
    h = hashlib.md5()
    for row in normalize(columns, rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"columns": sorted(columns), "rows": len(rows), "hash": h.hexdigest()}


class Oracles:
    """DuckDB oracle digests for one corpus, cached under ``cache_dir``."""

    def __init__(self, corpus_dir: str, corpus_key: str, cache_dir: str):
        self.corpus_dir = corpus_dir
        self.corpus_key = corpus_key
        self.cache_dir = cache_dir
        self._con = None

    def get(self, sql: str) -> dict:
        key = hashlib.sha256(f"{self.corpus_key}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        if self._con is None:
            self._con = duck_connection(self.corpus_dir)
        cur = self._con.execute(sql)
        cols = [d[0] for d in cur.description]
        d = digest(cols, cur.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(d, fh)
        os.replace(tmp, path)
        return d

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(expected: dict, got: dict) -> str | None:
    """Why ``got`` differs from ``expected`` (both digests), or None."""
    for k in ("columns", "rows", "hash"):
        if expected[k] != got[k]:
            return f"{k}: expected {expected[k]!r}, got {got[k]!r}"
    return None


def replay_lakehouse(orders_path: str, log: list[tuple]) -> dict[int, dict]:
    """Expected snapshot per version: ``{version: {status: (n, cents)}}``.

    Replays the lakehouse log on a DuckDB table; each ``(kind, params,
    version)`` entry mirrors one ``workloads.Lakehouse`` method.
    """
    import duckdb

    from workloads import TOUCH_SPAN

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')")
        con.execute("CREATE TABLE t AS SELECT * FROM orders LIMIT 0")
        expected: dict[int, dict] = {}
        for kind, params, version in log:
            if kind == "append":
                lo, hi = params
                con.execute(
                    f"INSERT INTO t SELECT * FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
                )
            elif kind == "upsert":
                lo, bump = params
                span = f"o_orderkey >= {lo} AND o_orderkey < {lo + TOUCH_SPAN} AND o_orderkey % 3 = 0"
                con.execute(f"DELETE FROM t WHERE {span}")
                con.execute(
                    "INSERT INTO t SELECT * REPLACE (o_totalprice + "
                    f"{bump!r} AS o_totalprice) FROM orders WHERE {span}"
                )
            elif kind == "delete":
                (lo,) = params
                con.execute(
                    f"DELETE FROM t WHERE o_orderkey >= {lo} AND o_orderkey < {lo + TOUCH_SPAN} "
                    "AND o_orderkey % 3 = 1"
                )
            elif kind != "compact":
                raise ValueError(f"unknown lakehouse log entry {kind!r}")
            rows = con.execute(
                "SELECT o_orderstatus, count(*), "
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) FROM t GROUP BY 1"
            ).fetchall()
            expected[version] = {s: (n, c) for s, n, c in rows}
        return expected
    finally:
        con.close()


def snapshot_of(rows: list) -> dict:
    """A fetched ``workloads.snapshot_agg`` result in replay form."""
    return {r["o_orderstatus"]: (r["n"], r["cents"]) for r in rows}

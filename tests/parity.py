"""Local oracle-parity harness mirroring the driver's t2 check.

Runs a registered Spark query and its DuckDB oracle on the same
parquet dir, then compares row count, sorted column names, and the
order-insensitive multiset of stringified rows (columns sorted by
name — the driver's documented compare shape, ``__spark_entry__.py``).
Stricter than a hash: on mismatch it shows the first differing rows.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb

from lightcurator_spark.registry import TABLES

SF_DIR = "/root/testdata/sf0.01"
TINY_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def duck_connection(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _fmt(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_fmt(r[i]) for i in order) for r in rows)


def compare(spark, spec, sf_dir: str = SF_DIR) -> None:
    """Assert Spark result == DuckDB oracle result (order-insensitive)."""
    sdf = spec.fn(spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = list(sdf.columns)

    if spec.oracle is None:
        assert len(s_rows) >= 0  # rows-only: runs and returns a well-formed DF
        return

    con = duck_connection(sf_dir)
    try:
        cur = con.execute(spec.oracle)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    finally:
        con.close()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{spec.name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{spec.name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    )
    sn = normalize(s_cols, s_rows)
    dn = normalize(d_cols, d_rows)
    if sn != dn:
        diff_s = [r for r in sn if r not in set(dn)][:5]
        diff_d = [r for r in dn if r not in set(sn)][:5]
        raise AssertionError(
            f"{spec.name}: value mismatch\n  spark-only: {diff_s}\n  duck-only:  {diff_d}"
            f"\n  cols(sorted): {sorted(s_cols)}"
        )


def corpus_variant(tmp_path, tables: dict, base: str = TINY_SF_DIR) -> str:
    """A corpus dir under ``tmp_path``: every table of ``base``
    symlinked, except those in ``tables`` (name → ``pyarrow.Table``),
    which are written as parquet. Both engines read the same files."""
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir()
    for t in TABLES:
        if t in tables:
            pq.write_table(tables[t], str(d / f"{t}.parquet"))
        else:
            os.symlink(f"{base}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)

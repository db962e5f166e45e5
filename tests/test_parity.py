"""t2-mirror: every registered query vs its DuckDB oracle at sf0.01."""

from __future__ import annotations

import pytest

from lightcurator_spark.plans import load_all
from tests.parity import TINY_SF_DIR, compare, corpus_variant

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_oracle_parity(spark, name):
    compare(spark, SPECS[name])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


def test_registry_contract():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) > 0


def test_g6_matches_oracle_on_deep_peel_fixture(spark, tmp_path):
    """G6 on a graph whose peel rounds 1, 2 and 3 all differ (the
    corpora converge by round 2, so they cannot tell a one-semi-join
    round from the oracle's two). A 4-cycle of parts 1-2 and
    suppliers 1-2 carries a tail p1-s3-p3-s4-p4-s5 that loses one node
    per round (s5, then p4, then s4). Rows with a NULL l_partkey or
    l_suppkey would keep s5 and p4 alive, and survive as a NULL node,
    if NULL endpoints counted."""
    import pyarrow as pa

    edges = [(1, 1), (2, 1), (2, 2), (1, 2), (1, 3), (3, 3), (3, 4), (4, 4), (4, 5)]
    edges += [(1, 1), (4, 5), (None, 5), (4, None), (None, 2), (None, None)]
    li = pa.table(
        {
            "l_partkey": pa.array([p for p, _ in edges], pa.int64()),
            "l_suppkey": pa.array([s for _, s in edges], pa.int64()),
        }
    )
    d = corpus_variant(tmp_path, {"lineitem": li})
    compare(spark, SPECS["g6_kcore_peel"], sf_dir=d)
    nodes = {r.node for r in SPECS["g6_kcore_peel"].fn(spark, d).collect()}
    # cycle + p3 (6) and s3 (7) survive; s4 (9) drops in round 3
    assert nodes == {2, 4, 3, 5, 6, 7}, nodes


def test_dq9_matches_oracle_on_nulls_and_an_empty_table(spark, tmp_path):
    """DQ9 on sf0.001 with NULLs in two audited columns (one integer,
    one string) and the audited ``supplier`` table emptied: the oracle
    still returns one row per audited column of the empty table (zero
    counts, NULL uniqueness), which a census grouped by column drops
    unless the census keeps it."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = TINY_SF_DIR
    cust = pq.read_table(f"{base}/customer.parquet")
    every7 = pa.array([i % 7 == 0 for i in range(cust.num_rows)])
    for c in ("c_nationkey", "c_name"):
        col = cust.column(c)
        cust = cust.set_column(
            cust.schema.get_field_index(c), c,
            pc.if_else(every7, pa.scalar(None, col.type), col),
        )
    supp = pq.read_table(f"{base}/supplier.parquet").slice(0, 0)
    d = corpus_variant(tmp_path, {"customer": cust, "supplier": supp})
    compare(spark, SPECS["dq9_candidate_key_discovery"], sf_dir=d)
    rows = {
        r.column_id: r
        for r in SPECS["dq9_candidate_key_discovery"].fn(spark, d).collect()
    }
    assert rows["customer.c_nationkey"].n_null == 22
    assert rows["supplier.s_suppkey"].n_rows == 0


def test_g11_matches_oracle_with_many_batches_per_task(spark):
    """G11's kernel counts wedges per Arrow batch and merges the
    partial (pair, count) arrays; with small batches every task sees
    several, and a pair split across batches must still sum."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "40")
    try:
        compare(spark, SPECS["g11_cooccurrence_projection"])
    finally:
        spark.conf.set(key, old)

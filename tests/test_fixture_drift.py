"""Corpus schema-drift tripwire (VERDICT r3 item 4).

The test corpus is DRIVER-OWNED and has been regenerated mid-build
before (ns→µs timestamps between rounds 2 and 3 — r2's bench crashed on
exactly this). This test diffs the live parquet footers of all 10
tables against the schemas documented in FIXTURES.md, so any future
regeneration fails pytest LOUDLY at round start instead of surfacing as
a cryptic AnalysisException deep inside an operator.

No Spark session needed — pure pyarrow footer reads, runs in
milliseconds at every scale factor present on disk.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyarrow.types as patypes
import pytest

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

# FIXTURES.md ground truth: field name -> arrow type string. `events.ts`
# accepts BOTH physical layouts the registry normalizes (µs current,
# ns historical); anything else is drift the engine has never seen.
EXPECTED = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {
        "n_nationkey": "int32",
        "n_name": "string",
        "n_regionkey": "int32",
    },
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp[us]",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp[us]",
    },
    "events": {
        "event_id": "int64",
        "ts": ("timestamp[us]", "timestamp[ns]"),
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    },
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_corpus_schema_matches_fixtures(sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent at this scale factor")
    schema = pq.read_schema(path)
    got = {f.name: str(f.type) for f in schema}
    want = EXPECTED[table]
    assert set(got) == set(want), (
        f"CORPUS DRIFT: {table} columns changed — update FIXTURES.md and "
        f"audit every operator touching it.\n got={sorted(got)}\n"
        f" want={sorted(want)}"
    )
    for name, typ in want.items():
        ok = got[name] in typ if isinstance(typ, tuple) else got[name] == typ
        assert ok, (
            f"CORPUS DRIFT: {table}.{name} is {got[name]}, FIXTURES.md says "
            f"{typ} — the driver regenerated the corpus (this broke bench in "
            f"r2); re-verify registry.load_table normalization and every "
            f"physical-type assumption, then update FIXTURES.md + this test."
        )


def test_events_ts_unit_known():
    """The registry handles µs and ns event timestamps; any third unit
    (s, ms, tz-aware) needs new normalization code before anything else
    runs this round."""
    for sf_dir in SF_DIRS:
        t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
        assert patypes.is_timestamp(t) or patypes.is_integer(t), t
        if patypes.is_timestamp(t):
            assert t.unit in ("us", "ns"), f"unhandled ts unit {t.unit}"
            assert t.tz is None, f"tz-aware ts {t} — registry assumes naive"


def test_survey_totals_match_registry():
    """SURVEY §2's inventory-totals line and COVERAGE.md's header must
    both equal the live registry counts — the r3 advisor caught
    hand-edited counts drifting from the generated inventory; this
    pins all three together."""
    import re

    from lightcurator_spark.plans import load_all

    specs = load_all()
    n = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    survey = open("SURVEY.md").read()
    m = re.search(r"(\d+) registered queries — (\d+) carry full", survey)
    assert m, "SURVEY.md inventory-totals line missing"
    assert (int(m.group(1)), int(m.group(2))) == (n, n_oracle), (
        f"SURVEY says {m.groups()}, registry has {(n, n_oracle)} — "
        "run scripts/gen_coverage.py and update the SURVEY totals line"
    )
    cov = open("COVERAGE.md").read()
    mc = re.search(r"Total registered queries: \*\*(\d+)\*\*; with DuckDB value-hash oracle: \*\*(\d+)\*\*", cov)
    assert mc and (int(mc.group(1)), int(mc.group(2))) == (n, n_oracle), (
        "COVERAGE.md stale — run scripts/gen_coverage.py"
    )


def test_table_rowcount_walks_partitioned_directory(tmp_path):
    """A directory table counts every parquet file under it, nested
    partition directories included, and skips `_`/`.` names as
    Spark's file index does; a directory with no parquet file raises
    instead of reporting 0 rows."""
    import pyarrow as pa

    from lightcurator_spark.registry import table_rowcount

    tbl = pa.table({"k": [0, 1, 2, 3, 4, 5, 6], "p": [0, 0, 1, 1, 1, 2, 2]})
    path = tmp_path / "t.parquet"
    pq.write_to_dataset(tbl, str(path), partition_cols=["p"])
    (path / "_temporary").mkdir()  # an aborted writer's leftovers
    pq.write_table(tbl, str(path / "_temporary" / "part-0.parquet"))
    assert table_rowcount(str(tmp_path), "t") == 7
    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(FileNotFoundError):
        table_rowcount(str(tmp_path), "empty")


# Join and group keys whose null-freedom an operator relies on: q21's
# isNotNull pre-filter and w16's groupBy+count (which, unlike the
# countDistinct it replaced, would count a NULL user_id group) return
# the oracle's rows only while these columns hold no nulls.
NULL_FREE_KEYS = {"lineitem": ["l_orderkey", "l_suppkey"], "events": ["user_id"]}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_q21_w16_keys_are_null_free(sf_dir):
    for table, cols in NULL_FREE_KEYS.items():
        t = pq.read_table(f"{sf_dir}/{table}.parquet", columns=cols)
        nulls = {c: t.column(c).null_count for c in cols}
        assert not any(nulls.values()), (
            f"{table} keys now carry nulls {nulls}: re-check q21's "
            "isNotNull pre-filter and w16's groupBy+count against their oracles"
        )

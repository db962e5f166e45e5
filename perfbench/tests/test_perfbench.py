"""Tests of the benchmark itself: its percentile rule, its result checks
and its trace. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The Spark tests use a tiny generated corpus and a 2-core session.
"""

from __future__ import annotations

import os
import random
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_p90_has_ten_samples_beyond_it_from_100_samples():
    rng = random.Random(0)
    for n in (100, 137, 400):
        samples = [rng.lognormvariate(0, 1) for _ in range(n)]
        p90, tail = run.p90_tail(samples)
        assert tail == sum(1 for s in samples if s > p90)
        assert tail >= 10
    # below 100 samples the rule cannot hold, and the report shows it
    _, tail = run.p90_tail([rng.random() for _ in range(60)])
    assert tail < 10


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    datagen.write_corpus(out, 0.001, 7)
    return out


def test_corpus_is_seeded(corpus, tmp_path):
    from lightcurator_spark.registry import TABLES

    datagen.write_corpus(str(tmp_path), 0.001, 7)
    assert sorted(os.listdir(tmp_path)) == sorted(f"{t}.parquet" for t in TABLES)
    for t in TABLES:
        with open(os.path.join(corpus, f"{t}.parquet"), "rb") as a, \
                open(tmp_path / f"{t}.parquet", "rb") as b:
            assert a.read() == b.read(), t


SQL = ("SELECT o_orderstatus AS s, count(*) AS n, round(sum(o_totalprice), 2) AS p "
       "FROM orders GROUP BY 1")


def test_oracle_check_fails_on_a_tampered_result(corpus, tmp_path):
    oracles = check.Oracles(corpus, "k", str(tmp_path / "cache"))
    want = oracles.get(SQL)
    oracles.close()
    assert os.listdir(tmp_path / "cache"), "oracle digest should be cached"
    con = check.duck_connection(corpus)
    rows = con.execute(SQL).fetchall()
    con.close()
    cols = ["n", "p", "s"]  # column order does not matter
    reordered = [(n, p, s) for s, n, p in reversed(rows)]
    assert check.mismatch(want, check.digest(cols, reordered)) is None
    tampered = [(reordered[0][0] + 1, *reordered[0][1:])] + reordered[1:]
    assert "hash" in check.mismatch(want, check.digest(cols, tampered))
    assert "rows" in check.mismatch(want, check.digest(cols, reordered[1:]))
    assert "columns" in check.mismatch(want, check.digest(["n", "p", "t"], reordered))


def test_arrow_fetch_rows_normalise_like_collect():
    """toPandas widens a nullable bigint to float; the check undoes it."""
    dtypes = [("k", "bigint"), ("x", "double"), ("v", "bigint")]
    rows = [(1, 1.5, None), (2, 2.0, 7)]
    pdf = pd.DataFrame({"k": [1, 2], "x": [1.5, 2.0], "v": [float("nan"), 7.0]})
    cols = [c for c, _ in dtypes]
    assert check.digest(cols, check.rows_of(pdf, dtypes)) == check.digest(cols, rows)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run._environment(2, str(tmp_path_factory.mktemp("spark")))
    from lightcurator_spark.session import get_session

    s = get_session("perfbench-tests", cpus=2, low_latency=True)
    yield s
    s.stop()


def test_traced_query_layers_add_up(spark, corpus):
    """ROADMAP's "layers add up" bar: every traced query op's build,
    catalyst, exec and fetch times cover its wall time within 5%."""
    import bench
    from spans import Tracer

    from lightcurator_spark.plans import load_all

    specs = load_all()
    names = workloads.CURATION_LLM + workloads.RELATIONAL
    fns = {n: bench.EXTRA.get(n) or specs[n].fn for n in names}
    runner = run.Runner(spark)
    for op in workloads.query_pass(names, fns, spark, corpus, random.Random(0)):
        runner.run(op)  # warm, so codegen does not swamp the small ops
    runner.tracer = Tracer(spark)
    recs = [runner.run(op) for op in workloads.query_pass(names, fns, spark, corpus, random.Random(1))]
    for rec in recs:
        assert rec["error"] is None, rec["error"]
        assert rec["query_like"]
        assert rec["layers"]["trace.failed_reads"] == 0, rec["name"]
        assert run.layer_gap(rec) <= 0.05, (rec["name"], rec["wall"], rec["layers"])
    assert any(r["layers"]["plans.eager_jobs"] > 0 for r in recs)
    assert any(r["layers"]["python.exec_s"] > 0 for r in recs)
    spans = runner.tracer.spans
    assert all(s["end"] >= s["start"] for s in spans)
    assert {s["name"] for s in spans} == {"op", "plans.build", "catalyst", "exec+fetch"}


def test_lakehouse_replay_checks_reads(spark, corpus, tmp_path, monkeypatch):
    from lightcurator_spark.sources.txlog import TxLogTable

    monkeypatch.setattr(workloads, "BASE_ROWS", 600)
    monkeypatch.setattr(workloads, "APPEND_ROWS", 100)
    monkeypatch.setattr(workloads, "TOUCH_SPAN", 60)
    orders = os.path.join(corpus, "orders.parquet")
    lake = workloads.Lakehouse(spark, TxLogTable(str(tmp_path / "t")), orders, random.Random(3))
    runner = run.Runner(spark)
    runner.run(workloads.Op("create", call=lake.create))
    passes = [{"ops": [runner.run(op) for op in lake.pass_ops()]} for _ in range(2)]
    names = [r["name"] for r in passes[-1]["ops"]]
    assert names[-3:] == ["commit_replace", "vacuum", "prune_log"]
    assert run.lakehouse_checks(passes, lake, orders) == {}
    read = next(r for r in passes[0]["ops"] if r["name"] == "read_snapshot")
    read["result"] = read["result"][1:]  # drop one status group
    assert list(run.lakehouse_checks(passes, lake, orders)) == [id(read)]

"""User-facing API façade tests — the parameterized operators must
agree with their driver-checked @query instantiations on the corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from lightcurator_spark import api
from lightcurator_spark.plans import load_all
from lightcurator_spark.registry import load_table

SF_DIR = "/root/testdata/sf0.01"
SPECS = load_all()


def _renamed(spark, table: str = "documents"):
    """`table` with every column renamed: the queries' oracle tests run
    an api body on the corpus names, so these agreement checks run it
    on other names and fail if the body hard-codes one."""
    d = load_table(spark, SF_DIR, table)
    return d.select(*[F.col(c).alias(f"x_{c}") for c in d.columns])


def _assert_matches(spark, out, name: str) -> None:
    """`out` holds query `name`'s rows, column for column, up to the
    query's 4-dp rounding of doubles."""
    got = {tuple(_r4(v) if isinstance(v, float) else v for v in r) for r in out.collect()}
    want = {tuple(r) for r in SPECS[name].fn(spark, SF_DIR).collect()}
    assert got == want and want, (name, sorted(got ^ want)[:5])


def test_align_epochs_matches_d2(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "night", F.col("ts").cast("date")
    )
    got = {
        r.event_id: round(r.value_aligned, 4)
        for r in api.align_epochs(ev, "night", "value").collect()
    }
    want = {
        r.event_id: r.value_aligned
        for r in SPECS["d2_epoch_alignment"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-3, (k, got[k], want[k])


def test_nearest_match_matches_j8(spark):
    ev = load_table(spark, SF_DIR, "events")
    means = ev.groupBy("user_id").agg(F.avg("value").alias("mv"))
    got = {
        (r.user_id, r.match_id) for r in api.nearest_match(means, means, "mv", 2.0).collect()
    }
    want = {
        (r.object_id, r.match_id)
        for r in SPECS["j8_nearest_match"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_knn_matches_l4(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    got = {
        (r.vec_id, r.neighbor_id)
        for r in api.knn(
            e, q, "embedding", k=5, corpus_id="vec_id", query_id="vec_id",
            exclude_self=True,
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id)
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    assert got == want, f"only_l4={want - got} only_api={got - want}"


def test_dedup_exact_keeps_one_per_key(spark):
    d = load_table(spark, SF_DIR, "documents")
    out = api.dedup_exact(d, ["lang"], order_col="doc_id")
    rows = out.collect()
    langs = [r.lang for r in rows]
    assert len(langs) == len(set(langs))
    # representative is the minimum doc_id of each lang group
    mins = {
        r.lang: r.m
        for r in d.groupBy("lang").agg(F.min("doc_id").alias("m")).collect()
    }
    for r in rows:
        assert r.doc_id == mins[r.lang]


def test_sessionize_matches_t3(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in api.sessionize(ev, "user_id", "ts").collect()
    }
    want = {
        (r.user_id, r.session_start_us, r.n_events)
        for r in SPECS["t3_session_batch"].fn(spark, SF_DIR).collect()
    }
    got_us = {(u, int(s.timestamp() * 1_000_000), n) for u, s, n in got}
    assert got_us == want


def test_quality_mask_matches_l8(spark):
    d = load_table(spark, SF_DIR, "documents")
    got = {
        r.doc_id: (r.len_ok, r.tokens_ok, r.lang_ok)
        for r in api.quality_mask(d, lang_col="lang").collect()
    }
    want = {
        r.doc_id: (r.len_ok, r.tokens_ok, r.lang_ok)
        for r in SPECS["l8_quality_filter"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_assemble_lightcurves_shape(spark):
    ev = load_table(spark, SF_DIR, "events")
    out = api.assemble_lightcurves(ev, "user_id", "ts", "value")
    rows = out.collect()
    assert len(rows) == ev.select("user_id").distinct().count()
    r = rows[0]
    assert r.n_epochs == len(r.curve)
    ts_list = [c.ts for c in r.curve]
    assert ts_list == sorted(ts_list), "curve must be time-ordered"


def test_tokenize_stats_consistency(spark):
    d = load_table(spark, SF_DIR, "documents")
    out = api.tokenize_stats(d, "doc_id", "text").collect()
    for r in out[:50]:
        assert r.n_distinct <= r.n_tokens
        assert 0 < r.type_token_ratio <= 1
        assert r.mean_token_len > 0


def test_merge_upsert_matches_m1(spark):
    """Facade merge_upsert over the same pre-aggregated state must
    reproduce m1_merge_upsert's keys and actions."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    split = F.lit("2024-01-16").cast("timestamp")

    def state(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_epochs"),
            F.expr("max_by(value, event_id)").alias("last_value"),
        )

    out = api.merge_upsert(
        state(ev.filter(F.col("ts") < split)),
        state(ev.filter(F.col("ts") >= split)),
        on=["user_id"],
    )
    ref = {r.user_id: r.merge_action for r in SPECS["m1_merge_upsert"].fn(spark, SF_DIR).collect()}
    got = {r.user_id: r.merge_action for r in out.collect()}
    assert got == ref


def test_chunk_tokens_matches_l10(spark):
    out = api.chunk_tokens(_renamed(spark), "x_doc_id", "x_text").select(
        "x_doc_id", "chunk_idx", "n_chunk_tokens", F.md5("chunk_text")
    )
    _assert_matches(spark, out, "l10_chunk_documents")


def test_minhash_near_dups_matches_l3(spark):
    # Renamed columns prove the parameterization; sf0.001 keeps the
    # candidate join small in CI time.
    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").alias("k"), F.col("text").alias("body")
    )
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 4))
        for r in api.minhash_near_dups(d, "k", "body").collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in SPECS["l3_minhash_lsh"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want and got


def test_simhash_near_dups_matches_l3b(spark):
    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").alias("k"), F.col("text").alias("body")
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in api.simhash_near_dups(d, "k", "body").collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in SPECS["l3b_simhash"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want and got


def test_sigma_clip_stats_matches_a9(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: (r.n_kept, round(r.clipped_mean, 4))
        for r in api.sigma_clip_stats(ev, ["event_type"], "value").collect()
    }
    want = {
        r.event_type: (r.n_kept, r.clipped_mean)
        for r in SPECS["a9_sigma_clip"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_lang_id_matches_l6(spark):
    d = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("k"), "text"
    )
    import math

    # R4's floor(x*1e4+0.5)/1e4, not Python round() (banker's rounding
    # differs on exact half-boundaries like 0.03125).
    got = {
        r.k: (r.lang_pred, math.floor(r.stopword_ratio * 10000 + 0.5) / 10000)
        for r in api.lang_id(d, "k", "text").collect()
    }
    want = {
        r.doc_id: (r.lang_pred, r.stopword_ratio)
        for r in SPECS["l6_lang_id"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_cone_crossmatch_2d_matches_d12(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    dets = pts.filter(F.col("vec_id") % 2 == 0).withColumnRenamed("vec_id", "det_id")
    objs = pts.filter(F.col("vec_id") % 2 == 1).withColumnRenamed("vec_id", "obj_id")
    got = {
        (r.det_id, r.obj_id)
        for r in api.cone_crossmatch_2d(dets, objs, eps=0.05).collect()
    }
    want = {
        (r.det_id, r.obj_id)
        for r in SPECS["d12_cone_crossmatch_2d"].fn(spark, SF_DIR).collect()
    }
    assert got == want and got


def test_variability_eta_matches_d13(spark):
    ev = load_table(spark, SF_DIR, "events")
    # The @query instantiation orders by (ts, event_id); ts alone is
    # not unique, so pass the same composite ordering via a struct.
    got = {
        r.user_id: round(r.eta, 4)
        for r in api.variability_eta(
            ev.withColumn("__ord", F.struct("ts", "event_id")),
            "user_id",
            "__ord",
            "value",
        ).collect()
    }
    want = {
        r.user_id: r.eta
        for r in SPECS["d13_von_neumann_variability"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want) and got
    for k in want:
        assert abs(got[k] - want[k]) < 1e-3, k


def test_fuzzy_join_matches_l22(spark):
    got = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in api.fuzzy_join(
            load_table(spark, SF_DIR, "part"), "p_name", max_dist=2
        ).collect()
    }
    want = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in SPECS["l22_fuzzy_name_join"].fn(spark, SF_DIR).collect()
    }
    assert want and got == want


def test_bloom_known_filter_matches_l21(spark):
    docs = load_table(spark, SF_DIR, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0).select(F.md5("text").alias("fp"))
    incoming = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    got = {
        (r.doc_id, r.n_chars, r.is_known)
        for r in api.bloom_known_filter(incoming, ref, "fp")
        .select("doc_id", "n_chars", "is_known")
        .collect()
    }
    want = {
        (r.doc_id, r.n_chars, r.is_known)
        for r in SPECS["l21_incremental_dedup"].fn(spark, SF_DIR).collect()
    }
    assert want and got == want


def test_harmonic_amplitude_matches_d15(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r[0]: (r.n_epochs, round(r.amplitude, 4), round(r.phase, 4))
        for r in api.harmonic_amplitude(
            ev, "user_id", "ts", "value", period_s=86400.0
        ).collect()
    }
    want = {
        r.user_id: (r.n_epochs, r.amp_1d, r.phase_1d)
        for r in SPECS["d15_harmonic_amplitude"].fn(spark, SF_DIR).collect()
    }
    assert want and set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 2e-4, (k, got[k], want[k])
        assert abs(got[k][2] - want[k][2]) < 2e-4, (k, got[k], want[k])


def test_span_dedup_census_matches_l11(spark):
    out = api.span_dedup_census(_renamed(spark), "x_doc_id", "x_text", n=8)
    _assert_matches(spark, out, "l11_ngram_span_dedup")


def test_scd2_intervals_matches_m2(spark):
    o = load_table(spark, SF_DIR, "orders")
    got = {
        (r.o_custkey, r.version, r.attr, r.is_current)
        for r in api.scd2_intervals(
            o, "o_custkey", "o_orderpriority", ["o_orderdate", "o_orderkey"]
        ).collect()
    }
    want = {
        (r.custkey, r.version, r.priority, r.is_current)
        for r in SPECS["m2_scd2_intervals"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_sample_per_key_matches_p8(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.event_id, r.sample_rank)
        for r in api.sample_per_key(ev, "user_id", "event_id", k=3)
        .select("user_id", "event_id", "sample_rank")
        .collect()
    }
    want = {
        (r.user_id, r.event_id, r.sample_rank)
        for r in SPECS["p8_reservoir_sample_per_key"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_heavy_hitters_matches_bruteforce(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    u = (F.col("l_orderkey") % 1024) / 1024.0
    items = li.select(F.floor(u * u * u * 200).cast("long").alias("item"))
    n = items.count()
    want = {
        (r.item, r.cnt)
        for r in items.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r.cnt > n / 64.0
    }
    got = {
        (r.item, r.cnt) for r in api.heavy_hitters(items, "item", 1.0 / 64).collect()
    }
    assert got == want


def test_monotone_runs_matches_w8(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.n_runs, r.longest_run)
        for r in api.monotone_runs(ev, "user_id", "value", ["ts", "event_id"]).collect()
    }
    want = {
        (r.user_id, r.n_runs, r.longest_run)
        for r in SPECS["w8_monotone_runs"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_zorder_write_roundtrip_and_sketch_rollup(spark):
    import os
    import tempfile

    li = load_table(spark, SF_DIR, "lineitem")
    out = os.path.join(tempfile.gettempdir(), "api_zorder_test")
    api.zorder_write(
        li.select("l_orderkey", "l_partkey", "l_suppkey"),
        out,
        ("l_partkey", "l_suppkey"),
    )
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    assert "__z" in back.columns

    roll = api.sketch_distinct_rollup(
        li, ["l_returnflag", "l_linestatus"], ["l_returnflag"], "l_partkey"
    ).collect()
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert len(roll) == len(exact)
    for r in roll:
        est = r["approx_distinct_l_partkey"]
        assert abs(est - exact[r.l_returnflag]) / exact[r.l_returnflag] < 0.05


def test_snapshot_diff_matches_m4(spark):
    ev = load_table(spark, SF_DIR, "events")

    def snap(lo, hi):
        return (
            ev.filter(
                (F.col("event_type") == "error")
                & (F.col("value") > 90)
                & (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.floor(
                    F.expr("max_by(value, event_id)") * 10000 + F.lit(0.5)
                ).alias("lastq"),
            )
        )

    got = {
        (r.user_id, r.change_type)
        for r in api.snapshot_diff(
            snap("2024-01-08", "2024-01-15"),
            snap("2024-01-15", "2024-01-22"),
            ["user_id"],
        ).collect()
    }
    want = {
        (r.user_id, r.change_type)
        for r in SPECS["m4_snapshot_diff"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_event_funnel_matches_w9(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.view_us, r.click_us, r.purchase_us, r.reached)
        for r in api.event_funnel(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    want = {
        (r.user_id, r.v_us, r.c_us, r.p_us, r.reached)
        for r in SPECS["w9_event_funnel"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_retention_cohorts_matches_q23(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.cohort_date, r.week_offset, r.n_active)
        for r in api.retention_cohorts(
            ev,
            "user_id",
            "ts",
            (F.col("event_type") == "purchase") & (F.col("value") > 100),
        ).collect()
    }
    want = {
        (r.cohort_date, r.week_offset, r.n_active)
        for r in SPECS["q23_retention_cohorts"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_pagerank_matches_g1(spark):
    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    ranks = {r.node: r.rank for r in api.pagerank(edges).collect()}
    want = {
        (
            2 * r.entity_key if r.node_type == "customer" else 2 * r.entity_key + 1
        ): r.rank
        for r in SPECS["g1_pagerank"].fn(spark, sf).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # probability mass conserved
    for node, rank in want.items():
        assert abs(ranks[node] - rank) < 1e-6


def test_semantic_dedup_matches_l20(spark):
    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    got = {
        (r.vec_id, r.kept)
        for r in api.semantic_dedup(emb, "vec_id", "embedding").collect()
    }
    want = {
        (r.vec_id, r.kept)
        for r in SPECS["l20_semantic_dedup"].fn(spark, sf).collect()
    }
    assert got == want


def test_time_weighted_avg_matches_w10(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_intervals, round(r.twap, 4))
        for r in api.time_weighted_avg(ev, "user_id", "ts", "value").collect()
    }
    want = {
        r.user_id: (r.n_intervals, r.twap)
        for r in SPECS["w10_time_weighted_avg"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-3, (k, got[k], want[k])


def test_detrended_sigma_matches_d16(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n, round(r.slope_per_day, 4), round(r.sd_detrended, 4))
        for r in api.detrended_sigma(ev, "user_id", "ts", "value").collect()
    }
    want = {
        r.user_id: (r.n, r.slope_per_day, r.sd_detrended)
        for r in SPECS["d16_linear_detrend"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-3
        assert abs(got[k][2] - want[k][2]) < 1e-3


def test_check_constraints_and_fk_match_dq1(spark):
    ev = load_table(spark, SF_DIR, "events")
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    dq1 = {
        r.constraint_name: (r.n_checked, r.n_violations)
        for r in SPECS["dq1_constraint_census"].fn(spark, SF_DIR).collect()
    }
    got_nn = api.check_constraints(
        ev, {"events_value_not_null": F.col("value").isNull()}
    ).first()
    assert (got_nn.n_checked, got_nn.n_violations) == dq1["events_value_not_null"]
    got_rng = api.check_constraints(
        li,
        {"lineitem_discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 1)},
    ).first()
    assert (got_rng.n_checked, got_rng.n_violations) == dq1["lineitem_discount_range"]
    got_fk = api.fk_violations(
        orders, cust, "o_custkey", "c_custkey", "orders_custkey_fk"
    ).first()
    assert (got_fk.n_checked, got_fk.n_violations) == dq1["orders_custkey_fk"]


def test_aqp_avg_matches_q24(spark):
    orders = load_table(spark, SF_DIR, "orders")
    got = {
        r.o_orderpriority: (r.n_sampled, r.n_total, round(r.rel_err, 4))
        for r in api.aqp_avg(
            orders, ["o_orderpriority"], "o_totalprice", "o_orderkey"
        ).collect()
    }
    want = {
        r.o_orderpriority: (r.n_sampled, r.n_total, r.rel_err)
        for r in SPECS["q24_aqp_estimate"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1]
        assert abs(got[k][2] - want[k][2]) < 1e-3


def test_ohlc_bars_matches_d17(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.bar_us): (r.n, round(r.open, 4), round(r.high, 4),
                                round(r.low, 4), round(r.close, 4))
        for r in api.ohlc_bars(ev, "user_id", "ts", "value", "hour", "event_id").collect()
    }
    want = {
        (r.user_id, r.bar_us): (r.n, r.open, r.high, r.low, r.close)
        for r in SPECS["d17_ohlc_bars"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_partition_gaps_matches_s14(spark):
    ev = load_table(spark, SF_DIR, "events")
    present = ev.filter(
        F.dayofmonth(F.col("ts").cast("date")) % 7 != 0
    ).select(F.col("ts").cast("date").alias("d"))
    got = {
        str(r.missing_date)
        for r in api.partition_gaps(present, "d", "2024-01-01", "2024-01-30").collect()
    }
    want = {
        r.missing_date for r in SPECS["s14_partition_gap_audit"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def _r4(x):
    import math

    return math.floor(x * 10000 + 0.5) / 10000


def test_ewma_matches_w11(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_events, _r4(r.ewma_value))
        for r in api.ewma(ev, "user_id", "ts", "value", "event_id").collect()
    }
    want = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in SPECS["w11_ewma"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_max_drawdown_matches_w12(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_events, _r4(r.max_drawdown), _r4(r.peak_value))
        for r in api.max_drawdown(ev, "user_id", "ts", "value", "event_id").collect()
    }
    want = {
        r.user_id: (r.n_events, r.max_drawdown, r.peak_value)
        for r in SPECS["w12_max_drawdown"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_ls_periodogram_matches_d18(spark):
    from lightcurator_spark.operators.series_ext import _D18_GRID

    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.freq_id): (r.n_epochs, _r4(r.ls_power))
        for r in api.ls_periodogram(
            ev, "user_id", "ts", "value", [p for _i, p, _w in _D18_GRID]
        ).collect()
    }
    want = {
        (r.user_id, r.freq_id): (r.n_epochs, r.ls_power)
        for r in SPECS["d18_ls_periodogram_grid"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 2e-4, k


def test_pdm_theta_matches_d19(spark):
    from lightcurator_spark.operators.series_ext import _D19_PERIODS_US

    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.period_id): (r.n_epochs, _r4(r.pdm_theta))
        for r in api.pdm_theta(
            ev, "user_id", "ts", "value", [p for _i, p in _D19_PERIODS_US]
        ).collect()
    }
    want = {
        (r.user_id, r.period_id): (r.n_epochs, r.pdm_theta)
        for r in SPECS["d19_pdm_period_search"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bfs_and_triangles_match_g2_g3(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    su = load_table(spark, SF_DIR, "supplier")
    edges = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select("c_nationkey", "s_nationkey")
        .distinct()
    )
    got_b = {
        r.node: r.hop
        for r in api.bfs_hops(edges, "c_nationkey", "s_nationkey", 0, 3).collect()
    }
    want_b = {
        r.node: r.hop for r in SPECS["g2_shortest_path"].fn(spark, SF_DIR).collect()
    }
    assert got_b == want_b
    got_t = {
        r.node_a: r.n_triangles
        for r in api.triangle_count(edges, "c_nationkey", "s_nationkey").collect()
    }
    want_t = {
        r.node_a: r.n_triangles
        for r in SPECS["g3_triangle_count"].fn(spark, SF_DIR).collect()
    }
    assert got_t == want_t


def test_basket_lift_matches_q26(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    got = {
        (r.item_a, r.item_b): (r.n_ab, _r4(r.lift))
        for r in api.basket_lift(li, "l_orderkey", "l_partkey").collect()
    }
    want = {
        (r.part_a, r.part_b): (r.n_ab, r.lift)
        for r in SPECS["q26_basket_lift"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_weighted_median_matches_a20(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    got = {
        r.l_returnflag: (r.n_rows, _r4(r.weighted_median), _r4(r.total_weight))
        for r in api.weighted_median(
            li, "l_returnflag", "l_extendedprice", "l_quantity",
            ["l_orderkey", "l_linenumber"],
        ).collect()
    }
    want = {
        r.l_returnflag: (r.n_rows, r.weighted_median, r.total_weight)
        for r in SPECS["a20_weighted_median"].fn(spark, SF_DIR).collect()
    }
    assert got == want
    # bucketed crossing-search mode: same exact answer, any width
    for width in (1024.0, 333.7):
        got_b = {
            r.l_returnflag: (r.n_rows, _r4(r.weighted_median), _r4(r.total_weight))
            for r in api.weighted_median(
                li, "l_returnflag", "l_extendedprice", "l_quantity",
                [], bucket_width=width,
            ).collect()
        }
        assert got_b == want, width


def test_theil_sen_matches_a21(spark):
    import math

    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_pairs, math.floor(r.theil_sen_slope * 1e7 + 0.5) / 1e7)
        for r in api.theil_sen(ev, "user_id", "ts", "value").collect()
    }
    want = {
        r.user_id: (r.n_pairs, r.theil_sen_slope)
        for r in SPECS["a21_theil_sen_slope"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_prefix_jaccard_join_matches_l25(spark):
    out = api.prefix_jaccard_join(_renamed(spark), "x_doc_id", "x_text", 9, 10)
    _assert_matches(spark, out, "l25_prefix_filter_join")


def test_weighted_median_negative_weight_raises(spark):
    """r4 ADVICE: a negative weight breaks the max(cumsum)-as-total
    identity, so the guard must fail the job rather than return a
    silently wrong median."""
    import pytest

    neg = spark.createDataFrame(
        [(1, 5.0, 2.0, 1), (1, 7.0, -3.0, 2)], "g int, v double, w double, k int"
    )
    with pytest.raises(Exception, match="negative weight"):
        api.weighted_median(neg, "g", "v", "w", ["k"]).collect()


def test_weighted_median_scale_param(spark):
    """Sub-cent weights vanish at the default 1e-2 quantization; a
    caller-raised weight_scale keeps them (the knob the r4 ADVICE
    asked to expose)."""
    df = spark.createDataFrame(
        [(1, 5.0, 0.001, 1), (1, 7.0, 0.003, 2)], "g int, v double, w double, k int"
    )
    coarse = api.weighted_median(df, "g", "v", "w", ["k"]).collect()[0]
    fine = api.weighted_median(df, "g", "v", "w", ["k"], weight_scale=1000).collect()[0]
    # default scale floors all weights to 0 -> every prefix hits
    # 2*0 >= 0, lower median degenerates to the smallest value
    assert coarse.weighted_median == 5.0
    # 1e-3 units resolve the weights: cum = [1, 4], tot = 4 -> first
    # prefix with 2*cw >= 4 is v = 7.0
    assert fine.weighted_median == 7.0


def test_theil_sen_pairless_keys_skipped(spark):
    """r4 ADVICE (medium): a key with one event, or all events at one
    timestamp, yields zero strict pairs — the kernel must skip it
    (matching the SQL twin's strict join), not crash np.partition."""
    import datetime

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 1), 1.0), (1, d(2024, 1, 2), 2.0),
        (2, d(2024, 1, 1), 5.0),
        (3, d(2024, 1, 1), 1.0), (3, d(2024, 1, 1), 9.0),
    ]
    tdf = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = api.theil_sen(tdf, "user_id", "ts", "value").collect()
    assert sorted(r.user_id for r in out) == [1]


def test_prefix_jaccard_join_high_tau_finds_exact_dups(spark):
    """r4 ADVICE: the old ceil constant (tau_num instead of
    tau_den - 1) collapsed prefixes to zero tokens at high tau,
    silently returning no pairs even for exact duplicates."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z")], "id long, text string"
    )
    got = api.prefix_jaccard_join(docs, "id", "text", 99, 100).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    with pytest.raises(ValueError, match="tau_num < tau_den"):
        api.prefix_jaccard_join(docs, "id", "text", 10, 10)


def test_canonicalize_duplicates_matches_l26(spark):
    out = api.canonicalize_duplicates(_renamed(spark), "x_doc_id", "x_text", "x_n_chars")
    _assert_matches(spark, out, "l26_canonical_selection")


def test_prefix_jaccard_join_complete_across_thresholds(spark, tmp_path):
    """Facade hardening: the generic τ=num/den prefix bound must stay
    complete at LOOSE thresholds too (smaller τ → longer prefixes —
    the bound's arithmetic differs per τ), checked against brute
    force on a seeded corpus for τ ∈ {1/2, 7/10, 9/10}."""
    import itertools
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(40)]
    docs = [rng.sample(vocab, rng.randint(8, 25)) for _ in range(30)]
    docs.append(docs[0][:])
    docs.append(docs[1][:-1])
    docs.append(docs[2][: len(docs[2]) // 2])
    d = tmp_path / "tj"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(docs)), pa.int64()),
                "text": pa.array([" ".join(t) for t in docs]),
            }
        ),
        d / "documents.parquet",
    )
    df = spark.read.parquet(str(d / "documents.parquet"))
    sets = [set(t) for t in docs]
    for num, den in ((1, 2), (7, 10), (9, 10)):
        got = {
            (r.doc_a, r.doc_b)
            for r in api.prefix_jaccard_join(df, "doc_id", "text", num, den).collect()
        }
        want = {
            (i, j)
            for i, j in itertools.combinations(range(len(docs)), 2)
            if den * len(sets[i] & sets[j]) >= num * len(sets[i] | sets[j])
        }
        assert got == want, f"tau={num}/{den}: missed={want - got} extra={got - want}"


def test_last_touch_attribution_matches_q27(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.touch_type: (r.n_conversions, _r4(r.attributed_value))
        for r in api.last_touch_attribution(
            ev, "user_id", "ts", "event_id", "event_type", "value",
            ["view", "click"], "purchase",
        ).collect()
    }
    want = {
        r.touch_type: (r.n_purchases, r.attributed_value)
        for r in SPECS["q27_lasttouch_attribution"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bigram_logprob_matches_l27(spark):
    out = api.bigram_logprob(_renamed(spark), "x_doc_id", "x_text")
    _assert_matches(spark, out, "l27_bigram_logprob")


def test_pack_sequences_matches_l30(spark):
    d = _renamed(spark).withColumn("x_toks", F.size(F.split("x_text", " ")).cast("long"))
    out = (
        api.pack_sequences(d, "x_source", "x_doc_id", "x_toks", budget=64)
        .groupBy("x_source", "shard", "bin_idx")
        .agg(F.count(F.lit(1)), F.sum("x_toks"), F.min("x_doc_id"), F.max("x_doc_id"))
    )
    _assert_matches(spark, out, "l30_sequence_packing")


def test_pack_sequences_rejects_column_clash(spark):
    """r5 review finding: silently overwriting a caller's existing
    'shard' column would corrupt downstream layout; it must raise."""
    import pytest

    df = spark.range(5).selectExpr(
        "id as doc_id", "'a' as g", "id as toks", "id as shard"
    )
    with pytest.raises(ValueError, match="shard"):
        api.pack_sequences(df, "g", "doc_id", "toks", budget=8)


def test_api_functions_handle_empty_input(spark):
    """Empty-relation edge: the core facade operators must return an
    empty, well-formed DataFrame on 0-row input — not crash in a
    kernel or window (the class of failure the a21 n=0 guard fixed
    for empty GROUPS; this pins the empty-RELATION case)."""
    from pyspark.sql import functions as F

    empty_ev = spark.createDataFrame(
        [], "user_id long, ts timestamp, value double, k int"
    )
    assert api.theil_sen(empty_ev, "user_id", "ts", "value").count() == 0
    assert (
        api.weighted_median(empty_ev, "user_id", "value", "value", ["k"]).count()
        == 0
    )
    assert (
        api.weighted_median(
            empty_ev, "user_id", "value", "value", [], bucket_width=10.0
        ).count()
        == 0
    )
    empty_docs = spark.createDataFrame([], "id long, text string")
    assert api.prefix_jaccard_join(empty_docs, "id", "text").count() == 0
    assert (
        api.pack_sequences(
            empty_docs.withColumn("toks", F.lit(1).cast("long")),
            "text", "id", "toks", budget=8,
        ).count()
        == 0
    )
    assert api.sessionize(empty_ev, "user_id", "ts").count() == 0


def test_interval_union_matches_w14(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(21_600_000_000)).alias("e"),
    )
    got = {
        r.user_id: (r.n_islands, r.n_intervals, r.covered, r.longest)
        for r in api.interval_union(ev, "user_id", "s", "e").collect()
    }
    want = {
        r.user_id: (r.n_islands, r.n_events, r.covered_us, r.longest_us)
        for r in SPECS["w14_interval_union"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_group_entropy_matches_a22(spark):
    ev = _renamed(spark, "events")
    out = api.group_entropy(ev, "x_event_type", "x_user_id")
    _assert_matches(spark, out, "a22_group_entropy")


def test_acf_matches_d20(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "us", F.unix_micros("ts")
    )
    got = {
        r.user_id: (r.n_epochs, _r4(r.acf1), _r4(r.acf2), _r4(r.acf3))
        for r in api.acf(
            ev, "user_id", "us", "value", tie_cols=("event_id",)
        ).collect()
    }
    want = {
        r.user_id: (r.n_epochs, r.acf1, r.acf2, r.acf3)
        for r in SPECS["d20_acf_lags"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_acf_rejects_bad_lags(spark):
    ev = load_table(spark, SF_DIR, "events")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.acf(ev, "user_id", "ts", "value", lags=(0,))
    with _pytest.raises(ValueError):
        api.acf(ev, "user_id", "ts", "value", lags=())


def test_zipf_slope_matches_l32(spark):
    out = api.zipf_slope(_renamed(spark), "x_source", "x_text")
    _assert_matches(spark, out, "l32_zipf_slope")


def test_sparse_cosine_join_matches_l31(spark):
    d = load_table(spark, SF_DIR, "documents")
    got = {
        (r.id_a, r.id_b): _r4(r.cos_sim)
        for r in api.sparse_cosine_join(d, "doc_id", "text").collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.cos_sim
        for r in SPECS["l31_sparse_cosine_selfjoin"].fn(spark, SF_DIR).collect()
    }
    # the query gates on the ROUNDED score, the api on the raw one —
    # memberships may legitimately differ inside the rounding half-ulp
    for k in set(got) | set(want):
        if k in got and k in want:
            assert got[k] == want[k], (k, got[k], want[k])
        else:
            side = got.get(k, want.get(k))
            assert abs(side - 0.3) < 5.1e-5, (k, side)


def test_sparse_cosine_join_validates_params(spark):
    d = load_table(spark, SF_DIR, "documents")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.sparse_cosine_join(d, "doc_id", "text", tau=0.0)
    with _pytest.raises(ValueError):
        api.sparse_cosine_join(d, "doc_id", "text", max_df_den=1)


def test_degree_assortativity_matches_g4(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    e = li.join(o, li.l_orderkey == o.o_orderkey).select("o_custkey", "l_suppkey")
    got = api.degree_assortativity(e, "o_custkey", "l_suppkey").collect()[0]
    want = SPECS["g4_degree_assortativity"].fn(spark, SF_DIR).collect()[0]
    assert got.n_edges == want.n_edges
    assert _r4(got.assortativity) == want.assortativity


def test_welch_ttest_matches_a24(spark):
    ev = load_table(spark, SF_DIR, "events")
    split = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    got = {
        r.event_type: (r.n_a, r.n_b, _r4(r.mean_a), _r4(r.mean_b),
                       _r4(r.t_stat), _r4(r.dof))
        for r in api.welch_ttest(ev, "event_type", "value", split).collect()
    }
    want = {
        r.event_type: (r.n_before, r.n_after, r.mean_before, r.mean_after,
                       r.t_stat, r.dof)
        for r in SPECS["a24_welch_drift_ttest"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_ks_drift_matches_a25(spark):
    ev = load_table(spark, SF_DIR, "events")
    split = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    got = {
        r.event_type: (r.n_a, r.n_b, _r4(r.ks_stat))
        for r in api.ks_drift(ev, "event_type", "value", split).collect()
    }
    want = {
        r.event_type: (r.n_before, r.n_after, r.ks_stat)
        for r in SPECS["a25_ks_drift"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_containment_join_matches_l33(spark):
    out = api.containment_join(_renamed(spark), "x_doc_id", "x_text", n=4, tau=0.5)
    _assert_matches(spark, out, "l33_shingle_containment")


def test_containment_join_tau_is_integer_exact(spark):
    # tau=1.0 keeps only full containments; the gate must not lose
    # exact-duplicate pairs to float comparison
    d = load_table(spark, SF_DIR, "documents")
    rows = api.containment_join(d, "doc_id", "text", tau=1.0).collect()
    assert rows, "corpus contains exact duplicates"
    for r in rows:
        assert r.containment == 1.0, r


def test_rolling_median_matches_w15(spark):
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type") == "purchase"
    )
    got = {
        (r.user_id, r.event_id): _r4(r.roll_med)
        for r in api.rolling_median(
            ev, ["user_id"], ["ts", "event_id"], "value"
        ).collect()
    }
    want = {
        (r.user_id, r.event_id): r.roll_med
        for r in SPECS["w15_rolling_median"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_mannwhitney_u_matches_a26(spark):
    ev = load_table(spark, SF_DIR, "events")
    split = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    got = {
        r.event_type: (r.n_a, r.n_b, r.u_stat, _r4(r.rank_biserial))
        for r in api.mannwhitney_u(ev, "event_type", "value", split).collect()
    }
    want = {
        r.event_type: (r.n_a, r.n_b, r.u_stat, r.rank_biserial)
        for r in SPECS["a26_mannwhitney_u"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_chi2_independence_matches_a27(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "dow",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        % 7,
    )
    got = api.chi2_independence(ev, "event_type", "dow").collect()[0]
    want = SPECS["a27_chi2_independence"].fn(spark, SF_DIR).collect()[0]
    assert (got.n, got.dof, _r4(got.chi2), _r4(got.cramers_v)) == (
        want.n, want.dof, want.chi2, want.cramers_v
    )


def test_strip_duplicated_spans_matches_l34(spark):
    out = api.strip_duplicated_spans(_renamed(spark), "x_doc_id", "x_text", n=8)
    _assert_matches(spark, out, "l34_boilerplate_strip")


def test_column_profile_matches_dq3(spark):
    ev = load_table(spark, SF_DIR, "events")
    r4n = lambda x: None if x is None else _r4(x)
    got = {
        r.col_name: (r.n, r.n_null, r.n_distinct,
                     r4n(r.min_num), r4n(r.max_num), r.min_str, r.max_str)
        for r in api.column_profile(
            ev, ["event_id", "user_id", "value"], ["event_type", "props"]
        ).collect()
    }
    want = {
        r.col_name: (r.n, r.n_null, r.n_distinct,
                     r.min_num, r.max_num, r.min_str, r.max_str)
        for r in SPECS["dq3_column_profile"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bls_power_matches_d21(spark):
    from lightcurator_spark.operators.series_ext import _D19_PERIODS_US

    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r.user_id, r.period_id): (r.period_s, r.n_epochs, _r4(r.bls_power))
        for r in api.bls_power(
            ev, "user_id", "ts", "value", [p for _, p in _D19_PERIODS_US]
        ).collect()
    }
    want = {
        (r.user_id, r.period_id): (r.period_s, r.n_epochs, r.bls_power)
        for r in SPECS["d21_bls_box_search"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_shingle_builders_survive_short_docs(spark):
    """sequence(1, 0) is DESCENDING in Spark — a doc shorter than the
    shingle width must produce ZERO shingles, never a slice(…, 0, n)
    crash (caught live when L34's strip shortened docs below 4/8
    tokens). Docs 1 and 4 are identical and short: they are no pair,
    no span row and no removal."""
    d = spark.createDataFrame(
        [(1, "only two"), (2, "a b c d e f g h i j"), (3, "x"), (4, "only two")],
        "doc_id long, text string",
    )
    assert api.minhash_near_dups(d, "doc_id", "text").collect() == []
    assert api.simhash_near_dups(d, "doc_id", "text").collect() == []
    assert api.containment_join(d, "doc_id", "text", n=4).collect() == []
    sh = api.shingle_pairs(d, "doc_id", "text", n=4).collect()
    assert {r["__id"] for r in sh} == {2}
    census = api.span_dedup_census(d, "doc_id", "text", n=8).collect()
    assert [(r.doc_id, r.n_grams, r.n_dup_grams) for r in census] == [(2, 3, 0)]
    strip = api.strip_duplicated_spans(d, "doc_id", "text").collect()
    assert {r.doc_id: r.n_removed for r in strip} == {1: 0, 2: 0, 3: 0, 4: 0}


def test_pca_project_matches_l35b(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    got = {
        r.vec_id: (_r4(r.pc1), _r4(r.pc2), _r4(r.pc3), _r4(r.pc4))
        for r in api.pca_project(e, "vec_id", "embedding", k=4).collect()
    }
    want = {
        r.vec_id: (r.pc1, r.pc2, r.pc3, r.pc4)
        for r in SPECS["l35b_pca_project"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_windowed_reach_matches_t13(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.window_start_us: (r.n_unique, r.n_events)
        for r in api.windowed_reach(ev, "ts", "user_id").collect()
    }
    want = {
        r.hour_us: (r.n_unique, r.n_events)
        for r in SPECS["t13_windowed_distinct_batch"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_benford_digit_census_matches_a28(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    got = {
        r.digit: (r.n_obs, _r4(r.obs_share), _r4(r.benford_share), _r4(r.chi2_term))
        for r in api.benford_digit_census(li, "l_extendedprice").collect()
    }
    want = {
        r.digit: (r.n_obs, r.obs_share, r.benford_share, r.chi2_term)
        for r in SPECS["a28_benford_digit_drift"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_phash_near_dup_pairs_matches_l36(spark):
    from lightcurator_spark.operators import multimodal as mm

    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    import pandas as pd

    def hash_images(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pd.array(
                        [
                            mm.phash63(
                                mm.decode_bmp(mm.synth_phash_bmp(int(i)))[
                                    :, :, 0
                                ].astype("float64")
                            )
                            for i in pdf["doc_id"]
                        ],
                        dtype="int64",
                    ),
                }
            )

    hashed = d.mapInPandas(hash_images, "doc_id long, phash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in api.phash_near_dup_pairs(hashed, "doc_id", "phash").collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in SPECS["l36_image_phash_dedup"].fn(spark, SF_DIR).collect()
    }
    assert got == want
    # the completeness guard: banding that can't cover the radius raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.phash_near_dup_pairs(hashed, "doc_id", "phash", max_hamming=7)


def test_rolling_reach_matches_w16(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.hour_us: (r.rolling_users, r.rolling_events)
        for r in api.rolling_reach(ev, "ts", "user_id").collect()
    }
    want = {
        r.hour_us: (r.rolling_users, r.rolling_events)
        for r in SPECS["w16_rolling_reach"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_asof_join_backward_matches_j9(spark):
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    res = api.asof_join(clicks, purchases, "user_id", "ts")
    got = {
        r.event_id: (r.ts_matched, r.pvalue and round(r.pvalue, 4))
        for r in res.collect()
    }
    want = {}
    for r in SPECS["j9_asof_backward"].fn(spark, SF_DIR).collect():
        import datetime

        ts = (
            None
            if r.purchase_ts_us is None
            else datetime.datetime.utcfromtimestamp(r.purchase_ts_us / 1e6)
        )
        want[r.event_id] = (ts, r.purchase_value)
    assert got == want


def test_asof_join_forward_tolerance_matches_j12(spark):
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    res = api.asof_join(
        clicks, purchases, "user_id", "ts",
        direction="forward", tolerance_seconds=7200,
    )
    got = {
        r.event_id: (r.ts_matched, r.pvalue and round(r.pvalue, 4))
        for r in res.collect()
    }
    want = {}
    for r in SPECS["j12_asof_forward"].fn(spark, SF_DIR).collect():
        import datetime

        ts = (
            None
            if r.next_purchase_ts_us is None
            else datetime.datetime.utcfromtimestamp(r.next_purchase_ts_us / 1e6)
        )
        want[r.event_id] = (ts, r.next_purchase_value)
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.asof_join(clicks, purchases, "user_id", "ts", direction="nearest")


def test_label_propagation_matches_g5(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    edges = li.groupBy(
        (F.col("l_partkey") * 2).alias("a"),
        (F.col("l_suppkey") * 2 + 1).alias("b"),
    ).agg(F.count(F.lit(1)).alias("w"))
    got = {
        (r.node, r.community)
        for r in api.label_propagation(edges, "a", "b", "w").collect()
    }
    want = {
        (r.node, r.community)
        for r in SPECS["g5_label_propagation"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_label_propagation_splits_planted_communities(spark):
    """Two weighted 4-cliques joined by one weight-1 bridge must
    resolve to exactly two communities labelled by each clique's
    smallest node — and the bridge must NOT merge them."""
    cliq = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                cliq.append((base + i, base + j, 5))
    cliq.append((3, 10, 1))  # weak bridge
    edges = spark.createDataFrame(cliq, "s long, d long, w long")
    res = {
        r.node: r.community
        for r in api.label_propagation(edges, "s", "d", "w").collect()
    }
    assert {res[n] for n in (0, 1, 2, 3)} == {0}
    assert {res[n] for n in (10, 11, 12, 13)} == {10}


def test_kmeans_assign_matches_ml1(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        r.vec_id: (r.cluster, r.dist)
        for r in api.kmeans_assign(emb, "vec_id", "embedding").collect()
    }
    want = {
        r.vec_id: (r.cluster, r.dist)
        for r in SPECS["ml1_kmeans_assign"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_volume_anomaly_matches_dq4(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.hour_us: (r.n_events, r.baseline_med, r.mad, r.is_anomaly)
        for r in api.volume_anomaly(ev, "ts").collect()
    }
    want = {
        r.hour_us: (r.n_events, r.baseline_med, r.mad, r.is_anomaly)
        for r in SPECS["dq4_volume_anomaly"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_volume_anomaly_flags_planted_spike(spark):
    """A flat 10-events-per-hour stream with one 100-event spike hour
    must flag exactly the spike (MAD = 0 there: any deviation trips),
    and stay quiet everywhere else; downstream filters on the flag
    must not crash on the short warm-up frames (try_element_at)."""
    import datetime

    rows = []
    t0 = datetime.datetime(2025, 1, 1)
    for h in range(60):
        n = 100 if h == 40 else 10
        for i in range(n):
            rows.append((datetime.timedelta(hours=h, seconds=i) + t0,))
    df = spark.createDataFrame(rows, "ts timestamp")
    res = api.volume_anomaly(df, "ts", window_hours=12)
    flagged = [r.hour_us for r in res.filter("is_anomaly").collect()]
    spike_us = int((t0 + datetime.timedelta(hours=40)).timestamp() * 1e6)
    assert flagged == [spike_us], flagged


def test_join_fanout_audit_matches_dq5(spark):
    od = load_table(spark, SF_DIR, "orders")
    ev = load_table(spark, SF_DIR, "events")
    got = [
        (r.join_key, r.n_left, r.n_right, r.fanout, r.share_of_total)
        for r in api.join_fanout_audit(od, ev, "o_custkey", "user_id").collect()
    ]
    want = [
        (r.join_key, r.n_orders, r.n_events, r.fanout, r.share_of_total)
        for r in SPECS["dq5_join_fanout_audit"].fn(spark, SF_DIR).collect()
    ]
    assert got == want


def test_join_fanout_audit_predicts_exact_join_size(spark):
    """The audit's total fan-out must equal the ACTUAL row count of
    the audited join — the audit is exact, not an estimate."""
    od = load_table(spark, SF_DIR, "orders").select("o_custkey")
    ev = load_table(spark, SF_DIR, "events").select("user_id")
    audited = api.join_fanout_audit(od, ev, "o_custkey", "user_id", top_n=100000)
    total = audited.agg(F.sum("fanout")).first()[0]
    actual = od.join(ev, od.o_custkey == ev.user_id).count()
    assert total == actual


def test_simpson_reversal_matches_a29(spark):
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    df = od.join(cu, od.o_custkey == cu.c_custkey).select(
        "c_mktsegment",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("x"),
        "o_totalprice",
    )
    got = {
        r.c_mktsegment: (r.n_rows, r.slope_stratum, r.slope_pooled, r.is_reversed)
        for r in api.simpson_reversal(
            df, "c_mktsegment", "x", "o_totalprice"
        ).collect()
    }
    want = {
        r.segment: (r.n_orders, r.slope_segment, r.slope_pooled, r.is_reversed)
        for r in SPECS["a29_simpson_reversal"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_simpson_reversal_detects_planted_paradox(spark):
    """The canonical construction: two strata, each with a clearly
    NEGATIVE within-stratum trend, offset so the pooled cloud trends
    POSITIVE — both strata must flag is_reversed."""
    rows = []
    for i in range(20):  # stratum A: x in [0,19], y falls 100 -> ~81
        rows.append(("A", i, 100.0 - i))
    for i in range(20):  # stratum B: x in [30,49], y falls 200 -> ~181
        rows.append(("B", 30 + i, 200.0 - i))
    df = spark.createDataFrame(rows, "g string, x long, y double")
    res = {r.g: (r.slope_stratum, r.slope_pooled, r.is_reversed)
           for r in api.simpson_reversal(df, "g", "x", "y").collect()}
    for g in ("A", "B"):
        assert res[g][0] < 0, res
        assert res[g][1] > 0, res
        assert res[g][2] is True, res


def test_hodges_lehmann_matches_a30(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_pairs, r.hl_location)
        for r in api.hodges_lehmann(ev, "user_id", "event_id", "value").collect()
    }
    want = {
        r.user_id: (r.n_pairs, r.hl_location)
        for r in SPECS["a30_hodges_lehmann"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_hodges_lehmann_is_robust_where_mean_is_not(spark):
    """One gross outlier in 21 points moves the mean by ~47 but the
    HL estimate by < 1 — and a single-row key is omitted (no strict
    pair), not crashed on."""
    rows = [(1, i, 10.0 + (i % 3)) for i in range(21)]
    rows[5] = (1, 5, 1000.0)  # gross outlier
    rows.append((2, 0, 5.0))  # single-row key
    df = spark.createDataFrame(rows, "k long, o long, v double")
    res = {r.k: r.hl_location for r in api.hodges_lehmann(df, "k", "o", "v").collect()}
    assert 2 not in res
    assert abs(res[1] - 11.0) < 1.5, res


def test_trimmed_mean_matches_a31(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: (r.n_rows, r.n_trim_each, r.mean, r.trimmed_mean, r.winsor_mean)
        for r in api.trimmed_mean(ev, "event_type", "value").collect()
    }
    want = {
        r.event_type: (r.n_rows, r.n_trim_each, r.mean, r.trimmed_mean, r.winsor_mean)
        for r in SPECS["a31_trimmed_winsorized_mean"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_trimmed_mean_matches_scipy_style_reference(spark):
    """The cell-based rank arithmetic must agree with the plain
    sort-and-slice definition computed in NumPy, including tied
    values straddling the trim boundary."""
    import numpy as np

    vals = [5.0, 1.0, 1.0, 2.0, 2.0, 2.0, 3.0, 100.0, -50.0, 2.0,
            7.0, 7.0, 7.0, 7.0, 0.0, 4.0, 4.0, 9.0, 9.0, 6.0]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    r = api.trimmed_mean(df, "g", "v", trim_num=2, trim_den=10).first()
    a = np.sort(np.array(vals))
    n = len(a)
    t = n * 2 // 10
    kept = a[t : n - t]
    wins = np.concatenate([[kept[0]] * t, kept, [kept[-1]] * t])
    assert r.n_rows == n and r.n_trim_each == t
    assert abs(r.trimmed_mean - kept.mean()) < 1e-9, r
    assert abs(r.winsor_mean - wins.mean()) < 1e-9, r
    # the whole point: the outliers no longer dominate
    assert abs(r.mean - np.mean(vals)) < 1e-9
    assert abs(r.trimmed_mean - r.mean) > 1.0


def test_ridge_regression_matches_ml2b(spark):
    from lightcurator_spark.operators import similarity as sim

    ev = load_table(spark, SF_DIR, "events")
    feats = ev.select(
        "event_type",
        "value",
        F.hour("ts").alias("hr"),
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            % 7
        ).alias("dw"),
        *[
            F.when(F.col("event_type") == t, 1).otherwise(0).alias(f"t_{t}")
            for t in sim._ML2_TYPES
        ],
    )
    scored = api.ridge_regression(
        feats, ["hr", "dw"] + [f"t_{t}" for t in sim._ML2_TYPES], "value"
    )
    got = {
        r.event_type: (r.n, round(r.rmse, 4))
        for r in scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sqrt(F.avg(F.col("residual") * F.col("residual"))).alias("rmse"),
        )
        .collect()
    }
    want = {
        r.event_type: (r.n, r.rmse)
        for r in SPECS["ml2b_ridge_predict"].fn(spark, SF_DIR).collect()
    }
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 2e-4, (k, got[k], want[k])


def test_spearman_facade_matches_a32(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.unix_micros("ts").alias("x"), F.col("value").alias("y")
    )
    got = {
        (r["user_id"], r["n"]): round(r["spearman_rho"], 4)
        for r in api.spearman_corr(ev, "user_id", "x", "y").collect()
    }
    want = {
        (r["user_id"], r["n"]): r["spearman_rho"]
        for r in SPECS["a32_spearman_rank_corr"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1.5e-4, k


def test_gini_facade_matches_a34(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["user_id"]: round(r["gini"], 4)
        for r in api.gini_coefficient(ev, "user_id", "value").collect()
    }
    want = {
        r["user_id"]: r["gini"]
        for r in SPECS["a34_gini_concentration"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1.5e-4, k


def test_cusum_facade_matches_d22(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    )
    got = {
        r["user_id"]: (r["cp_index"], r["cusum_stat"])
        for r in api.cusum_changepoint(
            ev, "user_id", ["ts_us", "event_id"], "value"
        ).collect()
    }
    want = {
        r["user_id"]: (r["cp_index"], r["cusum_stat"])
        for r in SPECS["d22_cusum_changepoint"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_decision_stump_facade_matches_ml4(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = api.decision_stump(
        ev, "value", F.col("event_type") == "purchase"
    ).collect()[0]
    want = SPECS["ml4_decision_stump"].fn(spark, SF_DIR).collect()[0]
    assert got["threshold"] == want["threshold"]
    assert got["n_left"] == want["n_left"]
    assert round(got["gini"], 4) == want["gini"]


def test_kcore_facade_peels_planted_chain(spark):
    """A triangle with a pendant chain: the 2-core is exactly the
    triangle; the chain peels off over successive rounds."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)], "a long, b long"
    )
    got = {
        r["node"]: r["deg"] for r in api.kcore(edges, "a", "b", k=2, rounds=4).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


def test_referential_integrity_facade_finds_planted_orphans(spark):
    """The corpus is clean (DQ6 reports 0 orphans), so the orphan
    branch must be proven on planted data: 2 orphan rows sharing one
    orphan key, plus a null key counted separately."""
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, 99), (5, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,)], "pk long")
    row = api.referential_integrity(
        [("child.fk->parent", child, "fk", parent, "pk")]
    ).collect()[0]
    assert row["n_child"] == 5
    assert row["n_null_keys"] == 1
    assert row["n_orphan_rows"] == 2
    assert row["n_orphan_keys"] == 1


def test_markov_facade_rows_sum_to_one(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
    )
    rows = api.markov_transitions(
        ev, "user_id", ["ts_us", "event_id"], "event_type"
    ).collect()
    from collections import defaultdict

    sums = defaultdict(float)
    for r in rows:
        sums[r["from_state"]] += r["p"]
    for k, v in sums.items():
        assert abs(v - 1.0) < 1e-9, (k, v)


def test_stetson_k_facade_matches_d23(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["user_id"]: round(r["stetson_k"], 4)
        for r in api.stetson_k(ev, "user_id", "value").collect()
    }
    want = {
        r["user_id"]: r["stetson_k"]
        for r in SPECS["d23_stetson_k"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1.5e-4, k


def test_burstiness_facade_matches_w20(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    got = {
        r["user_id"]: round(r["burstiness"], 4)
        for r in api.burstiness(ev, "user_id", "ts", ["ts_us", "event_id"]).collect()
    }
    want = {
        r["user_id"]: r["burstiness"]
        for r in SPECS["w20_burstiness"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1.5e-4, k


def test_pareto_facade_matches_q31(spark):
    orders = load_table(spark, SF_DIR, "orders")
    got = {
        r["tile"]: (r["n_keys"], r["revenue_cents"])
        for r in api.pareto_deciles(orders, "o_custkey", "o_totalprice").collect()
    }
    want = {
        r["decile"]: (r["n_customers"], r["revenue_cents"])
        for r in SPECS["q31_revenue_pareto"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_isotonic_facade_matches_ml6(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    got = {
        r["user_id"]: (r["n_blocks"], r4(r["fit_min"]), r4(r["fit_max"]))
        for r in api.isotonic_fit(
            ev, "user_id", ["ts_us", "event_id"], "value"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_blocks"], r["fit_min"], r["fit_max"])
        for r in SPECS["ml6_isotonic_fit"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bootstrap_facade_matches_a37(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["user_id"]: (r4(r["boot_lo"]), r4(r["boot_hi"]), r4(r["median_point"]))
        for r in api.bootstrap_median_ci(ev, "user_id", "value").collect()
    }
    want = {
        r["user_id"]: (r["boot_lo"], r["boot_hi"], r["median_point"])
        for r in SPECS["a37_bootstrap_median_ci"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_permutation_facade_matches_a38(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = api.permutation_test(
        ev, "event_id", "value", F.col("user_id") % 2 == 1
    ).collect()[0]
    want = SPECS["a38_permutation_test"].fn(spark, SF_DIR).collect()[0]
    assert got["n_perms"] == want["n_perms"]
    assert r4(got["obs_diff"]) == want["obs_diff"]
    assert got["n_extreme"] == want["n_extreme"]


def test_permutation_facade_degenerate_arm_reports_null(spark):
    """An all-False observed assignment has no defined statistic — the
    facade must report NULLs, never a spuriously significant p=0."""
    ev = load_table(spark, SF_DIR, "events")
    row = api.permutation_test(ev, "event_id", "value", F.lit(False)).collect()[0]
    assert row["obs_diff"] is None
    assert row["n_extreme"] is None
    assert row["p_value"] is None


def test_record_census_facade_matches_w17(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    got = {
        r["user_id"]: (r["n_rows"], r["n_records"], r["last_record_at"])
        for r in api.record_census(
            ev, "user_id", ["ts_us", "event_id"], "value"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["n_records"], r["last_record_ts_us"])
        for r in SPECS["w17_record_census"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_rolling_slope_facade_matches_w18(spark):
    import math

    r4 = lambda x: None if x is None else math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") / F.lit(3600000000)).cast("long").alias("hr"),
        "value",
    )
    # the facade reports natural value units (slope = quantized/scale);
    # w18 exports quantized 1e-4 units — convert before comparing
    got = {
        (r["user_id"], r["ts_us"]): (
            r["n_in_frame"],
            None if r["slope"] is None else r4(r["slope"] * 1e4),
        )
        for r in api.rolling_slope(
            ev, "user_id", ["ts_us", "event_id"],
            x_col="hr", y_col="value", frame_rows=7,
        ).collect()
    }
    want = {
        (r["user_id"], r["ts_us"]): (r["n_in_frame"], r["slope_per_hour"])
        for r in SPECS["w18_rolling_slope"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_ngram_novelty_facade_matches_l38(spark):
    out = api.ngram_novelty(_renamed(spark), "x_doc_id", "x_text", n=3)
    _assert_matches(spark, out, "l38_ngram_novelty")


def test_classification_report_facade_matches_ml8(spark):
    import math

    r4 = lambda x: None if x is None else math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    cm = SPECS["ml3_naive_bayes_langid"].fn(spark, SF_DIR)
    got = {
        r["label"]: (r["n_actual"], r["true_positives"],
                     r4(r["precision"]), r4(r["recall"]), r4(r["f1"]))
        for r in api.classification_report(
            cm, "actual", "predicted", "n_docs"
        ).collect()
    }
    want = {
        r["lang"]: (r["n_actual"], r["true_positives"],
                    r["precision"], r["recall"], r["f1"])
        for r in SPECS["ml8_classification_report"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bm25_facade_matches_l40(spark):
    from lightcurator_spark.operators.text_analysis import _BM25_QUERY_TERMS

    qt = spark.createDataFrame(_BM25_QUERY_TERMS, "query_id INT, term STRING")
    out = api.bm25_retrieve(_renamed(spark), "x_doc_id", "x_text", qt, k=5)
    _assert_matches(spark, out, "l40_bm25_retrieval")


def test_dsir_facade_matches_l41(spark):
    out = api.dsir_weights(
        _renamed(spark), "x_doc_id", "x_text", F.col("x_lang") == "en"
    )
    got = {r[0]: _r4(r[1]) for r in out.collect()}
    want = {
        r.doc_id: r.log_ir_weight
        for r in SPECS["l41_dsir_importance"].fn(spark, SF_DIR).collect()
    }
    assert got == want and want


def test_adamic_adar_facade_planted_square(spark):
    """4-cycle a-b-c-d-a: the two diagonals are the only non-adjacent
    pairs, each with 2 common neighbors of degree 2 →
    aa = 2/ln(2)."""
    import math

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "s long, d long"
    )
    rows = {
        (r["node_x"], r["node_y"]): (r["n_common"], r["aa_score"])
        for r in api.adamic_adar(e, "s", "d").collect()
    }
    exp = math.floor((2 * math.floor(1e8 / math.log(2) + 0.5)) / 1e4 + 0.5) / 1e4
    assert rows == {(1, 3): (2, exp), (2, 4): (2, exp)}


def test_freshness_facade_matches_dq7(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = {
        (r["event_type"], r["user_bucket"]): (
            r["n_events"],
            r["lag_us"],
            r["is_stale"],
        )
        for r in api.freshness_audit(
            ev.withColumn("user_bucket", F.col("user_id") % 100),
            "ts",
            "event_type",
            "user_bucket",
        ).collect()
    }
    want = {
        (r["event_type"], r["user_bucket"]): (
            r["n_events"],
            r["lag_us"],
            r["is_stale"],
        )
        for r in SPECS["dq7_freshness_audit"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bayesian_mean_facade_matches_a40(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "user_bucket", F.col("user_id") % 20
    )
    got = {
        (r["event_type"], r["user_bucket"]): (
            r["n"],
            r4(r["raw_mean"]),
            r4(r["shrunk_mean"]),
            r4(r["own_weight"]),
        )
        for r in api.bayesian_mean(
            ev, "value", "event_type", "user_bucket", prior_obs=50
        ).collect()
    }
    want = {
        (r["event_type"], r["user_bucket"]): (
            r["n_events"],
            r["raw_mean"],
            r["shrunk_mean"],
            r["own_weight"],
        )
        for r in SPECS["a40_bayesian_shrinkage"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_maintain_dedup_index_applies_feed(spark):
    """Synthetic feed: delete one row, insert two (one a duplicate
    text) — the maintained index must match the hand-computed state."""
    idx = spark.createDataFrame(
        [("a", 1), ("b", 2)], "fp string, id long"
    ).select(F.col("fp"), F.col("id"))
    # build real md5 fps so facade and fixture agree
    base = spark.createDataFrame(
        [(1, "xx"), (2, "yy")], "id long, text string"
    )
    idx = base.select(F.md5("text").alias("fp"), "id")
    feed = spark.createDataFrame(
        [(2, "yy", "delete"), (3, "zz", "insert"), (4, "xx", "insert")],
        "id long, text string, change_type string",
    )
    out = api.maintain_dedup_index(idx, feed, "id", "text")
    got = {(r["fp"], r["id"]) for r in out.collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got == {(md5("xx"), 1), (md5("zz"), 3), (md5("xx"), 4)}


def test_harmonic_centrality_facade_path_graph(spark):
    """Path 1-2-3-4: ends reach 3 nodes (1 + 1/2 + 1/3), middles reach
    3 within distance <= 2 (1 + 1 + 1/2)."""
    import math

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "s long, d long")
    got = {
        r["node"]: (r["n_reached"], r["harmonic"])
        for r in api.harmonic_centrality(e, "s", "d").collect()
    }
    u = lambda d: math.floor(1e8 / d + 0.5)  # noqa: E731
    end = math.floor((u(1) + u(2) + u(3)) / 1e4 + 0.5) / 1e4
    mid = math.floor((u(1) + u(1) + u(2)) / 1e4 + 0.5) / 1e4
    assert got == {1: (3, end), 4: (3, end), 2: (3, mid), 3: (3, mid)}


def test_mixture_weights_facade_matches_l43(spark):
    out = api.mixture_weights(_renamed(spark), "x_source", "x_text")
    _assert_matches(spark, out, "l43_temperature_mixture")


def test_odd_even_depth_facade_matches_d25(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r["event_type"]: (
            r["n_even"], r["n_odd"], r4(r["depth_even"]), r4(r["depth_odd"])
        )
        for r in api.odd_even_depth(
            ev, "event_type", "ts", "value", 86400000000
        ).collect()
    }
    want = {
        r["event_type"]: (r["n_even"], r["n_odd"], r["depth_even"], r["depth_odd"])
        for r in SPECS["d25_odd_even_depth"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_clustering_coefficient_facade_matches_g10(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    su = load_table(spark, SF_DIR, "supplier")
    und = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v"))
    )
    got = {
        r.node: (
            r.degree,
            r.n_triangles,
            None if r.clustering_coeff is None else r4(r.clustering_coeff),
        )
        for r in api.clustering_coefficient(und, "u", "v").collect()
    }
    want = {
        r.node: (r.degree, r.n_triangles, r.clustering_coeff)
        for r in SPECS["g10_clustering_coefficient"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_rolling_quantile_facade_matches_w22(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("event_type") == "purchase"
    )
    got = {
        r.event_id: r4(r.roll_q)
        for r in api.rolling_quantile(
            ev, ["user_id"], ["ts", "event_id"], "value", 9, 10
        ).collect()
    }
    want = {
        r.event_id: r.roll_p90
        for r in SPECS["w22_rolling_p90"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_effect_size_facade_matches_a41(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: (r.n0, r.n1, r4(r.cohens_d), r4(r.hedges_g))
        for r in api.effect_size(
            ev, "event_type", "value", F.col("user_id") % 2 == 1
        ).collect()
    }
    want = {
        r.event_type: (r.n0, r.n1, r.cohens_d, r.hedges_g)
        for r in SPECS["a41_effect_size_census"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_unit_level_permutation_facade_matches_a38b(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = api.unit_level_permutation_test(
        ev, "user_id", "value", F.col("user_id") % 2 == 1
    ).collect()[0]
    want = SPECS["a38b_permutation_user_level"].fn(spark, SF_DIR).collect()[0]
    assert got.n_perms == want.n_perms
    assert got.n_extreme == want.n_extreme
    assert r4(got.obs_diff) == want.obs_diff
    assert r4(got.p_value) == want.p_value


def test_rfm_scores_facade_matches_q32_census(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    o = load_table(spark, SF_DIR, "orders")
    scored = api.rfm_scores(o, "o_custkey", "o_orderdate", "o_totalprice")
    got = {
        (r.rfm_code, r.n_customers): r4(r.avg_monetary)
        for r in scored.groupBy("rfm_code")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("m_cents") / F.count(F.lit(1)) / 100.0).alias("avg_monetary"),
        )
        .collect()
    }
    want = {
        (r.rfm_code, r.n_customers): r.avg_monetary
        for r in SPECS["q32_rfm_segmentation"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_profile_drift_facade_matches_dq8(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    split = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    got = {
        r.col_name: (
            r.n_before,
            r.n_after,
            r.n_null_before,
            r.n_null_after,
            r.n_distinct_before,
            r.n_distinct_after,
            r4(r.null_rate_delta),
            None if r.distinct_ratio is None else r4(r.distinct_ratio),
            r.is_drifted,
        )
        for r in api.profile_drift(
            ev, split, ["value", "event_type", "user_id"]
        ).collect()
    }
    want = {
        r.col_name: (
            r.n_before,
            r.n_after,
            r.n_null_before,
            r.n_null_after,
            r.n_distinct_before,
            r.n_distinct_after,
            r.null_rate_delta,
            r.distinct_ratio,
            r.is_drifted,
        )
        for r in SPECS["dq8_profile_drift_audit"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_wilcoxon_facade_matches_a42(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    split = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    got = api.wilcoxon_signed_rank(ev, "user_id", "value", split).collect()[0]
    want = SPECS["a42_wilcoxon_signed_rank"].fn(spark, SF_DIR).collect()[0]
    assert (got.n, got.n_pos, got.n_neg, got.w_plus_doubled) == (
        want.n,
        want.n_pos,
        want.n_neg,
        want.w_plus_doubled,
    )
    assert r4(got.z_score) == want.z_score


def test_wilson_census_facade_matches_a43(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.segment: (r.n, r.k, r4(r.p_hat), r4(r.ci_lo), r4(r.ci_hi), r.excludes_global)
        for r in api.proportion_wilson_census(
            ev,
            (F.col("user_id") % 10).cast("long"),
            F.col("event_type") == "purchase",
        ).collect()
    }
    want = {
        r.bucket: (r.n, r.k, r.p_hat, r.ci_lo, r.ci_hi, r.excludes_global)
        for r in SPECS["a43_wilson_proportion_census"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_seasonal_strength_facade_matches_d27(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: (r.n, r.n_cells, r4(r.ss_total), r4(r.ss_within),
                       r4(r.seasonal_strength))
        for r in api.seasonal_strength(ev, "event_type", "ts", "value").collect()
    }
    want = {
        r.event_type: (r.n, r.n_cells, r.ss_total, r.ss_within,
                       r.seasonal_strength)
        for r in SPECS["d27_seasonal_strength"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bipartite_projection_facade_matches_g11(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    li = load_table(spark, SF_DIR, "lineitem")
    got = {
        (r.node_a, r.node_b): (r.n_shared, r4(r.cosine))
        for r in api.bipartite_projection(li, "l_partkey", "l_suppkey").collect()
    }
    want = {
        (r.supp_a, r.supp_b): (r.n_shared_parts, r.cosine)
        for r in SPECS["g11_cooccurrence_projection"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_g11_hybrid_tail_path_matches_kernel_path(spark):
    """r13 degree-aware hybrid: forcing every basket through the
    high-degree JOIN tail (deg_cap=1) must produce exactly the rows
    the NumPy kernel path produces (deg_cap high enough for all) —
    the two pair generators are interchangeable by construction."""
    from lightcurator_spark.operators.series_ext import (
        g11_cooccurrence_projection as g11,
    )

    all_kernel = {tuple(r) for r in g11(spark, SF_DIR, deg_cap=10**6).collect()}
    all_tail = {tuple(r) for r in g11(spark, SF_DIR, deg_cap=1).collect()}
    assert all_kernel == all_tail and len(all_kernel) > 0


def test_silhouette_facade_matches_ml10(spark):
    import math

    from lightcurator_spark.operators.similarity import _ml1_round2_cents

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    cents = _ml1_round2_cents(e)
    got = {
        r.cluster: (r.n, r4(r.mean_silhouette))
        for r in api.silhouette(e, "vec_id", "e", cents).collect()
    }
    want = {
        r.cluster: (r.n, r.mean_silhouette)
        for r in SPECS["ml10_silhouette"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_association_rules_facade_matches_q33(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    li = load_table(spark, SF_DIR, "lineitem")
    got = {
        (r.antecedent, r.consequent): (
            r.n_ab, r6(r.support), r4(r.confidence), r4(r.lift)
        )
        for r in api.association_rules(li, "l_orderkey", "l_partkey").collect()
    }
    want = {
        (r.antecedent, r.consequent): (r.n_ab, r.support, r.confidence, r.lift)
        for r in SPECS["q33_association_rules"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_rolling_zscore_facade_matches_w23(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    got = {
        r.user_id: (r.n_scored, r.n_anomalies, r4(r.max_abs_z))
        for r in api.rolling_zscore_census(
            ev, ["user_id"], ["ts_us", "event_id"], "value"
        ).collect()
    }
    want = {
        r.user_id: (r.n_scored, r.n_anomalies, r.max_abs_z)
        for r in SPECS["w23_rolling_zscore_census"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_burst_census_facade_matches_d28(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    got = {
        r.user_id: (r.n_flagged, r.n_bursts, r.longest_burst)
        for r in api.burst_census(
            ev, "user_id", ["ts_us", "event_id"], "value"
        ).collect()
    }
    want = {
        r.user_id: (r.n_flagged, r.n_bursts, r.longest_burst)
        for r in SPECS["d28_burst_census"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_roc_auc_facade_matches_ml11(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.segment: (r.n_pos, r.n_neg, r4(r.auc), r4(r.gini))
        for r in api.roc_auc(
            ev,
            "value",
            F.col("event_type") == "purchase",
            (F.col("user_id") % 10).cast("long"),
        ).collect()
    }
    want = {
        r.bucket: (r.n_pos, r.n_neg, r.auc, r.gini)
        for r in SPECS["ml11_roc_auc"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_brown_forsythe_facade_matches_a44(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = api.brown_forsythe(ev, "event_type", "value").collect()[0]
    want = SPECS["a44_brown_forsythe"].fn(spark, SF_DIR).collect()[0]
    assert (got.n_groups, got.n_rows) == (want.n_groups, want.n_rows)
    # the facade runs on raw doubles, the operator on 1e-4-quantized
    # integers — agreement is to the quantization grain, not bitwise
    assert abs(got.bf_stat - want.bf_stat) / want.bf_stat < 1e-3


def test_grouped_ols_facade_matches_ml15(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    got = {
        r.group: (r.n, r.slope, r.intercept)
        for r in api.grouped_ols(ev, "event_type", "hr", "value").collect()
    }
    want = {
        r.segment: (r.n, r.slope, r.intercept)
        for r in SPECS["ml15_grouped_ols_census"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k, (n, slope, intercept) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - slope) < 2e-4, (k, got[k], slope)
        assert abs(got[k][2] - intercept) < 2e-4, (k, got[k], intercept)


def test_calibration_report_facade_matches_ml14(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").select(
        (
            F.conv(
                F.substring(
                    F.md5(F.col("event_id").cast("string").cast("binary")), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 10000
            / F.lit(10000.0)
        ).alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    got = {
        r.bin: (r.n, r4(r.confidence), r4(r.accuracy), r4(r.gap), r4(r.ece))
        for r in api.calibration_report(ev, "score", "y").collect()
    }
    want = {
        r.bin: (r.n, r.conf, r.acc, r.gap, r.ece)
        for r in SPECS["ml14_calibration_ece"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        for g, w in zip(got[k][1:], want[k][1:]):
            assert abs(g - w) < 2e-4, (k, got[k], want[k])


def test_candidate_keys_facade_matches_dq9(spark):
    cust = load_table(spark, SF_DIR, "customer")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    got = {
        r.column_id: (r.n_rows, r.n_distinct, r.n_null, r.is_candidate_key)
        for r in api.candidate_keys(cust, cols).collect()
    }
    want = {
        r.column_id.split(".", 1)[1]: (
            r.n_rows,
            r.n_distinct,
            r.n_null,
            r.is_candidate_key,
        )
        for r in SPECS["dq9_candidate_key_discovery"].fn(spark, SF_DIR).collect()
        if r.column_id.startswith("customer.")
    }
    assert got == want


def test_candidate_keys_census_matches_count_distinct_on_every_type(spark):
    """The census's (bigint, string) value encoding is injective per
    column: on doubles (-0.0 and 0.0 and NaN), timestamps, dates,
    binary, booleans and decimals, and under a column name that needs
    quoting, its distinct and null counts equal Spark's own
    ``count(DISTINCT)`` and null count. A nested column is refused."""
    import datetime as dt
    import decimal

    import pytest

    rows = [
        (0.0, dt.datetime(2024, 1, 1, 1, 30), dt.date(2024, 1, 1), b"\x00", True, decimal.Decimal("1.10"), "a"),
        (-0.0, dt.datetime(2024, 1, 1, 1, 30), dt.date(2024, 1, 2), b"\xff", False, decimal.Decimal("1.1"), "a"),
        (float("nan"), dt.datetime(2024, 1, 2), None, b"\x00", None, decimal.Decimal("2.00"), "it's"),
        (float("nan"), None, dt.date(2024, 1, 1), None, True, None, None),
        (None, dt.datetime(2024, 1, 2), dt.date(2024, 1, 3), b"", False, decimal.Decimal("2"), "b"),
    ]
    df = spark.createDataFrame(
        rows,
        "x double, ts timestamp, d date, bin binary, flag boolean, "
        "amt decimal(10,2), `we'ird``name` string",
    )
    cols = df.columns
    got = {
        r.column_id: (r.n_rows, r.n_distinct, r.n_null)
        for r in api.candidate_keys(df, cols).collect()
    }
    ref = df.agg(
        *[F.count_distinct(F.col(f"`{c.replace('`', '``')}`")) for c in cols],
        *[F.count(F.when(F.col(f"`{c.replace('`', '``')}`").isNull(), 1)) for c in cols],
    ).first()
    want = {c: (5, ref[i], ref[len(cols) + i]) for i, c in enumerate(cols)}
    assert got == want
    with pytest.raises(TypeError, match="atomic"):
        api.candidate_keys(df.selectExpr("array(x) AS v"), ["v"])


def test_dedup_impact_facade_matches_l44(spark):
    out = api.dedup_impact(_renamed(spark), "x_source", "x_text", "x_doc_id")
    _assert_matches(spark, out, "l44_dedup_impact_report")


def test_personalized_pagerank_facade_against_numpy(spark):
    """4-node synthetic graph with one dangling node and one seed:
    the facade must match the straightforward dense-matrix PPR."""
    import numpy as np

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], ["src", "dst"]
    )  # node 3 is dangling
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {
        r.node: r.rank
        for r in api.personalized_pagerank(
            edges, seeds, iterations=5
        ).collect()
    }
    # dense reference: teleport AND dangling mass return to seed 0
    d = 0.85
    out = {0: [1], 1: [2], 2: [0, 3], 3: []}
    r = np.array([1.0, 0.0, 0.0, 0.0])
    for _ in range(5):
        nxt = np.zeros(4)
        dangling = 0.0
        for u in range(4):
            if out[u]:
                for v in out[u]:
                    nxt[v] += r[u] / len(out[u])
            else:
                dangling += r[u]
        r = d * nxt
        r[0] += (1 - d) + d * dangling
    for u in range(4):
        assert abs(got[u] - r[u]) < 1e-12, (u, got[u], r[u])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_oc_residuals_facade_matches_d29(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 50)
    got = {
        r.key: (r.n_obs, r.n_cycles, r4(r.slope_us_per_cycle), r4(r.oc_rms_us))
        for r in api.oc_residuals(ev, "user_id", "ts", 86_400_000_000).collect()
    }
    want = {
        r.user_id: (r.n_obs, r.n_cycles, r.slope_us_per_cycle, r.oc_rms_us)
        for r in SPECS["d29_oc_timing_residuals"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_kruskal_wallis_facade_matches_a45(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = api.kruskal_wallis(ev, "event_type", "value").collect()[0]
    want = SPECS["a45_kruskal_wallis"].fn(spark, SF_DIR).collect()[0]
    assert (got.n_groups, got.n_rows) == (want.n_groups, want.n_rows)
    # facade ranks raw doubles, operator ranks 1e-4-quantized integers;
    # the grain is finer than any distinct gap here so ranks coincide
    assert abs(got.h_adj - want.h_adj) < 1e-2
    assert abs(got.tie_correction - want.tie_correction) < 1e-6


def test_average_precision_facade_matches_ml16(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.segment: (r.n_pos, r.n_neg, r4(r.avg_precision))
        for r in api.average_precision(
            ev,
            "value",
            F.col("event_type") == "purchase",
            (F.col("user_id") % 10).cast("long"),
        ).collect()
    }
    want = {
        r.bucket: (r.n_pos, r.n_neg, r.avg_precision)
        for r in SPECS["ml16_average_precision"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2]
        # facade sums float block terms, operator sums integer
        # 1e-8-unit terms — agreement to the quantization grain
        assert abs(got[k][2] - want[k][2]) <= 2e-4


def test_reconciliation_report_facade_matches_dq10(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    amount = (
        F.col("l_extendedprice")
        * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount"))
    )
    got = {
        r.group: (r.n_headers, r.n_no_detail, r.n_mismatch)
        for r in api.reconciliation_report(
            o,
            li,
            "o_orderkey",
            "l_orderkey",
            "o_totalprice",
            amount,
            group=F.col("o_orderstatus"),
            tolerance=0.01,
        ).collect()
    }
    want = {
        r.status: (r.n_orders, r.n_no_detail, r.n_mismatch)
        for r in SPECS["dq10_order_reconciliation"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_average_precision_perfect_and_inverted(spark):
    # a scorer that ranks all positives first has AP 1.0; one that
    # ranks them all last has AP = n_pos-weighted tail precision
    rows = [(float(i), 1 if i >= 5 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "score double, y int")
    perfect = api.average_precision(df, "score", F.col("y") == 1).collect()[0]
    assert perfect.avg_precision == 1.0
    inv = api.average_precision(
        df.select((-F.col("score")).alias("score"), "y"),
        "score",
        F.col("y") == 1,
    ).collect()[0]
    # positives occupy ranks 6..10: AP = mean(i/(5+i) for i in 1..5)
    exp = sum(i / (5 + i) for i in range(1, 6)) / 5
    assert abs(inv.avg_precision - exp) < 1e-12


def test_kruskal_wallis_shift_detects_location(spark):
    # two clearly shifted groups -> large H; identical groups -> H ~ 0
    rows = [("a", float(i % 7)) for i in range(200)] + [
        ("b", float(i % 7) + 50.0) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    h = api.kruskal_wallis(df, "g", "v").collect()[0]
    assert h.h_adj > 250  # near the N-1 ceiling for a clean split
    same = spark.createDataFrame(
        [("a", float(i % 7)) for i in range(200)]
        + [("b", float(i % 7)) for i in range(200)],
        "g string, v double",
    )
    h0 = api.kruskal_wallis(same, "g", "v").collect()[0]
    assert abs(h0.h_adj) < 1.0


def test_source_jsd_facade_matches_l47(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = {
        (r.group_a, r.group_b): (r.n_union_tokens, r.jsd)
        for r in api.source_jsd(docs, "source", "text").collect()
    }
    want = {
        (r.source_a, r.source_b): (r.n_union_tokens, r.jsd)
        for r in SPECS["l47_source_jsd"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        # facade sums float log terms, operator integer micro-units
        assert abs(got[k][1] - want[k][1]) < 1e-3


def test_source_jsd_properties(spark):
    # identical groups -> jsd ~ 0; disjoint vocabularies -> near ln 2
    import math

    same = spark.createDataFrame(
        [("a", "x y z x"), ("b", "x y z x")], "g string, t string"
    )
    r = api.source_jsd(same, "g", "t").collect()[0]
    assert abs(r.jsd) < 1e-9
    disj = spark.createDataFrame(
        [("a", " ".join(["x"] * 200)), ("b", " ".join(["y"] * 200))],
        "g string, t string",
    )
    r2 = api.source_jsd(disj, "g", "t").collect()[0]
    assert r2.jsd > 0.8 * math.log(2)
    # symmetric in the pair by construction: kl_pm vs kl_qm swap
    assert abs(r2.kl_pm - r2.kl_qm) < 1e-6


def test_cluster_safe_split_no_straddle(spark):
    rows = [(i, i % 17) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, cluster long")
    out = api.cluster_safe_split(df, "doc_id", "cluster")
    straddle = (
        out.groupBy("cluster")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddle == 0
    # deterministic: re-running yields identical assignment
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in api.cluster_safe_split(
        df, "doc_id", "cluster"
    ).collect()}
    assert a == b
    # weights steer the allocation: all-train when val/test get 0
    allt = api.cluster_safe_split(df, "doc_id", "cluster", (1, 0, 0))
    assert allt.filter(F.col("split") != "train").count() == 0


def test_seasonal_naive_backtest_facade_matches_d30(spark):
    ev = load_table(spark, SF_DIR, "events").filter(
        F.col("value").isNotNull()
    )
    cells = ev.groupBy(
        F.col("event_type").alias("g"),
        F.expr("unix_timestamp(ts) div 3600").alias("h"),
    ).agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("y"))
    got = {
        r.key: (r.n_train, r.n_holdout, r.mase)
        for r in api.seasonal_naive_backtest(cells, "g", "h", "y").collect()
    }
    want = {
        r.event_type: (r.n_train, r.n_holdout, r.mase)
        for r in SPECS["d30_seasonal_naive_mase"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2]
        assert abs(got[k][2] - want[k][2]) < 1e-3


def test_seasonal_naive_perfect_forecast(spark):
    # an exactly periodic series has zero holdout error -> mase 0
    rows = [(1, h, float(h % 24)) for h in range(24 * 10)] + [
        # a second key with one train-period glitch so its
        # denominator is nonzero while holdout stays clean
        (2, h, float(h % 24) + (10.0 if h == 30 else 0.0))
        for h in range(24 * 10)
    ]
    df = spark.createDataFrame(rows, "k int, h long, y double")
    out = {r.key: r for r in api.seasonal_naive_backtest(
        df, "k", "h", "y"
    ).collect()}
    # key 1 is perfectly periodic: zero train error -> dropped
    assert 1 not in out
    assert out[2].mase == 0.0
    assert out[2].mae_holdout == 0.0


def test_link_prediction_scores_on_known_graph(spark):
    # path graph 1-2-3-4 plus edge 1-3: candidates and scores are
    # hand-checkable
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    out = {
        (r.node_x, r.node_y): (r.n_common, r.jaccard, r.pref_attach)
        for r in api.link_prediction_scores(edges).collect()
    }
    # non-edges with a common neighbor: (1,4) via 3, (2,4) via 3
    assert set(out) == {(1, 4), (2, 4)}
    # deg: 1->2, 2->2, 3->3, 4->1
    assert out[(1, 4)] == (1, 1 / (2 + 1 - 1), 2 * 1)
    assert out[(2, 4)] == (1, 1 / (2 + 1 - 1), 2 * 1)


def test_link_prediction_facade_matches_g13_on_trade_graph(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    want = {
        (r.node_x, r.node_y): (r.n_common, r.jaccard, r.pref_attach)
        for r in SPECS["g13_link_prediction_census"].fn(spark, SF_DIR).collect()
    }
    # rebuild the same mutual-6NN edge list the operator uses, via g8's
    # construction pieces, then score through the generic facade
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    su = load_table(spark, SF_DIR, "supplier")
    from pyspark.sql.window import Window as W

    weighted = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    symw = weighted.select(
        F.col("a").alias("x"), F.col("b").alias("y"), "w"
    ).unionAll(
        weighted.select(F.col("b").alias("x"), F.col("a").alias("y"), "w")
    )
    rk = symw.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("x").orderBy(F.col("w").desc(), "y")),
    ).filter(F.col("rn") <= 6)
    r1 = rk.select(F.col("x").alias("a"), F.col("y").alias("b"))
    r2 = rk.select(F.col("y").alias("a2"), F.col("x").alias("b2"))
    e = r1.join(
        r2, (r1.a == F.col("a2")) & (r1.b == F.col("b2")), "left_semi"
    ).filter(F.col("a") < F.col("b"))
    got = {
        (r.node_x, r.node_y): (r.n_common, r4(r.jaccard), r.pref_attach)
        for r in api.link_prediction_scores(e, "a", "b").collect()
    }
    assert {k: (v[0], v[2]) for k, v in got.items()} == {
        k: (v[0], v[2]) for k, v in want.items()
    }
    for k in want:
        assert abs(got[k][1] - want[k][1]) <= 1e-4


def test_rolling_moments_facade_matches_w25(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id", "event_id",
        # feed the facade the same cent-quantized values the operator
        # uses so only float-vs-integer accumulation differs
        (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("u"),
    )
    got = {
        (r.user_id, r.event_id): (r.n, r.roll_skew, r.roll_kurt)
        for r in api.rolling_moments(ev, "user_id", "event_id", "u").collect()
    }
    want = {
        (r.user_id, r.event_id): (r.n, r.roll_skew, r.roll_kurt)
        for r in SPECS["w25_rolling_moments"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-3
        assert abs(got[k][2] - want[k][2]) < 1e-3


def test_rolling_moments_shape_signals(spark):
    # a frame ending in one huge spike is right-skewed & leptokurtic
    rows = [(1, i, 1.0 + (100.0 if i == 30 else 0.0)) for i in range(31)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    out = {r.t: r for r in api.rolling_moments(df, "k", "t", "v").collect()}
    assert out[30].roll_skew > 3.0
    assert out[30].roll_kurt > 10.0
    # a symmetric two-sided frame has ~zero skew
    sym = [(1, i, float((-1) ** i)) for i in range(40)]
    df2 = spark.createDataFrame(sym, "k int, t int, v double")
    out2 = api.rolling_moments(df2, "k", "t", "v").collect()
    # full 20-row frames hold 10 of each value: exactly zero skew
    # (odd-length partial frames are legitimately skewed)
    assert all(abs(r.roll_skew) < 1e-9 for r in out2 if r.n == 20)


def test_bpe_merge_table_matches_l46(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = api.bpe_merge_table(docs, "text", rounds=3)
    want = [
        (r.round, r.pair, r.n_occurrences, r.vocab_after)
        for r in SPECS["l46_bpe_merge_rounds"].fn(spark, SF_DIR).collect()
    ]
    assert got == sorted(want)


def test_bpe_merge_conserves_symbol_mass(spark):
    # each merge of n occurrences removes exactly n symbols from the
    # corpus-weighted symbol count (two symbols become one)
    docs = load_table(spark, SF_DIR, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total0 = wf.select(
        F.sum(F.length("w") * F.col("cnt")).alias("t")
    ).collect()[0]["t"]  # chars == initial symbols
    merges = api.bpe_merge_table(docs, "text", rounds=3)
    # replay the merges in plain python on the word table
    words = {r.w: r.cnt for r in wf.collect()}
    seqs = {tuple(w): c for w, c in words.items()}
    total = total0
    for rnd, pair, n, vocab in merges:
        a, b = pair.split(" ")
        assert a != b  # merged==n below relies on disjoint occurrences
        new = {}
        merged = 0
        for s, c in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    merged += c
                else:
                    out.append(s[i])
                    i += 1
            key = tuple(out)
            new[key] = new.get(key, 0) + c
        seqs = new
        assert merged == n, (rnd, pair, merged, n)
        total -= n
        assert len({sym for s in seqs for sym in s}) == vocab
    assert total == total0 - sum(m[2] for m in merges)


def test_bpe_overlapping_chain_merges_leftmost(spark):
    # 'ababab' -> pair (a,b) occurs 3x, all merged leftmost
    df = spark.createDataFrame([("ababab ababab",)], "t string")
    out = api.bpe_merge_table(df, "t", rounds=1)
    assert out[0][1] == "a b" and out[0][2] == 6
    # 'aaa' chain: n_occurrences is the PAIR FREQUENCY at selection
    # time (overlap-inclusive for a == b, the standard BPE statistic:
    # 2 pairs/word x 3 words), while the leftmost rewrite merges only
    # floor(len/2)=1 per word -> vocab gains 'aa' and keeps 'a'
    df2 = spark.createDataFrame([("aaa aaa aaa",)], "t string")
    out2 = api.bpe_merge_table(df2, "t", rounds=1)
    assert out2[0][1] == "a a" and out2[0][2] == 6
    assert out2[0][3] == 2  # symbols now {'aa', 'a'}


def test_chi2_feature_selection_facade_matches_ml17(spark):
    out = api.chi2_feature_selection(_renamed(spark), "x_doc_id", "x_text", "x_lang")
    _assert_matches(spark, out, "ml17_chi2_feature_selection")


def test_chi2_feature_selection_discriminative_token(spark):
    # token 'x' appears only in class a -> huge chi2; 'z' is uniform
    rows = [(i, "x z", "a") for i in range(50)] + [
        (50 + i, "y z", "b") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, t string, c string")
    out = {
        (r.token, getattr(r, "class")): r.chi2
        for r in api.chi2_feature_selection(df, "id", "t", "c").collect()
    }
    # perfect association: chi2 == N
    assert out[("x", "a")] == 100.0
    # 'z' in every doc is a degenerate margin -> excluded
    assert ("z", "a") not in out


def test_anderson_darling_facade_matches_a46(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.segment: (r.n_before, r.n_after, r4(r.ad_stat))
        for r in api.anderson_darling_drift(
            ev,
            "value",
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
            F.col("event_type"),
        ).collect()
    }
    want = {
        r.event_type: (r.n_before, r.n_after, r.ad_stat)
        for r in SPECS["a46_anderson_darling_drift"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2]
        # facade sums float terms, operator integer 1e-8 units
        assert abs(got[k][2] - want[k][2]) < 1e-3


def test_anderson_darling_detects_tail_shift(spark):
    import random

    rng = random.Random(7)
    # same median, fatter tail after: KS small, AD large-ish
    before = [(i, rng.gauss(0, 1), True) for i in range(2000)]
    after = [
        (i, rng.gauss(0, 1) * (6 if rng.random() < 0.15 else 1), False)
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        before + after, "id long, value double, b boolean"
    )
    ad = api.anderson_darling_drift(df, "value", F.col("b")).collect()[0]
    same = api.anderson_darling_drift(
        spark.createDataFrame(before, "id long, value double, b boolean")
        .withColumn("b", F.col("id") % 2 == 0),
        "value",
        F.col("b"),
    ).collect()[0]
    # a planted 15% tail inflation must dominate the null split
    assert ad.ad_stat > 4 * max(same.ad_stat, 1.0)
    assert same.ad_stat < 1.5  # null split stays near E[A^2] ~ 1


def test_embedding_outlier_facade_matches_l49(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    e = load_table(spark, SF_DIR, "embeddings")
    got = {
        r.id: r4(r.znorm)
        for r in api.embedding_outlier_scores(e, "vec_id", "embedding").collect()
    }
    want = {
        r.vec_id: r.znorm
        for r in SPECS["l49_embedding_outlier_score"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_embedding_outlier_flags_planted_garbage(spark):
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(400)]
    rows.append((400, [50.0] * 16))  # scale blowup
    rows.append((401, [0.0] * 16))  # zeroed row (legal, near-mean)
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = {r.id: r.znorm for r in api.embedding_outlier_scores(df, "id", "v").collect()}
    normal = [v for k, v in out.items() if k < 400]
    assert max(normal) < 2.5
    assert out[400] > 10 * max(normal)
    assert out[401] < 1.0  # zeros sit near the mean, not an outlier here
    # constant dimension is excluded, not a crash
    df2 = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(50)], "id long, v array<double>"
    )
    out2 = api.embedding_outlier_scores(df2, "id", "v").collect()
    assert all(r.k == 1 for r in out2)


def test_mcnemar_facade_matches_a47(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    is_p = F.col("event_type") == "purchase"
    got = api.mcnemar_test(
        ev.withColumn("d", F.col("ts").cast("date")),
        ["user_id", "d"],
        is_p & (F.hour("ts") < 12),
        is_p & (F.hour("ts") >= 12),
    ).collect()[0]
    want = SPECS["a47_mcnemar_paired"].fn(spark, SF_DIR).collect()[0]
    assert (got.n_pairs, got.n_both, got.n_a_only, got.n_b_only) == (
        want.n_pairs,
        want.n_both,
        want.n_morning_only,
        want.n_evening_only,
    )
    assert r4(got.mcnemar_chi2) == want.mcnemar_chi2


def test_mcnemar_known_cells(spark):
    # b=30, c=10 -> chi2 = 400/40 = 10; cc = (20-1)^2/40 = 9.025
    rows = (
        [(i, 1, 1) for i in range(60)]
        + [(100 + i, 1, 0) for i in range(30)]
        + [(200 + i, 0, 1) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "u long, fa int, fb int")
    r = api.mcnemar_test(
        df, ["u"], F.col("fa") == 1, F.col("fb") == 1
    ).collect()[0]
    assert (r.n_a_only, r.n_b_only) == (30, 10)
    assert abs(r.mcnemar_chi2 - 10.0) < 1e-12
    assert abs(r.mcnemar_chi2_cc - 9.025) < 1e-12
    # all-concordant -> zero rows, not NaN
    same = spark.createDataFrame([(1, 1, 1), (2, 0, 0)], "u long, fa int, fb int")
    assert api.mcnemar_test(same, ["u"], F.col("fa") == 1, F.col("fb") == 1).count() == 0


def test_double_fire_facade_matches_dq11(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.segment: (r.n_events, r.n_suspect, r4(r.suspect_rate))
        for r in api.double_fire_audit(
            ev,
            "event_id",
            ["user_id", "event_type"],
            "ts",
            60,
            F.col("event_type"),
        ).collect()
    }
    want = {
        r.event_type: (r.n_events, r.n_suspect, r.suspect_rate)
        for r in SPECS["dq11_double_fire_audit"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_double_fire_catches_boundary_straddle(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 59)
    t1 = datetime.datetime(2024, 1, 1, 0, 1, 1)  # next bucket, 2 s later
    far = datetime.datetime(2024, 1, 1, 0, 5, 0)
    df = spark.createDataFrame(
        [(1, 7, "a", t0), (2, 7, "a", t1), (3, 7, "a", far), (4, 8, "a", t1)],
        "id long, u long, k string, ts timestamp",
    )
    out = api.double_fire_audit(df, "id", ["u", "k"], "ts", 60).collect()[0]
    # only event 2 is a suspect: same keys 2 s after event 1 across the
    # minute boundary; events 3 (minutes away) and 4 (other user) are not
    assert (out.n_events, out.n_suspect) == (4, 1)


def test_runs_test_facade_matches_a48(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    # (user, ts) is unique in this corpus (checked), so ordering by
    # ts alone matches the operator's (ts, event_id) tiebreak order
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "o", F.unix_micros("ts")
    )
    got = {
        r.key: (r.n, r.runs, r4(r.z))
        for r in api.runs_test(ev, "user_id", "o", "value").collect()
    }
    want = {
        r.user_id: (r.n, r.runs, r.z)
        for r in SPECS["a48_runs_test"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        # facade medians raw doubles (type-7), operator cent-quantized
        # doubled integers — sign sets can differ only at exact-median
        # points, absent at this grain
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert abs(got[k][2] - want[k][2]) < 1e-3


def test_runs_test_detects_structure(spark):
    # strict alternation -> maximal runs, large positive z;
    # sorted halves -> 2 runs, strongly negative z
    alt = [(1, i, float(i % 2)) for i in range(100)]
    srt = [(2, i, 0.0 if i < 50 else 1.0) for i in range(100)]
    df = spark.createDataFrame(alt + srt, "k int, o int, v double")
    out = {r.key: r for r in api.runs_test(df, "k", "o", "v").collect()}
    assert out[1].runs == 100 and out[1].z > 9
    assert out[2].runs == 2 and out[2].z < -9


def test_dedup_agreement_facade_matches_l50(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    tp = SPECS["l2_shingle_jaccard"].fn(spark, SF_DIR).select(
        "doc_a", "doc_b", F.col("jaccard").alias("score_a")
    )
    ep = SPECS["l5_similarity_selfjoin"].fn(spark, SF_DIR).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("cos_sim").alias("score_b"),
    )
    got = {
        r.agreement: r.n_pairs
        for r in api.dedup_agreement(tp, ep).collect()
    }
    want = {
        r.agreement.replace("text_only", "a_only").replace(
            "embedding_only", "b_only"
        ): r.n_pairs
        for r in SPECS["l50_cross_modal_dedup_agreement"].fn(
            spark, SF_DIR
        ).collect()
    }
    # l50 uses tau=0.45 on the cosine leg like l5; counts line up
    assert got == want


def test_gains_table_facade_matches_ml18(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.bucket: (r.n, r.n_pos, r4(r.cum_capture), r4(r.cum_lift))
        for r in api.gains_table(
            ev, "value", F.col("event_type") == "purchase"
        ).collect()
    }
    want = {
        r.decile: (r.n, r.n_pos, r.cum_capture, r.cum_lift)
        for r in SPECS["ml18_gains_table"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_gains_table_perfect_scorer(spark):
    # positives all carry the top scores: decile 0 captures 100%
    rows = [(float(i), 1 if i >= 90 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r.bucket: r for r in api.gains_table(df, "s", F.col("y") == 1).collect()}
    assert out[0].cum_capture == 1.0
    assert abs(out[0].cum_lift - 10.0) < 1e-12
    assert out[9].cum_capture == 1.0 and abs(out[9].cum_lift - 1.0) < 1e-12
    # buckets partition the population
    assert sum(r.n for r in out.values()) == 100


def test_cohens_kappa_facade_matches_ml19(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    docs = load_table(spark, SF_DIR, "documents")
    pred = api.lang_id(docs, "doc_id", "text")
    j = docs.select("doc_id", "lang").join(
        pred.select("doc_id", "lang_pred"), "doc_id"
    )
    got = api.cohens_kappa(j, F.col("lang"), F.col("lang_pred")).collect()[0]
    want = SPECS["ml19_cohens_kappa"].fn(spark, SF_DIR).collect()[0]
    assert (got.n, got.n_agree) == (want.n_docs, want.n_agree)
    assert r4(got.kappa) == want.kappa


def test_cohens_kappa_bounds(spark):
    # perfect agreement -> kappa 1; independent raters -> kappa ~ 0
    rows = [(i, str(i % 3), str(i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "i long, a string, b string")
    assert api.cohens_kappa(df, F.col("a"), F.col("b")).collect()[0].kappa == 1.0
    ind = [(i, str(i % 3), str((i // 3) % 3)) for i in range(90)]
    df2 = spark.createDataFrame(ind, "i long, a string, b string")
    k = api.cohens_kappa(df2, F.col("a"), F.col("b")).collect()[0].kappa
    assert abs(k) < 0.05
    # single shared category on both sides -> pe == 1 -> zero rows
    deg = spark.createDataFrame([(1, "x", "x")], "i long, a string, b string")
    assert api.cohens_kappa(deg, F.col("a"), F.col("b")).count() == 0


def test_diversity_sample_facade_matches_p11(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    got = {
        (r.cluster, r.id, r.rn)
        for r in api.diversity_sample(e, "vec_id", "embedding").collect()
    }
    want = {
        (r.cluster, r.vec_id, r.rn)
        for r in SPECS["p11_cluster_stratified_sample"].fn(
            spark, SF_DIR
        ).collect()
    }
    assert got == want


def test_diversity_sample_covers_all_clusters(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    out = api.diversity_sample(e, "vec_id", "embedding", 8, 3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r.rn)
    # every surviving cluster contributes exactly min(3, |cluster|)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_cluster.values())
    assert all(len(v) <= 3 for v in by_cluster.values())
    assert len(by_cluster) >= 2  # the space is actually stratified
    # deterministic across invocations
    again = {
        (r.cluster, r.id, r.rn)
        for r in api.diversity_sample(e, "vec_id", "embedding", 8, 3).collect()
    }
    assert again == {(r.cluster, r.id, r.rn) for r in out}


def test_ndcg_facade_matches_ml20(spark):
    import math

    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    ranked = SPECS["l40_bm25_retrieval"].fn(spark, SF_DIR)
    from lightcurator_spark.operators.text_analysis import _BM25_QUERY_TERMS

    qt = spark.createDataFrame(_BM25_QUERY_TERMS, "query_id int, term string")
    dt = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    rel = (
        dt.join(qt, dt.token == qt.term)
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("rel"))
    )
    got = {
        r.query: r4(r.ndcg)
        for r in api.ndcg_at_k(ranked, rel, k=5).collect()
    }
    want = {
        r.query_id: r.ndcg_at_5
        for r in SPECS["ml20_ndcg_at_k"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for q in want:
        # facade uses float discounts, operator pinned integer units
        assert abs(got[q] - want[q]) < 1e-3


def test_ndcg_perfect_and_inverted_ranking(spark):
    rel = spark.createDataFrame(
        [(1, d, 3 - d) for d in range(3)], "query_id int, doc_id int, rel int"
    )
    perfect = spark.createDataFrame(
        [(1, d, d + 1) for d in range(3)], "query_id int, doc_id int, rn int"
    )
    assert api.ndcg_at_k(perfect, rel, k=3).collect()[0].ndcg == 1.0
    inverted = spark.createDataFrame(
        [(1, d, 3 - d) for d in range(3)], "query_id int, doc_id int, rn int"
    )
    nd = api.ndcg_at_k(inverted, rel, k=3).collect()[0].ndcg
    assert 0 < nd < 1


def test_ivf_knn_facade_recall_and_exact_scores(spark):
    """api.ivf_knn (two-level IVF ANN over caller DataFrames): every
    returned pair that the exact api.knn also returns must carry the
    identical raw score, recall vs exact must hold the l4d/l4f floor
    (0.5 — measured 0.66+ at 8-of-32 on this weakly-clustered
    corpus), and the output contract matches knn's."""
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r.vec_id, r.neighbor_id): r.cos_sim
        for r in api.knn(
            e, q, "embedding", k=5, corpus_id="vec_id", query_id="vec_id",
            exclude_self=True,
        ).collect()
    }
    approx = api.ivf_knn(
        e, q, "embedding", k=5, n_cells=32, probes=8,
        corpus_id="vec_id", query_id="vec_id", exclude_self=True,
    ).collect()
    assert approx and {c for c in approx[0].asDict()} == {
        "vec_id", "neighbor_id", "cos_sim", "rank",
    }
    for r in approx:
        key = (r.vec_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cos_sim) < 1e-9
    recall = sum(
        1 for r in approx if (r.vec_id, r.neighbor_id) in exact
    ) / len(exact)
    assert recall >= 0.5, f"ivf_knn recall {recall:.2f} < 0.5"


def test_ivf_knn_tiny_corpus_clamps_cells(spark):
    """r10 ADVICE fix: a corpus smaller than n_cells used to crash the
    quantizer (rng.choice replace=False with k > len(X), an opaque
    numpy ValueError through api.ivf_knn's default n_cells=32); the
    correct degenerate quantizer clamps k to the corpus size."""
    from lightcurator_spark.operators.analytics_ext import (
        sampled_centers_from_df,
    )

    corpus = (
        load_table(spark, SF_DIR, "embeddings").limit(5).cache()
    )
    centers = sampled_centers_from_df(corpus, "embedding", 32)
    assert len(centers) == 5
    got = api.ivf_knn(
        corpus,
        corpus.limit(2),
        "embedding",
        k=3,
        n_cells=32,
        probes=8,
        corpus_id="vec_id",
        query_id="vec_id",
    )
    rows = got.collect()
    assert rows, "tiny-corpus ivf_knn must return neighbors, not crash"
    assert {r["rank"] for r in rows} <= {1, 2, 3}
    # the single-vector degenerate case trains a one-cell quantizer
    one = sampled_centers_from_df(corpus.limit(1), "embedding", 8)
    assert len(one) == 1
    import pytest

    with pytest.raises(ValueError, match="empty"):
        sampled_centers_from_df(corpus.filter("vec_id < 0"), "embedding", 4)


def test_graph_knn_facade_recall_and_exact_scores(spark):
    """api.graph_knn (NSW graph ANN over caller DataFrames): every
    returned score must equal the exact facade's for that pair, and
    recall vs api.knn must clear the graph family's floor."""
    corpus = load_table(spark, SF_DIR, "embeddings")
    queries = corpus.filter("vec_id % 50 = 0")
    exact = {
        (r["vec_id"], r["neighbor_id"]): r["cos_sim"]
        for r in api.knn(
            corpus, queries, "embedding", k=5,
            corpus_id="vec_id", query_id="vec_id", exclude_self=True,
        ).collect()
    }
    got = api.graph_knn(
        corpus, queries, "embedding", k=5,
        corpus_id="vec_id", query_id="vec_id",
    ).collect()
    assert got
    for r in got:
        key = (r["vec_id"], r["neighbor_id"])
        if key in exact:
            # graph_knn exports R4-rounded scores (the l4-family
            # contract); api.knn exports raw — compare at the R4 grain
            assert abs(exact[key] - r["cos_sim"]) <= 5.001e-5
    recall = sum(
        1 for r in got if (r["vec_id"], r["neighbor_id"]) in exact
    ) / len(exact)
    assert recall >= 0.85, f"graph_knn recall {recall:.2f} < 0.85"


def test_api_table_fingerprint_facade(spark):
    """api.table_fingerprint: order/partitioning invariance, and the
    two linear-hash collision classes (cross-row swap, compensating
    ±1) must change the print — the generalized DQ12 contract."""
    from lightcurator_spark import api

    rows = [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")]

    def fp(rs):
        df = spark.createDataFrame(rs, "x long, y long, seg string")
        return {
            r["seg"]: (r["n_rows"], r["fingerprint"])
            for r in api.table_fingerprint(df, ["x", "y"], "seg").collect()
        }

    base = fp(rows)
    assert fp(list(reversed(rows))) == base
    df7 = spark.createDataFrame(rows, "x long, y long, seg string").repartition(7)
    got = {
        r["seg"]: (r["n_rows"], r["fingerprint"])
        for r in api.table_fingerprint(df7, ["x", "y"], "seg").collect()
    }
    assert got == base
    swap = [(1, 20, "a"), (2, 10, "a"), (3, 30, "b")]
    comp = [(1, 11, "a"), (2, 19, "a"), (3, 30, "b")]
    assert fp(swap) != base and fp(comp) != base


def test_api_exports_branch_and_txn(spark, tmp_path):
    """The r12 platform verbs are reachable from the api facade."""
    from lightcurator_spark import api

    t = api.TxLogTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    br = t.create_branch("x")
    assert isinstance(br, api.TxLogBranch)
    t2 = api.TxLogTable(str(tmp_path / "t2"))
    t2.commit(spark.createDataFrame([(1, 1)], "id long, n long"))
    vs = api.multi_table_commit(
        [
            (t2, spark.createDataFrame([(2, 1)], "id long, n long")),
        ]
    )
    assert vs[t2.path] == 1
    assert t2.read_snapshot(spark).count() == 2

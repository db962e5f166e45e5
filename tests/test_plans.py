"""Physical-plan audit — the 100 TB readiness gate (SURVEY §4).

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives a 1000× scale-up: filters reach the parquet
scan, projections prune columns, small dims broadcast, θ-joins run as
equi-joins after the bucketed rewrite (never BroadcastNestedLoop over
the big side), and aggregates split partial/final. Each assertion is a
regression tripwire: if a refactor silently turns a broadcast join
into a shuffle or drops a pushed filter, this file fails before any
benchmark does.
"""

from __future__ import annotations

import contextlib
import io
import itertools

import pytest

from lightcurator_spark.plans import load_all
from tests.parity import TINY_SF_DIR

SF_DIR = "/root/testdata/sf0.01"
SPECS = load_all()


_BUILDS = itertools.count()


def build_jobs(spark, name: str, sf_dir: str) -> tuple:
    """Build query ``name`` under a job group of its own; return the
    DataFrame and the ids of the Spark jobs the build started. Every
    corpus table is loaded first: a table's first load in a session
    infers its parquet schema with one job, and ``load_table`` keeps
    the DataFrame for every later build."""
    from lightcurator_spark.registry import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t)
    sc = spark.sparkContext
    group = f"build/{name}/{next(_BUILDS)}"
    sc.setJobGroup(group, group)
    try:
        df = SPECS[name].fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_undeclared_builds_start_no_job(spark):
    """Plan construction starts no hidden Spark job: building any
    query that does not declare ``eager`` (its reason to run jobs at
    build time) must leave its job group empty. Builds at sf0.001.
    Job groups are per thread, so read-only builds run on a small
    pool; the s/t/f families, which write scratch fixtures, build in
    order (as in test_plan_sweep)."""
    from concurrent.futures import ThreadPoolExecutor

    sf_dir = TINY_SF_DIR
    names = [n for n in sorted(SPECS) if not SPECS[n].eager]

    def jobs(name):
        return name, len(build_jobs(spark, name, sf_dir)[1])

    # in-order builds first: they also load the corpus tables from
    # this thread, before the pool's threads can race to load them
    counts = dict(jobs(n) for n in names if n[0] in "stf")
    with ThreadPoolExecutor(max_workers=4) as pool:
        counts.update(pool.map(jobs, [n for n in names if n[0] not in "stf"]))
    offenders = {n: c for n, c in counts.items() if c}
    assert not offenders, (
        f"builds that start Spark jobs without declaring eager: {offenders}"
    )


def plan(spark, name: str, mode: str = "formatted") -> str:
    df = SPECS[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "p2_filter_boolean")
    assert "PushedFilters: [" in p
    # at least one real pushed predicate, not an empty list
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no predicates pushed to parquet: {p}"


def test_column_pruning_reaches_scan(spark):
    p = plan(spark, "p1_project_compute")
    # ReadSchema should be a narrow struct, not the full lineitem width (16 cols)
    read = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read.count(",") < 8, f"scan reads too many columns: {read}"


def test_small_dims_broadcast(spark):
    for name in ["j2_broadcast_dim", "q3_shape_join_topk"]:
        p = plan(spark, name)
        assert "BroadcastHashJoin" in p, f"{name} lost its broadcast join:\n{p}"


def test_q3_uses_take_ordered_not_global_sort(spark):
    p = plan(spark, "q3_shape_join_topk")
    assert "TakeOrderedAndProject" in p, "top-k should not be a full global sort"


def test_small_band_join_broadcasts_tiny_side(spark):
    """J7 joins a 5-row band table: BroadcastNestedLoop with the TINY
    side as build is the correct plan at any scale (the θ-predicate
    evaluates against 5 in-memory rows per input row)."""
    p = plan(spark, "j7_range_band_join")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize("name", ["j8_nearest_match", "d3_cross_match"])
def test_range_join_is_equi_after_bucket_rewrite(spark, name):
    """The bucketed band-join rewrite (SURVEY §4.3) must plan as a
    hash/sort-merge EQUI join on the bucket key; BroadcastNestedLoop
    over two big sides is the scale failure mode it replaces."""
    p = plan(spark, name)
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), f"{name} not rewritten to equi-join:\n{p}"
    assert "CartesianProduct" not in p


def test_lsh_band_join_is_equi(spark):
    for name in ["l3_minhash_lsh", "l4b_knn_lsh"]:
        p = plan(spark, name)
        assert "CartesianProduct" not in p, f"{name} degenerated to cartesian:\n{p}"


def test_aggregate_is_partial_final(spark):
    p = plan(spark, "a1_groupby_basic")
    assert p.count("HashAggregate") >= 2, "partial+final agg split missing"


def test_exact_dedup_is_single_shuffle(spark):
    p = plan(spark, "l1_exact_dedup", mode="simple")
    n_exchanges = p.count("Exchange")
    assert n_exchanges <= 2, f"exact dedup should need at most 2 exchanges:\n{p}"


def test_window_single_partition_exchange(spark):
    p = plan(spark, "w3_moving_avg", mode="simple")
    assert p.count("Exchange") <= 1, "moving avg needs exactly one repartition"
    assert "Window" in p


def test_whole_stage_codegen_covers_relational_core(spark):
    # AQE compiles lazily, so run the query and audit the FINAL adaptive
    # plan; codegen stages carry the `*(n)` star prefix there.
    import re

    for name in ["a1_groupby_basic", "p1_project_compute", "j1_inner_equi"]:
        df = SPECS[name].fn(spark, SF_DIR)
        df.collect()
        s = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"\*\(\d+\)", s), f"{name} fell out of codegen:\n{s[:500]}"


def test_knn_broadcasts_query_side_only(spark):
    """Brute-force kNN must broadcast the SMALL query set; the corpus
    side must stream (no shuffle of the corpus, no cartesian)."""
    p = plan(spark, "l4_knn_bruteforce")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


@pytest.mark.parametrize(
    "name",
    [
        "flagship_curation_summary",
        "d3_cross_match",
        "l2_shingle_jaccard",
        "t1_tumbling_batch",
    ],
)
def test_no_cartesian_anywhere(spark, name):
    p = plan(spark, name)
    assert "CartesianProduct" not in p, f"{name} contains a cartesian product"


def test_bucketed_join_is_shuffle_free(spark):
    """S7's whole point: both scans are bucketed on the join key, so the
    sort-merge join needs NO Exchange — the only shuffle left is the
    final group-by."""
    p = plan(spark, "s7_bucketed_colocated_join", mode="simple")
    assert p.count("Bucketed: true") == 2, p
    assert "SortMergeJoin" in p
    assert p.count("Exchange") == 1, f"bucketed join must not shuffle:\n{p}"


def test_salted_join_key_includes_salt(spark):
    """J11 must join on (key, salt) — the salt visible in the join keys
    is what spreads a hot key over n_salt reducers."""
    p = plan(spark, "j11_salted_skew_join", mode="simple")
    assert "__salt" in p
    assert "CartesianProduct" not in p


def test_partitioned_sink_readback_prunes_partitions(spark):
    """S5's layout policy must actually pay off on read: a filter on the
    partition column shows up as PartitionFilters (directories skipped
    at planning time), NOT as a data filter over a full scan."""
    SPECS["s5_partitioned_sink"].fn(spark, SF_DIR).collect()  # ensure written
    import os

    from lightcurator_spark.scratch import SCRATCH_ROOT

    out = os.path.join(SCRATCH_ROOT, "lightcurve_db")
    back = spark.read.parquet(out).filter("event_type = 'click'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    p = buf.getvalue()
    pf = p.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and pf[1].split("]", 1)[0].strip(), (
        f"partition filter not pruned at scan:\n{p}"
    )


def test_q5_single_fact_shuffle_all_dims_broadcast(spark):
    """Q5-shape: the 6-way chain must keep every dimension broadcast —
    exactly one shuffled join pair (lineitem⋈orders); a second
    SortMergeJoin would mean a dim fell off the broadcast path and the
    plan acquired a scale-breaking extra exchange."""
    p = plan(spark, "q5_shape_local_supplier")
    assert p.count("BroadcastHashJoin") >= 4, p
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1, p
    assert "CartesianProduct" not in p


def test_q6_is_scan_filter_agg_only(spark):
    """Q6-shape must plan as scan → filter → partial/final agg with no
    join and predicates pushed to the parquet reader."""
    p = plan(spark, "q6_shape_forecast_revenue")
    assert "Join" not in p
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no predicates pushed to parquet: {p}"


def test_q10_q18_topk_never_global_sort(spark):
    for name in ["q10_shape_returned_items", "q18_shape_large_orders"]:
        p = plan(spark, name)
        assert "TakeOrderedAndProject" in p, f"{name} does a full global sort:\n{p}"


def test_q18_qualifying_set_is_semi_join(spark):
    """Q18's HAVING-derived key set must apply as a LeftSemi join (an
    existence filter carrying no payload columns), not an inner join
    that would widen the fact rows."""
    p = plan(spark, "q18_shape_large_orders")
    assert "LeftSemi" in p, p


def test_q7_q8_dual_role_dims_all_broadcast(spark):
    """Q7/Q8-shapes join nation/region under two roles (supplier side,
    customer side): every role instance must broadcast independently,
    leaving lineitem⋈orders as the single shuffled join. A dim role
    falling to SortMergeJoin would add a full fact shuffle per role at
    scale."""
    for name, n_dims in [("q7_shape_volume_flow", 6), ("q8_shape_market_share", 6)]:
        p = plan(spark, name)
        assert p.count("BroadcastHashJoin") >= n_dims, f"{name}:\n{p}"
        assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1, f"{name}:\n{p}"
        assert "CartesianProduct" not in p, f"{name}:\n{p}"


def test_q12_single_shuffle_one_pass_conditional_agg(spark):
    """Q12-shape: both CASE branches aggregate in one HashAggregate pass
    over a single shuffled join — no per-branch re-join or union."""
    p = plan(spark, "q12_shape_priority_by_status", "simple")
    assert (
        p.count("SortMergeJoin")
        + p.count("ShuffledHashJoin")
        + p.count("BroadcastHashJoin")
        == 1
    ), p
    assert "Union" not in p, p


def test_q14_q19_dim_join_broadcast_no_exchange_on_fact(spark):
    """Q14/Q19-shapes: part is a broadcast build side; the fact table
    reaches the (single-row) aggregate without any hash-partition
    exchange — the only exchange is the 1-row partial/final handoff."""
    for name in ["q14_shape_promo_share", "q19_shape_disjunctive"]:
        p = plan(spark, name)
        assert "BroadcastHashJoin" in p, f"{name}:\n{p}"
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, f"{name}:\n{p}"


def test_q16_exclusion_is_broadcast_anti_join(spark):
    """Q16-shape: the negative-balance supplier exclusion must run as a
    broadcast LeftAnti (tiny build side), never shuffling the fact."""
    p = plan(spark, "q16_shape_supplier_variety")
    assert "LeftAnti" in p, p
    assert "BuildRight" in p, p


def test_q22_scalar_threshold_is_broadcast(spark):
    """Q22-shape: the 1-row average-balance threshold attaches via a
    broadcast nested-loop cross join (plan-cheap for a scalar), and the
    urgent-orders exclusion is an anti-join — no shuffle of customer."""
    p = plan(spark, "q22_shape_idle_balance")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "LeftAnti" in p, p


def test_m1_merge_shuffles_states_not_epochs(spark):
    """M1 merge: both sides must pre-aggregate (partial/final pairs)
    BELOW the full-outer join, so the join shuffle carries one state
    row per object rather than raw epochs — the property that sizes
    nightly merge cost by the delta. A plan that joins first and
    aggregates after would ship every epoch through the shuffle."""
    p = plan(spark, "m1_merge_upsert", "simple")
    join_pos = p.find("SortMergeJoin")
    assert join_pos != -1, p
    # every HashAggregate in the plan sits below (after, in explain
    # text) the join node — i.e. aggregation happens before joining
    first_agg = p.find("HashAggregate")
    assert first_agg > join_pos, p
    assert "FullOuter" in p, p


def test_l5b_band_join_is_equi_never_cartesian(spark):
    """L5b: the banded candidate join must be an equi join on the band
    key (hash-partitionable, scales horizontally) — never the
    cartesian/BNLJ pair scan it replaces."""
    p = plan(spark, "l5b_similarity_selfjoin_lsh", "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_s11_compaction_reduces_file_count(spark):
    """S11 must actually compact: 64 fragment files in, ≤8 data files
    out, with row counts preserved."""
    import glob
    import os

    SPECS["s11_compact_small_files"].fn(spark, SF_DIR).collect()
    from lightcurator_spark.scratch import SCRATCH_ROOT as scratch
    frag = glob.glob(os.path.join(scratch, "events_fragmented", "*.parquet"))
    comp = glob.glob(os.path.join(scratch, "events_compacted", "*.parquet"))
    assert len(frag) == 64, f"fragmentation stage wrote {len(frag)} files"
    assert len(comp) <= 8, f"compaction left {len(comp)} files"
    n_frag = spark.read.parquet(os.path.join(scratch, "events_fragmented")).count()
    n_comp = spark.read.parquet(os.path.join(scratch, "events_compacted")).count()
    assert n_frag == n_comp


def test_q4_exists_is_semi_join_with_prejoin_filter(spark):
    """Q4-shape: EXISTS must run as a LeftSemi whose build side was
    filtered BEFORE the join (quantity predicate pushed to the lineitem
    scan, existence probe carries only the key)."""
    p = plan(spark, "q4_shape_priority_exists")
    assert "LeftSemi" in p, p
    assert "GreaterThan(l_quantity,45.0)" in p, p


def test_q9_five_way_join_single_fact_shuffle(spark):
    """Q9-shape: part/supplier/nation broadcast; the only shuffled join
    permitted is lineitem⋈orders (fact-to-fact)."""
    p = plan(spark, "q9_shape_profit_by_nation_year")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1, p


def test_q13_outer_join_keeps_zero_order_bucket(spark):
    """Q13-shape: the priority exclusion must sit IN the left-join
    condition (pushed to the orders scan pre-join), never as a
    post-join filter that would drop order-less customers."""
    p = plan(spark, "q13_shape_custdist")
    assert "LeftOuter" in p, p
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in p, p


def test_scalar_subquery_shapes_scan_fact_once(spark):
    """Q17-shape: the correlated per-part average is a PARTITIONED
    window over the joined rows — exactly one lineitem scan in the
    plan. This is the 2× fact-I/O tripwire."""
    p = plan(spark, "q17_shape_small_quantity", "simple")
    assert p.count("lineitem.parquet") == 1, f"q17 re-scans lineitem:\n{p}"


def executed_plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_DIR)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df) -> str:
    """`df`'s executed plan after a collect, without the pre-reuse
    initial plan that an AQE plan's string also carries (node counts
    would double)."""
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    return ep.split("== Initial Plan ==", 1)[0]


def test_scalar_threshold_reuses_fact_exchange(spark):
    """Q15/Q11-shapes: the GLOBAL scalar threshold (max / 1.05×avg) is
    a distributed `agg` over the grouped result, broadcast back via
    cross join — both branches share the identical partial-agg +
    exchange subtree, so the fact scan+shuffle executes ONCE
    (ReusedExchange; compile-time without AQE, runtime stage reuse with
    it — hence the check runs on the EXECUTED plan). The alternative
    unpartitioned-window form is a single-partition exchange of every
    group state — the one-reducer concentration that breaks at 100 TB."""
    for name in ["q15_shape_top_supplier", "q11_shape_important_parts"]:
        ep = executed_plan(spark, name)
        assert "ReusedExchange" in ep, f"{name} re-derives the fact lineage:\n{ep}"
        assert "Window" not in ep, f"{name} regressed to a global window:\n{ep}"


def test_q21_double_exists_no_expand(spark):
    """Q21-shape: the EXISTS + NOT EXISTS pair must compile to the
    two-level pair-dedup aggregate — no Expand (multi-distinct rewrite
    doubles every fact row), and ONE executed lineitem scan (r13: the
    counting leg derives from the same (orderkey, suppkey) pair
    aggregate, whose exchange is runtime-reused — the q15/q11 rule:
    compile-time plans under AQE show both subtrees, the EXECUTED plan
    must show the reuse)."""
    p = plan(spark, "q21_shape_sole_fault_supplier", "simple")
    assert "Expand" not in p, p
    assert p.count("lineitem.parquet") <= 2, p
    ep = executed_plan(spark, "q21_shape_sole_fault_supplier")
    assert "ReusedExchange" in ep, f"q21 re-derives the pair lineage:\n{ep}"


def test_q2_argmax_uses_window_group_limit(spark):
    """Q2-shape: the per-part argmax must trigger WindowGroupLimit
    (rank-limit pushdown: each map task keeps only its local top-1
    before the shuffle) — without it every candidate row shuffles."""
    p = plan(spark, "q2_shape_best_supplier_per_part")
    assert "WindowGroupLimit" in p, p


def test_q20_having_key_set_is_semi_join_one_scan(spark):
    """Q20-shape: the HAVING-derived supplier key set must apply as a
    left-semi join, with the relative threshold's scalar agg sharing
    the pair-aggregate exchange (ReusedExchange at runtime) — one
    lineitem scan executes total."""
    p = plan(spark, "q20_shape_heavy_suppliers", "simple")
    assert "LeftSemi" in p, p
    ep = executed_plan(spark, "q20_shape_heavy_suppliers")
    assert "ReusedExchange" in ep, f"q20 re-derives the pair lineage:\n{ep}"


def test_l15_eval_shingles_broadcast(spark):
    """L15 decontamination: the eval-split shingle set is tiny relative
    to the training corpus — it must broadcast, and the containment
    test must be a broadcast LEFT SEMI so the train-side shingle
    explode never shuffles."""
    p = plan(spark, "l15_decontaminate", "simple")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p


def test_l13_percentile_gate_has_no_global_window(spark):
    """L13: the percentile bounds must reduce via a distributed scalar
    agg over the pruned n_chars column and broadcast back — never an
    unpartitioned window dragging full-width document rows through one
    partition."""
    p = plan(spark, "l13_length_percentile_filter", "simple")
    assert "Window" not in p, f"l13 uses a global window:\n{p}"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_p7_l17_are_pure_mapside(spark):
    """P7 hash-sample and L17 redaction are linear map-side passes —
    any Exchange here means a scale-breaking shuffle crept into what
    must stay an O(bytes) scan."""
    for name in ("p7_hash_sample", "l17_denylist_redaction"):
        p = plan(spark, name, mode="simple")
        assert "Exchange" not in p, f"{name} must not shuffle:\n{p}"


def test_a13_histogram_single_partial_final_shuffle(spark):
    """A13's shuffle carries one state row per (event_type, bin) —
    exactly one Exchange between partial and final HashAggregate."""
    p = plan(spark, "a13_histogram", mode="simple")
    assert p.count("Exchange") == 1, f"histogram needs exactly one exchange:\n{p}"
    assert p.count("HashAggregate") >= 2, "partial/final split missing"


def test_d11_window_and_agg_share_one_exchange(spark):
    """D11's lag-window and the follow-on groupBy both key on user_id;
    Catalyst must reuse the window's hash partitioning for the agg —
    a second Exchange means the reuse broke."""
    p = plan(spark, "d11_cadence_stats", mode="simple")
    assert p.count("Exchange") == 1, f"cadence stats must shuffle once:\n{p}"
    assert "Window" in p


def test_l19_groupby_reuses_window_partitioning(spark):
    """L19 groups on (lang, quartile) after a window partitioned by
    lang — HashPartitioning(lang) satisfies the agg's clustering, so
    one Exchange total."""
    p = plan(spark, "l19_curriculum_binning", mode="simple")
    assert p.count("Exchange") == 1, f"curriculum binning must shuffle once:\n{p}"


def test_l18_centroid_pairwise_is_broadcast_never_cartesian(spark):
    """L18's pairwise stage joins n_labels centroid rows (tiny by
    construction) — must broadcast, never CartesianProduct over
    cluster partitions."""
    p = plan(spark, "l18_centroid_similarity", mode="simple")
    assert "CartesianProduct" not in p, f"centroid pair join went cartesian:\n{p}"
    assert "Broadcast" in p, f"centroid pair join should broadcast one side:\n{p}"


def test_d12_zone_crossmatch_is_equi_join(spark):
    """The 2-D zone cross-match must plan as an EQUI join on the zone
    key (the k-d-tree replacement, SURVEY §4.3) — a θ-only plan
    (BroadcastNestedLoop over both point sets / cartesian) is the
    quadratic failure mode the zones algorithm exists to avoid."""
    p = plan(spark, "d12_cone_crossmatch_2d")
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), f"zone join not planned as equi-join:\n{p}"
    assert "CartesianProduct" not in p


def test_d13_window_and_groupby_share_exchange(spark):
    """D13's lag window and final groupBy both key on user_id — the
    plan must contain exactly one hashpartitioning exchange on that
    key, not a second shuffle after the window."""
    p = plan(spark, "d13_von_neumann_variability", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_a14_medians_broadcast_back(spark):
    """A14's per-group median/MAD tables are tiny — they must come back
    as broadcast joins; re-shuffling the fact table on event_type would
    be the scale failure."""
    p = plan(spark, "a14_mad_outliers")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p


def test_d14_single_shuffle_mapside_pairs(spark):
    """D14 collects per-object epoch arrays (ONE exchange on user_id)
    and generates every pair map-side via posexplode; the (user_id,
    lag) aggregate reuses that clustering. A second exchange means
    pairs started crossing the network — the scale regression."""
    p = plan(spark, "d14_structure_function", mode="simple")
    assert "CartesianProduct" not in p
    assert "Generate posexplode" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_l21_reference_fingerprints_broadcast(spark):
    """L21's reference fingerprint set must broadcast — re-shuffling
    the incoming batch against a small reference is the anti-pattern
    (at big-reference scale the documented swap is a bucketed shuffle
    join or Bloom semi-join, chosen explicitly, not by accident)."""
    p = plan(spark, "l21_incremental_dedup")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p


def test_l22_symspell_join_is_equi_never_cartesian(spark):
    """The fuzzy name join must be an equi-join on the deletion-variant
    key — a cartesian/BroadcastNestedLoop over the vocabulary would be
    the O(n²) shape the SymSpell rewrite exists to avoid."""
    p = plan(spark, "l22_fuzzy_name_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "variant" in p, f"variant equi-key missing from plan:\n{p}"


def test_l21b_bloom_candidates_filtered_before_join(spark):
    """L21b's verify join must probe only Bloom-positive candidates:
    the plan's join input carries the bitmap-test filter, and the
    Bloom-negative branch reaches the union without any join."""
    p = plan(spark, "l21b_bloom_incremental_dedup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Union" in p
    # the bitmap probe (element_at on the literal array) must appear in
    # a Filter, i.e. map-side, not as a join condition
    assert "shiftleft" in p, f"bloom bit-test missing from plan:\n{p}"


def test_l11_gram_dedup_is_equi_never_cartesian(spark):
    """L11's duplicated-gram detection must stay an equi-join on the
    16-byte gram hash with partial/final aggregation — any
    cartesian/nested-loop shape means the substring dedup regressed to
    all-pairs, the exact thing the fingerprint design avoids."""
    p = plan(spark, "l11_ngram_span_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p or "HashAggregate" in p, p


def test_p8_sample_is_single_exchange(spark):
    """P8 is one shuffle on the group key feeding rank + filter;
    a second hash exchange means the sample stopped being the
    one-pass operator it claims to be."""
    p = plan(spark, "p8_reservoir_sample_per_key", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_s12_zorder_files_have_disjoint_z_ranges(spark):
    """The property S12 exists for: after repartitionByRange(z) +
    sortWithinPartitions(z), every written file covers a Z interval
    disjoint from every other file's, so a Z-range (or either-dim)
    predicate prunes files via footer stats alone."""
    import os

    from pyspark.sql import functions as F

    SPECS["s12_zorder_layout"].fn(spark, SF_DIR).collect()  # triggers the write
    from lightcurator_spark.sources.formats import _SCRATCH

    back = spark.read.parquet(os.path.join(_SCRATCH, "lineitem_zorder"))
    ranges = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("zval").alias("lo"), F.max("zval").alias("hi"))
        .collect()
    )
    assert len(ranges) > 1
    ivals = sorted((r["lo"], r["hi"]) for r in ranges)
    for (lo1, hi1), (lo2, hi2) in zip(ivals, ivals[1:]):
        assert hi1 <= lo2, f"overlapping file Z ranges: {ivals}"


def test_w8_runs_share_one_exchange(spark):
    """W8's two windows and two group-bys all cluster on user_id —
    one hash exchange total. A second exchange means a stage stopped
    reusing the subset partitioning (the scale regression)."""
    p = plan(spark, "w8_monotone_runs", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_a16_verify_pass_joins_broadcast_candidates(spark):
    """A16's exact pass must probe the fact with a BROADCAST of the
    tiny candidate set (and the scalar total) — a shuffle join here,
    or an aggregation without the candidate filter, would rebuild the
    full-cardinality state the sketch exists to avoid."""
    p = plan(spark, "a16_heavy_hitters")
    assert "MapInPandas" in p, p
    assert p.count("BroadcastHashJoin") >= 1, p
    assert "CartesianProduct" not in p


def test_m3_pit_join_has_no_join_operator(spark):
    """M3's whole point: the point-in-time lookup compiles to a union +
    carry-forward window, NEVER a join — the fact shuffles once on the
    key and no interval-band join state exists. A Join node appearing
    here means the rewrite regressed to the skew-amplifying shape."""
    p = plan(spark, "m3_point_in_time_join", mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 2, p  # dim prep + union window


def test_m4_snapshot_diff_aggregates_below_join(spark):
    """M4 CDC: both snapshot states must pre-aggregate below the single
    full-outer join, so the diff shuffle carries one state row per key
    — never raw events (same invariant as M1, which M4 feeds)."""
    p = plan(spark, "m4_snapshot_diff", "simple")
    join_pos = p.find("SortMergeJoin")
    assert join_pos != -1, p
    assert "FullOuter" in p, p
    first_agg = p.find("HashAggregate")
    assert first_agg > join_pos, p


def test_w9_funnel_single_shuffle_no_join(spark):
    """W9 funnel: the whole 3-stage state machine must compile to ONE
    exchange (the groupBy user_id) — no join nodes, no window sort
    spill, the fold runs inside the aggregate projection."""
    p = plan(spark, "w9_event_funnel", "simple")
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert p.count("Exchange") == 1, p


def test_q23_cohort_anchor_is_broadcast(spark):
    """Q23 retention: the per-user first-conversion table must attach
    by broadcast — the 100 TB event side never shuffles for the join
    (its only exchanges belong to the distinct-count aggregation)."""
    p = plan(spark, "q23_retention_cohorts", "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_l20_within_cell_join_is_equi_never_cartesian(spark):
    """L20 semantic dedup: the pairwise comparison must be an equi-join
    on cell_id (the clustering IS the scale trick) — never the O(n²)
    cartesian pair scan it replaces."""
    p = plan(spark, "l20_semantic_dedup", "simple")
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_a17_cms_sketch_is_partial_final(spark):
    """A17 CMS: the sketch build must split partial/final (map-side
    combine on (seed, bucket)) — that partial state IS the mergeable
    sketch; losing it would ship one row per event through the
    shuffle."""
    from lightcurator_spark.operators.analytics_ext import cms_sketch
    from lightcurator_spark.registry import load_table

    import contextlib as _ctx
    import io as _io

    ev = load_table(spark, SF_DIR, "events")
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        cms_sketch(ev, "user_id").explain("simple")
    p = buf.getvalue()
    assert p.count("HashAggregate") >= 2, p


def test_l24_pipeline_contam_broadcast_no_cartesian(spark):
    """L24 capstone: the decontamination containment test must be a
    broadcast LEFT SEMI (train corpus never shuffles for it), the
    dedup rank one window, and nothing degenerates to a cartesian —
    the stage-flags-not-stage-materializations plan."""
    p = plan(spark, "l24_full_llm_pipeline", "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "LeftSemi" in p, p
    assert p.count("Window") == 1, p


def test_w11_ewma_fold_is_jvm_side_single_exchange(spark):
    """W11: the EWMA fold must run as a JVM higher-order function
    inside the aggregate (no Python eval node) with ONE shuffle on the
    key — a Python-UDF fold would push every row through Arrow."""
    p = plan(spark, "w11_ewma", "simple")
    assert "EvalPython" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_w12_drawdown_agg_reuses_window_partitioning(spark):
    """W12: the post-window group-by is on the window's partition key,
    so the plan must carry exactly one hash exchange — a second
    exchange means Catalyst lost the co-partitioning."""
    p = plan(spark, "w12_max_drawdown", "simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_d18_periodogram_is_single_shuffle_no_python(spark):
    """D18: the one-pass closed form must stay one hash exchange on
    (object, freq) — per-object stats broadcast back, the grid is an
    in-plan explode (Generate), and no Python touches the hot path.
    A second exchange would mean the τ projection grew a data pass."""
    p = plan(spark, "d18_ls_periodogram_grid", "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "EvalPython" not in p, p
    assert "Generate explode" in p, p
    assert "CartesianProduct" not in p, p


def test_q26_pair_join_is_equi_never_cartesian(spark):
    """Q26: the basket self-join must be an equi-join on l_orderkey
    (fan-out bounded per basket); the only nested-loop allowed is the
    broadcast of the 1-row n_orders scalar."""
    p = plan(spark, "q26_basket_lift", "simple")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_l25_prefix_join_is_equi_never_cartesian(spark):
    """L25: the candidate stage must be an equi-join on the prefix
    token and the verify stage equi-joins on doc keys — the whole
    point is that no all-pairs/nested-loop stage exists."""
    p = plan(spark, "l25_prefix_filter_join", "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p  # vocabulary-sized tf broadcast


def test_a20_preagg_below_window(spark):
    """A20: the bucketed crossing search must never funnel raw rows
    through the 3-value flag key — raw rows only ever exchange on
    (flag, bucket) and (flag, v, …), both behind a map-side partial
    HashAggregate that shrinks them first; the two flag-only
    exchanges feed the tiny windows (bucket summaries / one bucket's
    value summaries). The crossing rows come back via broadcast, not
    a shuffle of the fact side."""
    import re

    p = plan(spark, "a20_weighted_median", "simple")
    assert "BroadcastHashJoin" in p, p
    assert "partial_sum" in p, p  # map-side shrink below the exchanges
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(keys) == 4, keys
    assert any("b#" in k for k in keys), keys  # bucket pre-agg exchange
    assert any("v#" in k for k in keys), keys  # candidate value pre-agg
    # the only flag-alone exchanges are the two tiny window feeds
    flag_only = [k for k in keys if "b#" not in k and "v#" not in k]
    assert len(flag_only) == 2, keys


def test_a21_kernel_is_partitioned_map_no_extra_shuffle(spark):
    """A21: one repartition on the key feeds the Arrow kernel; no
    group-by shuffle, no per-group Python round-trip node."""
    p = plan(spark, "a21_theil_sen_slope", "simple")
    assert "MapInPandas" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "FlatMapGroupsInPandas" not in p, p


def test_l26_canonicalize_is_partial_final_single_exchange(spark):
    """L26: fingerprinting is map-side; the argmax/count/max agg must
    split partial/final around ONE exchange on the fingerprint."""
    p = plan(spark, "l26_canonical_selection", "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("HashAggregate") >= 2, p


def test_g3_triangle_joins_are_equi_never_cartesian(spark):
    """G3: all three closure legs must be hash equi-joins on node
    keys; a cartesian would mean the canonical orientation was lost."""
    p = plan(spark, "g3_triangle_count", "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_aqe_cluster_profile_replans_j11_and_g5(spark):
    """Cluster-profile tripwire (r6 verdict item 4): under AQE-on +
    default 200 shuffle partitions — the profile an untuned cluster
    session runs — j11's salted join and g5's LPA round must (a) show
    AQEShuffleRead nodes in the finished adaptive plan (AQE actually
    re-planned from stage statistics), (b) keep the skewJoin splitter
    armed, and (c) stay hash equi-joins, never cartesian. An actual
    skew=true split needs a >256 MB partition (unreachable at test
    scale by design); the salt handles per-key skew below AQE's radar
    and the two compose."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.shuffle.partitions",
            "spark.lightcurator.lowLatency",
        )
    }
    try:
        spark.conf.set("spark.lightcurator.lowLatency", "false")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        for name in ("j11_salted_skew_join", "g5_label_propagation"):
            df = SPECS[name].fn(spark, SF_DIR)
            assert len(df.collect()) > 0
            p = df._jdf.queryExecution().executedPlan().toString()
            assert "AQEShuffleRead" in p, (name, p[:1500])
            assert "CartesianProduct" not in p, name
            assert "BroadcastNestedLoopJoin" not in p, name
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_g3b_oriented_joins_are_equi_never_cartesian(spark):
    """G3b: degree attach + wedge + closure legs are all hash
    equi-joins on node keys; the rank tiebreak lives in a post-join
    filter, never a nested-loop condition."""
    p = plan(spark, "g3b_triangle_count_oriented", "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_d19_pdm_is_two_level_agg_no_python(spark):
    """D19: the bin level must collapse via partial/final aggs before
    anything wide shuffles; no Python in the plan; grid is an in-plan
    explode."""
    p = plan(spark, "d19_pdm_period_search", "simple")
    assert "EvalPython" not in p, p
    assert "Generate explode" in p, p
    assert p.count("HashAggregate") >= 4, p  # two partial/final levels
    assert "CartesianProduct" not in p, p


def test_q27_attribution_has_no_join_operator(spark):
    """Q27: the Spark side must be the join-free window form — the
    oracle IS the join formulation, so a join node here would mean
    the plan regressed to the shape it exists to beat."""
    p = plan(spark, "q27_lasttouch_attribution", "simple")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in p, (node, p)
    # one fact shuffle (user window) + the output-sized census exchange
    assert p.count("Exchange hashpartitioning") == 2, p


def test_l27_bigram_build_is_mapside_no_positional_selfjoin(spark):
    """L27: bigrams must come from the in-array slide (Generate over
    transform), never a positional self-join of the exploded tokens;
    unigram LM tables broadcast; the only nested loop is the 1-row
    total."""
    p = plan(spark, "l27_bigram_logprob", "simple")
    assert "Generate explode" in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    assert "BroadcastHashJoin" in p, p


def test_l30_packing_partitions_on_shard_not_source(spark):
    """L30: the packing window must partition on (source, shard) —
    never the low-cardinality source alone (the a20/TRAPS#17 funnel)
    — and the final bin agg reuses that clustering: exactly one
    exchange, carrying both keys."""
    import re

    p = plan(spark, "l30_sequence_packing", "simple")
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(keys) == 1, keys
    assert "source" in keys[0] and "shard#" in keys[0], keys


def test_l30b_kernel_single_exchange(spark):
    """L30b: one composite-key repartition feeds the packing state
    machine; bins are emitted in-kernel, so no post-shuffle exists."""
    p = plan(spark, "l30b_next_fit_packing", "simple")
    assert "MapInPandas" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_sql_surface_inherits_catalyst_properties(spark):
    """The same-string SQL queries must plan through the identical
    Catalyst path as DataFrame programs: dims broadcast, aggregates
    split partial/final, scans pruned to the referenced columns."""
    p = plan(spark, "sql_revenue_by_nation")
    assert "BroadcastHashJoin" in p, p  # nation (and customer) dims
    assert p.count("HashAggregate") >= 2, p
    read = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert read.count(",") < 8, f"SQL scan reads too many columns: {read}"


def test_g1b_final_is_topk_over_checkpoint(spark):
    """G1b: the rounds run eagerly behind per-round localCheckpoints
    (lineage truncation — same as G1/L9), so the FINAL plan must be
    exactly a TakeOrdered projection over the checkpointed ranks: a
    global sort, a cartesian, or a surviving join node here would mean
    the truncation regressed and the whole 3-round DAG re-executes on
    every action."""
    p = plan(spark, "g1b_pagerank_fixed3", "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p, p
    assert "Join" not in p, p
    assert "Exchange" not in p, p  # top-k, not a global sort


def test_w13_global_window_is_output_sized(spark):
    """W13: raw events must only ever exchange on user_id / (day,user)
    — the unpartitioned prefix window may receive per-DAY summary rows
    only (calendar-sized). A raw-row single-partition window here is
    the quadratic naive cumulative-distinct this rewrite replaces."""
    import re

    p = plan(spark, "w13_cumulative_distinct", "simple")
    keys = re.findall(r"Exchange (\w+)", p)
    # exactly one SinglePartition exchange (the tiny day-level window)
    assert keys.count("SinglePartition") == 1, p
    # it must sit ABOVE an aggregate, not directly over the scan: the
    # deepest exchanges carry user-keyed aggregation
    assert "user_id" in p.split("SinglePartition")[-1], p


def test_w14_islands_share_one_exchange(spark):
    """W14: both interval windows and both group-bys cluster on
    user_id (later keys are supersets) — exactly one hash exchange,
    like W8. A second exchange means the island grouping stopped
    reusing the subset partitioning."""
    p = plan(spark, "w14_interval_union", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_a22_entropy_is_single_lineage_no_join(spark):
    """A22's moment decomposition exists to avoid the share-formula
    join-back (which double-scans raw events): the plan must be two
    stacked aggregations with NO join node and exactly two exchanges
    — (event_type, user_id) then (event_type)."""
    p = plan(spark, "a22_group_entropy", mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 2, p


def test_d20_acf_is_one_pass_no_join(spark):
    """D20's moment decomposition removes the mean join-back: one lag
    window + one per-object agg, both on user_id — exactly one
    exchange and NO join. A Join node here means the two-pass form
    (and its second events scan) regressed back in."""
    p = plan(spark, "d20_acf_lags", mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_l31_candidate_join_is_equi_never_cartesian(spark):
    """L31's inverted-index join must be an equi-join on the term key
    with map-side-combined pair sums — an all-pairs scan here is the
    exact failure the df-pruned postings exist to avoid. The only
    nested-loop nodes allowed are the two 1-row corpus-count scalar
    broadcasts (the l13/l14 idiom); the norm must come from a window,
    not per-side norm joins (which re-computed the weight chain 4x)."""
    p = plan(spark, "l31_sparse_cosine_selfjoin", mode="simple")
    assert "CartesianProduct" not in p, p
    # every nested-loop node must be the 1-row corpus-count scalar
    # broadcast (it recurs once per kept-dictionary lineage copy);
    # anything joining actual data rows nested-loop is a regression
    assert p.count("BroadcastNestedLoopJoin") == p.count(
        "BroadcastExchange IdentityBroadcastMode"
    ), p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        p.count("BroadcastHashJoin") > 2
    ), f"candidate join not an equi-join:\n{p}"


def test_a23_grouping_sets_expand_single_exchange(spark):
    """A23: grouping sets must compile to ONE Expand + one partial/
    final aggregation over a single scan — the whole point vs a
    per-facet UNION of scans. A second exchange or scan here means the
    Expand lowering regressed."""
    p = plan(spark, "a23_grouping_sets", mode="simple")
    assert "Expand" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("FileScan") == 1, p


def test_l32_rank_window_sees_vocab_not_tokens(spark):
    """L32: the per-source rank window must sit ABOVE the (source,
    token) aggregation — raw exploded tokens reaching a 5-partition
    source window is the TRAPS #17 funnel. Two exchanges, single
    lineage, no join."""
    p = plan(spark, "l32_zipf_slope", mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 2, p
    # the source-keyed window exchange must be fed by the token agg
    head = p.split("Exchange hashpartitioning(source", 1)[1]
    assert "HashAggregate" in head, p


def test_g4_degrees_are_windows_not_joined_tables(spark):
    """G4: endpoint degrees come from count windows over the ONE
    distinct edge set — a degree-table join here re-runs the
    scan+join+distinct chain per endpoint (measured: 6 scans). Exactly
    one join (the edge build) and 3 exchanges are allowed."""
    p = plan(spark, "g4_degree_assortativity", mode="simple")
    assert p.count("FileScan") == 2, p
    assert p.count("Exchange hashpartitioning") == 3, p
    assert "CartesianProduct" not in p, p


def test_a24_welch_is_one_agg_no_join(spark):
    """A24: the two-sample statistic must come from ONE conditional-
    moment aggregation — no join-back of per-side tables, no second
    scan (the TRAPS #19 shape for f(sample_a, sample_b) statistics)."""
    p = plan(spark, "a24_welch_drift_ttest", mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("FileScan") == 1, p


def test_l33_containment_single_lineage_no_join(spark):
    """L33 (r13): ONE gram lineage — per-gram doc sets aggregate once,
    ordered pairs + the |sh(A)| diagonal explode map-side, n_a attaches
    via a doc_a window over the PAIR table. No join anywhere, exactly
    one scan, never a second gram derivation."""
    p = plan(spark, "l33_shingle_containment", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert "Window" in p, p


def test_a25_ks_windows_see_distinct_values_not_rows(spark):
    """A25: the ECDF prefix windows must sit above the (stream, value)
    conditional agg — raw rows through a 5-stream window partition is
    the TRAPS #17 funnel. Single scan, two exchanges, no join."""
    p = plan(spark, "a25_ks_drift", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange hashpartitioning") == 2, p
    # the event_type window exchange is fed by an aggregate, not the scan
    seg = p.split("Exchange hashpartitioning(event_type", 1)[1]
    assert "HashAggregate" in seg, p


def test_w15_rolling_median_partitions_high_cardinality(spark):
    """W15: the median frame must window on user_id (high-cardinality,
    never the 5-value event_type funnel), push the event_type filter
    to the scan, and need exactly one exchange + no join."""
    p = plan(spark, "w15_rolling_median", mode="simple")
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "hashpartitioning(user_id" in p, p
    f = plan(spark, "w15_rolling_median")
    pushed = f.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pushed, f


def test_a26_mwu_ranks_over_distinct_values_not_rows(spark):
    """A26: the tie-aware rank prefix must window over the (stream,
    value) pre-aggregation, not raw rows (TRAPS #17). Single scan,
    two exchanges, no join — the A25 shape."""
    p = plan(spark, "a26_mannwhitney_u", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange hashpartitioning") == 2, p
    seg = p.split("Exchange hashpartitioning(event_type", 1)[1]
    assert "HashAggregate" in seg, p


def test_a27_chi2_marginals_from_cell_table_not_rescan(spark):
    """A27: row/column marginals must be windows over the output-sized
    contingency-cell aggregate — never a totals join-back or a second
    scan of events. The single-partition global window is over ≤35
    cells (W13 precedent), not raw rows."""
    p = plan(spark, "a27_chi2_independence", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p


def test_l34_strip_joins_are_equi_never_cartesian(spark):
    """L34 (r12 shape): never a nested-loop product anywhere; cross-doc
    gram detection is ONE gh-keyed window (no distinct→count→join-back
    chain, so no anti-join remains), and the rebuild is map-side — the
    corpus token rows must NOT posexplode into a (doc, tp) shuffle."""
    p = plan(spark, "l34_boilerplate_strip", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the single cross-doc detection window on the gram-hash key
    assert "Window" in p, p
    # the old token posexplode + anti-join rebuild must stay gone
    assert "LeftAnti" not in p, p
    assert "posexplode" not in p, p


def test_dq3_profile_single_scan(spark):
    """DQ3: all five columns' profiles must compute from ONE scan of
    events (the oracle's per-column UNION scans 5x; the engine must
    not) — Expand for multi-distinct is fine, re-reads are not."""
    p = plan(spark, "dq3_column_profile", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p


def test_l4e_pq_rerank_joins_are_broadcast_equi(spark):
    """L4e: the exact re-rank must join the shortlist and query sides
    via broadcast equi-joins — the corpus-sized cartesian of l4 must
    never appear in the compressed path."""
    p = plan(spark, "l4e_knn_pq", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_d21_bls_totals_from_windows_not_join(spark):
    """D21: per-period totals must be windows over the (user, period,
    bin) pre-aggregation sharing its exchange — never a stats
    join-back (TRAPS #19) and never a raw-row window funnel. Single
    scan, no join."""
    p = plan(spark, "d21_bls_box_search", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    seg = p.split("Exchange hashpartitioning(user_id", 1)[1]
    assert "HashAggregate" in seg, p


def test_l35_covariance_pairs_built_map_side(spark):
    """L35: the 64x64 pair table must be a map-side explode over ONE
    scan of embeddings — never the oracle's vec_id self-join — and
    partial aggregation must collapse before the only exchange."""
    p = plan(spark, "l35_embedding_covariance", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_a28_benford_total_from_cell_window_not_rescan(spark):
    """A28: the grand total must attach via a window over the 9-row
    digit-cell aggregate (TRAPS #19) — never a totals join-back or a
    second scan of lineitem; the cents filter must push to parquet."""
    p = plan(spark, "a28_benford_digit_drift", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert "PushedFilters: [IsNotNull(l_extendedprice), GreaterThan(l_extendedprice,0.0)]" in p, p


def test_l36_phash_band_join_is_equi_never_cartesian(spark):
    """L36: image near-dup candidates must come from the (band_idx,
    band_val) equi-join over the 8-byte hash table — never an
    all-pairs product of images; pixels must not appear in any
    shuffle (the only binary-bearing stage is the map-side hasher)."""
    p = plan(spark, "l36_image_phash_dedup", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p


def test_w16_rolling_reach_explodes_cells_not_raw_rows(spark):
    """W16: the 24× explode must run over the reduced (hour, user)
    cell aggregate — the corpus shuffles once into that agg and never
    re-scans for the rolling distinct. Exactly two scans are allowed:
    the corpus pass and the single-column bounds pass; the only
    nested-loop join is the 1-row bounds broadcast (a non-equi clip
    against a single row, not a data-sized product)."""
    p = plan(spark, "w16_rolling_reach", mode="simple")
    assert "CartesianProduct" not in p, p
    assert p.count("FileScan") == 2, p
    assert p.count("BroadcastNestedLoopJoin") == 1, p


def test_j12_forward_asof_is_union_window_no_range_join(spark):
    """J12: the forward as-of must be the union trick — a single
    user_id window over the tagged union, never a range join (whose
    cost grows with the tolerance width) and never a nested-loop.
    Exactly two exchanges: the purchase (user_id, ts) tie-dedup agg
    and the user_id window sort."""
    p = plan(spark, "j12_asof_forward", mode="simple")
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert p.count("Exchange hashpartitioning") == 2, p


def test_g5_lpa_rounds_are_equi_joins_never_cartesian(spark):
    """G5: every propagation round must be a hash equi-join on the
    node key plus a partial/final weighted count — a cartesian or
    nested-loop means the label attach lost its equi key."""
    p = plan(spark, "g5_label_propagation", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "partial_sum" in p or "partial" in p, p


def test_ml1_assignment_is_map_side_no_join_no_exchange(spark):
    """ML1: the returned assignment pass must be scan → project →
    argmin over broadcast centroid literals — any Join or Exchange
    means the corpus started shuffling for a K×D-sized state."""
    p = plan(spark, "ml1_kmeans_assign", mode="simple")
    assert "Join" not in p, p
    assert "Exchange" not in p, p
    assert p.count("FileScan") == 1, p


def test_dq4_window_runs_over_hour_cells_not_events(spark):
    """DQ4: the trailing window must run over the pre-reduced hourly
    cell table — the partial/final count agg sits BELOW the window
    (one scan, no join); raw events never enter the sort."""
    p = plan(spark, "dq4_volume_anomaly", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert "partial_count" in p, p
    # plans print top-down: the Window node must sit ABOVE (before in
    # the string) the count agg that feeds it.
    assert p.index("Window") < p.index("HashAggregate"), p


def test_dq5_audit_never_materializes_the_audited_join(spark):
    """DQ5: the fan-out audit joins two PRE-REDUCED key tables (agg
    below the join on both legs), attaches the total via a window
    (no totals join-back, TRAPS #19), and takes the top-10 without a
    global sort."""
    p = plan(spark, "dq5_join_fanout_audit", mode="simple")
    assert p.count("FileScan") == 2, p
    assert "TakeOrdered" in p, p
    # plans print top-down: all 4 aggs (2 legs x partial/final) must
    # sit BELOW the join — i.e. no HashAggregate before the first
    # join node in the printed tree.
    assert "HashAggregate" not in p[: p.index("Join")], p
    assert p.count("HashAggregate") >= 4, p


def test_a29_moments_one_scan_broadcast_dim_window_totals(spark):
    """A29: one fact scan with the customer dim broadcast; pooled
    moments attach via a window over the 5-row moment table — no
    totals join-back, no second orders scan (TRAPS #19)."""
    p = plan(spark, "a29_simpson_reversal", mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert p.count("FileScan") == 2, p  # orders + customer, once each
    assert p.count("Join") == 1, p
    assert "Window" in p, p


def test_a30_is_single_kernel_stage_no_python_udf_rows(spark):
    """A30: one co-locating repartition then the vectorized kernel —
    pairs never materialize as rows in the plan (no explode, no
    join); the only Python is the mapInPandas stage itself."""
    p = plan(spark, "a30_hodges_lehmann", mode="simple")
    assert "Join" not in p, p
    assert "Generate" not in p, p  # no explode: pairs live inside numpy
    assert "MapInPandas" in p, p
    assert p.count("Exchange") == 1, p


def test_a31_window_runs_over_value_cells_not_rows(spark):
    """A31: the low-cardinality stream window must run over the
    (stream, value) cell table — the partial/final cell agg sits
    below the window (a20's retrofit, applied from the start); one
    scan, no join."""
    p = plan(spark, "a31_trimmed_winsorized_mean", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert p.index("Window") < p.rindex("HashAggregate"), p
    assert "partial_count" in p, p


def test_ml2_moments_single_scan_single_agg_no_join(spark):
    """ML2: all 36 integer moments must come from ONE scan and one
    partial/final aggregate — regression sufficient statistics never
    justify a join or a second pass."""
    p = plan(spark, "ml2_normal_equations", mode="simple")
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p
    assert p.count("HashAggregate") == 2, p  # partial + final


# ---------------- round-6 additions ----------------


def test_a34_gini_single_exchange_one_scan(spark):
    """A34's docstring claims one rank window + one agg sharing a
    single user_id exchange over one events scan."""
    p = plan(spark, "a34_gini_concentration", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert "partial_count" in p or "partial_sum" in p, p


def test_d22_cusum_single_exchange_one_scan(spark):
    """D22: running sums, totals, and the argmax rank all share the
    user_id partitioning — one scan, no join-back for totals."""
    p = plan(spark, "d22_cusum_changepoint", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p


def test_w18_rolling_slope_one_scan_no_join(spark):
    p = plan(spark, "w18_rolling_slope", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p


def test_w17_record_census_one_scan_no_join(spark):
    p = plan(spark, "w17_record_census", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p


def test_a32_spearman_windows_share_one_exchange(spark):
    """A32's two rank windows partition on the same user_id key — the
    plan may re-sort but must not re-exchange per window: at most the
    one key exchange (+ AQE artifacts), one scan, no join."""
    p = plan(spark, "a32_spearman_rank_corr", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert p.count("hashpartitioning(user_id") <= 2, p


def test_a33_kendall_kernel_no_join_no_generate(spark):
    """A33's O(k²) pairs live inside the Arrow kernel — the plan must
    show MapInPandas over one exchange, never a self-join or explode."""
    p = plan(spark, "a33_kendall_tau", mode="simple")
    assert "MapInPandas" in p, p
    assert "Join" not in p, p
    assert "Generate" not in p, p
    assert p.count("FileScan") == 1, p


def test_d23_stetson_no_window_two_aggs(spark):
    """D23 is agg → key join → agg; no window, no sort-frame anywhere."""
    p = plan(spark, "d23_stetson_k", mode="simple")
    assert "Window" not in p, p
    assert "Join" in p, p


def test_ml4_stump_cells_below_window(spark):
    """ML4's unpartitioned prefix window must run over the value-cell
    aggregate, never raw rows: the partial agg sits BELOW the window
    (later in the top-down plan text)."""
    p = plan(spark, "ml4_decision_stump", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert "partial_count" in p, p
    wpos = p.find("Window")
    apos = p.find("partial_count")
    assert wpos != -1 and apos != -1 and wpos < apos, p


def test_dq6_dimension_parents_broadcast(spark):
    """DQ6: the dimension-parent anti-joins (customer/part/supplier/
    nation/region legs) must broadcast; counts pre-reduce each child."""
    p = plan(spark, "dq6_referential_integrity", mode="simple")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    assert "partial_count" in p, p


def test_w19_markov_cells_before_normalization(spark):
    """W19: raw rows collapse to transition cells behind a partial agg
    BEFORE the tiny normalization window (window above agg, top-down)."""
    p = plan(spark, "w19_markov_transitions", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    wpos = p.find("Window")
    apos = p.find("partial_count")
    assert wpos != -1 and apos != -1 and wpos < apos, p


def test_ml3_class_table_broadcasts(spark):
    """ML3: the 5-row class table and scalars broadcast; the model join
    is the only fact-sized join."""
    p = plan(spark, "ml3_naive_bayes_langid", mode="simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_l38_novelty_dictionary_join_never_cartesian(spark):
    p = plan(spark, "l38_ngram_novelty", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_l39_overlap_join_is_equi_never_cartesian(spark):
    p = plan(spark, "l39_source_overlap_matrix", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_g6_kcore_semi_joins_never_cartesian(spark):
    """G6: round 1 is a count over the edge list (one lineitem scan,
    cached), and each later round one hash semi-join of it against
    the previous survivors plus a count. The three rounds nest into
    one linear plan: two LeftSemi joins, never all-pairs, no lineage
    cut (ExistingRDD), and building it starts no Spark job."""
    df, jobs = build_jobs(spark, "g6_kcore_peel", SF_DIR)
    assert jobs == [], jobs
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    p = buf.getvalue()
    assert p.count("LeftSemi") == 2, p
    assert "CartesianProduct" not in p, p
    assert "ExistingRDD" not in p, p


def test_s17_scan_reads_single_partition(spark):
    """S17: the event_type predicate must become a PartitionFilter on
    the partitioned store — pruning, not a post-scan filter."""
    p = plan(spark, "s17_partition_pruned_read")
    assert "PartitionFilters: [" in p, p
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf, p


def test_w20_burstiness_one_scan_no_join(spark):
    p = plan(spark, "w20_burstiness", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p


def test_q30_survival_curve_cells_below_window(spark):
    """Q30: the suffix window runs over lifespan cells, never users —
    partial agg below the window."""
    p = plan(spark, "q30_lifespan_survival_curve", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    wpos = p.find("Window")
    apos = p.find("partial_count")
    assert wpos != -1 and apos != -1 and wpos < apos, p


def test_q31_pareto_ntile_over_preagg(spark):
    """Q31: the single-partition ntile sort consumes the customer
    pre-agg output (the FLOOR-cents partial agg sits BELOW the
    SinglePartition exchange), never raw orders."""
    p = plan(spark, "q31_revenue_pareto", mode="simple")
    assert p.count("FileScan") == 1, p
    epos = p.find("Exchange SinglePartition")
    apos = p.find("partial_sum(FLOOR")
    assert epos != -1 and apos != -1 and epos < apos, p


def test_u6_u7_bag_ops_never_cartesian(spark):
    for name in ["u6_intersect_all", "u7_except_all"]:
        p = plan(spark, name, mode="simple")
        assert "CartesianProduct" not in p, p


def test_ml6_isotonic_kernel_no_join(spark):
    p = plan(spark, "ml6_isotonic_fit", mode="simple")
    assert "MapInPandas" in p, p
    assert "Join" not in p, p
    assert p.count("FileScan") == 1, p


def test_a37_bootstrap_draws_stay_inside_the_row(spark):
    """A37: all 16·n resampling draws are array ops inside the row —
    one exchange (the collect_list groupBy), no Generate exploding
    draw rows, no join."""
    p = plan(spark, "a37_bootstrap_median_ci", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert "Generate" not in p, p


def test_a38_permutation_fanout_is_mapside_no_shuffle_of_rows(spark):
    """A38: the 17x relabel fan-out is a Generate over a literal range
    feeding a partial/final agg — one scan, no join on corpus rows
    (the only join is the 1-row observed-stat broadcast)."""
    p = plan(spark, "a38_permutation_test", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Generate" in p, p
    assert "partial_count" in p or "partial_sum" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_a42_ranks_object_aggregates_not_corpus_rows(spark):
    """A42: the signed-rank test must collapse events to per-object
    sums before anything ranks — `event_id` never enters the plan
    (the a38b discipline) — and the midrank window must be
    RANGE-BUCKETED (r8 verdict item 3): the object rows rank inside a
    bkt-partitioned window fed by a hashpartitioning(bkt) exchange,
    never a single-partition sort of the object table."""
    p = plan(spark, "a42_wilcoxon_signed_rank", mode="simple")
    assert "event_id" not in p, p
    assert "hashpartitioning(bkt" in p, p
    assert "windowspecdefinition(bkt" in p, p
    assert "partial_percentile" in p, p  # the cuts are a distributed agg
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_d27_decomposes_on_cell_moments_no_residual_join(spark):
    """D27: the variance decomposition must run on per-cell integer
    moments (two nested aggs), never join residuals back to corpus
    rows."""
    p = plan(spark, "d27_seasonal_strength", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert "partial_sum" in p, p


def test_g11_wedges_on_the_bounded_part_side_degrees_broadcast(spark):
    """G11 (r13 degree-aware hybrid): pair generation must be the UNION
    of the low-degree NumPy kernel (MapInPandas over basket arrays,
    per-task pre-aggregated partials) and the high-degree equi-join
    tail; degree tables attach by broadcast — never a cartesian, never
    a supplier-side wedge."""
    p = plan(spark, "g11_cooccurrence_projection", mode="simple")
    assert "Union" in p and "MapInPandas" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_ml10_scores_map_side_no_corpus_shuffle(spark):
    """ML10: silhouette scoring is a map-side fold against broadcast
    centroid literals feeding one partial/final agg — no join, and the
    only exchange is the K-row cluster agg."""
    p = plan(spark, "ml10_silhouette", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "Join" not in p, p
    assert "partial_count" in p or "partial_sum" in p, p


def test_a41_is_one_scan_one_agg(spark):
    """A41: the effect-size census must be one corpus scan feeding one
    partial/final agg — no join, no window, nothing corpus-sized after
    the agg."""
    p = plan(spark, "a41_effect_size_census", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "partial_" in p, p
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_dq8_is_one_scan_with_shared_expand(spark):
    """DQ8: all before/after column metrics come from ONE scan — the
    six count-distincts share a single Expand; the 3-row stack is
    metadata-sized."""
    p = plan(spark, "dq8_profile_drift_audit", mode="simple")
    assert p.count("FileScan") == 1, p
    assert p.count("Expand") == 1, p
    assert "Join" not in p, p


def test_q32_ntiles_run_over_the_customer_aggregate_not_orders(spark):
    """Q32: the quintile windows must consume the per-customer
    aggregate (one partial/final agg after the orders scan), never
    sort raw order rows — o_orderkey must not survive past the scan
    projection."""
    p = plan(spark, "q32_rfm_segmentation", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "partial_count" in p or "partial_sum" in p, p
    # the scan projects only the three RFM inputs
    read = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_custkey" in read and "o_orderkey" not in read, read


def test_g5b_rounds_never_reshuffle_the_bucketed_edge_list(spark):
    """G5b: every LPA round's join must consume the dst-bucketed edge
    scan directly — no Exchange may hash-partition on the edge join
    key (`dst`) anywhere in the plan; the only shuffles left are
    node-sized (labels on `node`, the (src,label) agg). The edge list
    enters via bucketed FileScans — one per round (the label-init scan
    reads only `src`, so it legitimately reports bucket columns not
    read)."""
    p = plan(spark, "g5b_label_propagation_bucketed", mode="simple")
    assert p.count("Bucketed: true") >= 3, p
    assert "SortMergeJoin" in p, p
    assert "hashpartitioning(dst" not in p, p
    assert "CartesianProduct" not in p, p


def test_g6b_dst_semi_join_is_exchange_free_on_the_edge_side(spark):
    """G6b: the first (dst) semi-join of each peel round must come
    straight off the bucketed scan — no Exchange on `dst`; the src
    semi-join and groupBy(src) share one src shuffle of the shrinking
    survivor edges."""
    p = plan(spark, "g6b_kcore_peel_bucketed", mode="simple")
    assert p.count("Bucketed: true") >= 3, p
    assert "hashpartitioning(dst" not in p, p
    assert "CartesianProduct" not in p, p


def test_a38b_rank_sorts_user_aggregates_not_corpus_rows(spark):
    """A38b: the scale form must collapse events to per-user sums
    BEFORE the 17x fan-out — the plan carries a partial/final agg on
    the corpus, and `event_id` never appears anywhere, so no stage can
    sort corpus rows (the r7 verdict's one scale-killer, cleared). The
    rank window then shuffles only user-level rows keyed by p."""
    p = plan(spark, "a38b_permutation_user_level", mode="simple")
    assert p.count("FileScan") == 1, p
    assert "event_id" not in p, p  # corpus row identity never planned
    assert "partial_sum" in p, p  # map-side combine on events
    assert "Generate" in p, p  # fan-out happens (over user aggregates)
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_a39_rank_shuffles_key_on_object_and_replicate(spark):
    """A39: the permutation rank sorts must partition by (user, p) —
    the bounded-group shape a38's cluster caveat prescribes — and the
    plan must stay join-free on corpus rows (the obs stat and the BH
    frontier both attach via windows)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from lightcurator_spark.operators.stats_ext import _a39_pvalues
    from lightcurator_spark.registry import load_table

    # corpus stage (behind the checkpoint boundary in the full query):
    # the permutation fan shuffles on (user_id[, p]) — bounded groups
    split = F.lit("2024-01-16").cast("timestamp")
    e = load_table(spark, SF_DIR, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
        F.when(F.col("ts") < split, 1).otherwise(0).cast("long").alias(
            "obs_arm"
        ),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _a39_pvalues(e).explain("simple")
    pcorp = buf.getvalue()
    assert pcorp.count("FileScan") == 1, pcorp
    assert "Generate" in pcorp, pcorp
    assert "hashpartitioning(user_id" in pcorp, pcorp
    assert "SortMergeJoin" not in pcorp and "ShuffledHashJoin" not in pcorp
    # BH tail (r8 verdict item 3): object rows rank inside
    # (p_numer, ubkt)-partitioned windows; kmax is a scalar agg +
    # broadcast — never a single-partition pass of the object table.
    # checkpoint=False exposes the tail plan the ranked checkpoint
    # would otherwise truncate; the operator itself keeps it on.
    from lightcurator_spark.operators.stats_ext import _bh_fdr_tail

    pv = _a39_pvalues(e).localCheckpoint(eager=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _bh_fdr_tail(pv, checkpoint=False).explain("simple")
    p = buf.getvalue()
    assert "windowspecdefinition(p_numer" in p, p
    assert "hashpartitioning(p_numer" in p, p
    assert "partial_percentile" in p, p
    assert "partial_max" in p, p  # kmax partial/final, not a window
    assert "CartesianProduct" not in p, p


def test_ml9_gd_iterations_never_rescan_the_corpus(spark):
    """ML9: the three GD steps must consume the 168-cell checkpointed
    block, not re-derive it — the plan downstream of the cells agg may
    not contain a second events FileScan (audited live: without the
    lazy localCheckpoint each step re-scanned the corpus)."""
    p = plan(spark, "ml9_logistic_gd", mode="simple")
    assert p.count("FileScan") == 0, p  # cells come from the RDD block
    assert "Scan ExistingRDD" in p, p
    assert "CartesianProduct" not in p, p


def test_l40_bm25_broadcasts_query_terms_one_corpus_explode(spark):
    """L40: the query-term table must broadcast (never shuffle the
    token-keyed tf table against an 11-row literal), the 1-row stats
    leg must attach by broadcast, and nothing may go cartesian on
    corpus-sized input."""
    p = plan(spark, "l40_bm25_retrieval", mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the deliberate 1-row stats leg


def test_l41_dsir_single_explode_feeds_all_legs(spark):
    """L41: the LM joins key on the token; the totals leg is a 1-row
    broadcast; no cartesian on corpus-sized relations."""
    p = plan(spark, "l41_dsir_importance", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row totals leg
    assert "Generate explode" in p, p


def test_g8_wedge_join_is_hash_equi_never_cartesian(spark):
    """G8: the two-hop wedge join and the mutuality semi-join must be
    hash equi-joins; degrees broadcast; no cartesian anywhere."""
    p = plan(spark, "g8_adamic_adar", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "LeftSemi" in p or "LeftAnti" in p, p


def test_a40_dq7_l43_single_scan_with_broadcast_total_leg(spark):
    """The three segment-census ops share one shape: ONE corpus scan
    feeding a partial/final agg, global totals attached as a broadcast
    1-row leg (BroadcastNestedLoopJoin on 1 row is the deliberate
    pattern) — never a second corpus scan or a real cartesian."""
    for name in (
        "a40_bayesian_shrinkage",
        "dq7_freshness_audit",
        "l43_temperature_mixture",
    ):
        p = plan(spark, name, mode="simple")
        # cells are a lazily-checkpointed block: the totals leg reads
        # them, never the corpus — zero FileScans downstream
        assert p.count("FileScan") == 0, (name, p)
        assert "Scan ExistingRDD" in p, (name, p)
        assert "BroadcastNestedLoopJoin" in p, (name, p)
        assert "CartesianProduct" not in p, (name, p)


def test_d25_aggs_are_partial_final_one_scan(spark):
    """D25: one events scan; both legs pre-reduce to per-key rows
    before the key-equi join (no corpus-sized join input)."""
    p = plan(spark, "d25_odd_even_depth", mode="simple")
    assert p.count("FileScan") == 0, p  # both legs read the cell block
    assert "Scan ExistingRDD" in p, p
    assert "CartesianProduct" not in p, p


def test_g9_bfs_rounds_consume_checkpointed_graph(spark):
    """G9: after the edge build, BFS rounds must consume the
    checkpointed sym RDD — no second pass over the 4-way trade join
    (FileScans appear only under the one graph-build subtree)."""
    p = plan(spark, "g9_harmonic_centrality", mode="simple")
    assert "Scan ExistingRDD" in p, p
    assert "CartesianProduct" not in p, p


def test_q31b_q32b_boundary_scoring_has_no_window(spark):
    """Q31b/Q32b (r8 verdict item 1): the boundary-scored Pareto/RFM
    plans must contain NO Window node — the quantile cuts come from a
    distributed partial/final `percentile` aggregate, and the only
    SinglePartition exchange sits ABOVE the partial percentile (it
    carries per-partition agg state, one row each — never customer
    rows)."""
    for name in ("q31b_pareto_boundary_scored", "q32b_rfm_boundary_scored"):
        p = plan(spark, name, mode="simple")
        assert "Window" not in p, f"{name} regressed to a window:\n{p}"
        # both legs consume the lazily-checkpointed customer aggregate
        # — the fact is never scanned twice
        assert p.count("FileScan") == 0 and "ExistingRDD" in p, p
        epos = p.find("Exchange SinglePartition")
        apos = p.find("partial_percentile")
        assert epos != -1 and apos != -1 and epos < apos, (
            f"{name}: the single-partition exchange must consume "
            f"percentile partials, not rows:\n{p}"
        )
        # the boundary leg broadcasts; customers are never broadcast
        assert "BroadcastExchange" in p, p


def test_g9b_bfs_rounds_never_reshuffle_the_bucketed_edge_list(spark):
    """G9b (r8 verdict item 2): every BFS round's frontier⋈edges join
    must consume the x-bucketed edge scan directly — no Exchange may
    hash-partition on the edge join key (`x`). The per-round plans are
    hidden behind localCheckpoint lineage truncation in the full
    query, so the tripwire explains ONE round built exactly as the
    operator builds it: bucketed scan + MERGE hint + node==x join."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from lightcurator_spark.operators.series_ext import _g9_edges_bucketed

    sym = spark.table(_g9_edges_bucketed(spark, SF_DIR))
    frontier = sym.select(
        F.col("x").alias("src"), F.col("x").alias("node")
    ).distinct()
    rnd = (
        frontier.join(sym.hint("MERGE"), frontier.node == sym.x)
        .select("src", F.col("y").alias("node"))
        .distinct()
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rnd.explain("simple")
    p = buf.getvalue()
    assert "Bucketed: true" in p, p
    assert "SortMergeJoin" in p, p
    assert "hashpartitioning(x#" not in p, p
    assert "CartesianProduct" not in p, p
    # and the full query plans clean end to end
    full = plan(spark, "g9b_harmonic_centrality_bucketed", mode="simple")
    assert "CartesianProduct" not in full, full


def test_l31b_candidate_join_is_exchange_free_on_the_term_key(spark):
    """L31b (r8 verdict item 4): the inverted-index candidate
    self-join must consume the g-bucketed postings scans directly —
    no Exchange may hash-partition on the term key; the only shuffle
    left is the (doc_a, doc_b) pair aggregation."""
    p = plan(spark, "l31b_sparse_cosine_bucketed", mode="simple")
    assert p.count("Bucketed: true") >= 2, p
    assert "SortMergeJoin" in p, p
    assert "hashpartitioning(g#" not in p, p
    assert "hashpartitioning(doc_a" in p, p  # the pair agg remains
    assert "CartesianProduct" not in p, p


def _query_or_api(spark, surface: str, name: str, call):
    """Registry query `name`, or `call` (its api body) applied directly
    to the documents table: both surfaces must keep the tuned shape."""
    from lightcurator_spark.registry import load_table

    if surface == "query":
        return SPECS[name].fn(spark, SF_DIR)
    return call(load_table(spark, SF_DIR, "documents"))


@pytest.mark.parametrize("surface", ["query", "api"])
def test_l40_bm25_reads_documents_once_with_one_explode(spark, surface):
    """tf, dl, df and the corpus stats all re-read ONE (doc, token)
    exchange: one documents scan, one token explode."""
    from lightcurator_spark import api
    from lightcurator_spark.operators.text_analysis import _BM25_QUERY_TERMS

    qt = spark.createDataFrame(_BM25_QUERY_TERMS, "query_id INT, term STRING")
    df = _query_or_api(
        spark, surface, "l40_bm25_retrieval",
        lambda d: api.bm25_retrieve(d, "doc_id", "text", qt, k=5),
    )
    ep = final_plan(df)
    assert ep.count("FileScan") == 1, ep
    assert ep.count("Generate ") == 1, ep


@pytest.mark.parametrize("surface", ["query", "api"])
def test_l43_mixture_reads_documents_once(spark, surface):
    """The unit-total leg re-reads the checkpointed source cells, never
    the corpus: at most one documents scan in the plan (none when the
    checkpoint has already cut the lineage)."""
    from lightcurator_spark import api

    df = _query_or_api(
        spark, surface, "l43_temperature_mixture",
        lambda d: api.mixture_weights(d, "source", "text"),
    )
    assert final_plan(df).count("FileScan") <= 1


@pytest.mark.parametrize("surface", ["query", "api"])
def test_l38_novelty_has_no_doc_gram_exchange(spark, surface):
    """Within-doc gram dedup is array_distinct in the map expression:
    every exchange is keyed on ONE column, never (doc, gram)."""
    import re

    from lightcurator_spark import api

    df = _query_or_api(
        spark, surface, "l38_ngram_novelty",
        lambda d: api.ngram_novelty(d, "doc_id", "text", n=3),
    )
    keys = re.findall(r"hashpartitioning\(([^)]*)\)", final_plan(df))
    assert keys and all(k.count(",") == 1 for k in keys), keys


@pytest.mark.parametrize(
    "name",
    ["l2_shingle_jaccard", "l33_shingle_containment", "l39_source_overlap_matrix"],
)
def test_gram_key_lanes_hash_salt_before_gram(spark, name):
    """The 128-bit gram key's second lane must be xxhash64('s', g): the
    gram hashed under a different seed. Spark chains multi-argument
    xxhash64 through the seed, so xxhash64(g, 's') is a function of
    the first lane's xxhash64(g) and the key is really 64-bit (an
    n²/2^65 collision bound instead of n²/2^129)."""
    import re

    p = SPECS[name].fn(spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
    calls = [
        [a.strip() for a in args.split(",")][:-1]  # last is the seed
        for args in re.findall(r"xxhash64\(([^()]*)\)", p)
    ]
    salted = [c for c in calls if len(c) > 1]
    assert salted, calls
    assert all(not c[0].startswith("lambda") for c in salted), calls

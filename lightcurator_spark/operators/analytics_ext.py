"""Round-4 analytics extensions: CDC snapshot diff, ordered event
funnel, retention cohorts, PageRank, count-min sketch, semantic dedup.

These widen the engine past the driver contract into the shapes a
production analytics / training-data platform runs daily: change-data
capture between table snapshots, funnel + cohort product analytics,
link-graph scoring for web-crawl curation, bounded-memory frequency
sketches, and embedding-cluster semantic dedup (SemDeDup-style).
No reference citation is possible (`/root/reference/` is empty —
SURVEY §0); the driver contract (BASELINE.json) plus these docstrings
are the binding spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark import api
from lightcurator_spark.plans.registry import EAGER_CHECKPOINT, EAGER_ITERATES, query
from lightcurator_spark.registry import load_table, table_rowcount


def R4(c):
    """Engine-stable 4-dp rounding (TRAPS.md #4): floor(x·1e4 + .5)/1e4."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


_M4_ORACLE = """
WITH a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         max_by(value, event_id) AS lastv
  FROM events
  WHERE event_type = 'error' AND value > 90
    AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
  GROUP BY user_id
),
b AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         max_by(value, event_id) AS lastv
  FROM events
  WHERE event_type = 'error' AND value > 90
    AND ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
  GROUP BY user_id
)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.user_id IS NULL THEN 'insert'
            WHEN b.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       a.n AS old_n, b.n AS new_n,
       floor(a.lastv * 10000 + 0.5) / 10000 AS old_last,
       floor(b.lastv * 10000 + 0.5) / 10000 AS new_last
FROM a FULL JOIN b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL
   OR a.n <> b.n
   OR floor(a.lastv * 10000 + 0.5) <> floor(b.lastv * 10000 + 0.5)
"""


@query("m4_snapshot_diff", oracle=_M4_ORACLE)
def m4_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: change-data-capture between two table snapshots — the diff
    feed a lakehouse emits when a dimension is re-derived (M1 applies
    a delta; M4 *computes* one). Snapshots = per-user high-severity
    error state over two adjacent trailing weeks; the diff labels each
    key insert / delete / update and carries both old and new state,
    suppressing unchanged keys — exactly the row shape a downstream
    MERGE (M1) or SCD2 writer (M2) consumes.

    Scale: each snapshot is a filtered partial/final agg (one row per
    key after the map-side combine), then ONE full-outer sort-merge
    join on the key. With both snapshots stored bucketed by key (S7
    layout) the join is shuffle-free and CDC cost is O(changed keys) —
    at 100 TB the diff never materializes either table unaggregated.
    Change detection compares the rounded state on both engines
    identically (TRAPS.md #4).
    """
    ev = load_table(spark, sf_dir, "events")

    def snap(lo: str, hi: str) -> DataFrame:
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
                F.expr("max_by(value, event_id)").alias("lastv"),
            )
        )

    a = snap("2024-01-08", "2024-01-15").alias("a")
    b = snap("2024-01-15", "2024-01-22").alias("b")
    au, bu = F.col("a.user_id"), F.col("b.user_id")
    an, bn = F.col("a.n"), F.col("b.n")
    al, bl = F.col("a.lastv"), F.col("b.lastv")
    return (
        a.join(b, au == bu, "full_outer")
        .filter(
            au.isNull()
            | bu.isNull()
            | (an != bn)
            | (F.floor(al * 10000 + F.lit(0.5)) != F.floor(bl * 10000 + F.lit(0.5)))
        )
        .select(
            F.coalesce(au, bu).alias("user_id"),
            F.when(au.isNull(), "insert")
            .when(bu.isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            an.alias("old_n"),
            bn.alias("new_n"),
            R4(al).alias("old_last"),
            R4(bl).alias("new_last"),
        )
    )


# 6-hour per-stage conversion window, in µs.
_W9_WIN_US = 6 * 3600 * 1_000_000

_W9_ORACLE = f"""
WITH base AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
u AS (SELECT DISTINCT user_id FROM base),
v AS (
  SELECT user_id, min(us) AS v_us FROM base
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT b.user_id, min(b.us) AS c_us FROM base b
  JOIN v ON b.user_id = v.user_id
  WHERE b.event_type = 'click'
    AND b.us > v.v_us AND b.us <= v.v_us + {_W9_WIN_US}
  GROUP BY b.user_id
),
p AS (
  SELECT b.user_id, min(b.us) AS p_us FROM base b
  JOIN c ON b.user_id = c.user_id
  WHERE b.event_type = 'purchase'
    AND b.us > c.c_us AND b.us <= c.c_us + {_W9_WIN_US}
  GROUP BY b.user_id
)
SELECT u.user_id, v.v_us, c.c_us, p.p_us,
       CAST(CASE WHEN v.v_us IS NULL THEN 0 ELSE 1 END
          + CASE WHEN c.c_us IS NULL THEN 0 ELSE 1 END
          + CASE WHEN p.p_us IS NULL THEN 0 ELSE 1 END AS INT) AS reached
FROM u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
"""


@query("w9_event_funnel", oracle=_W9_ORACLE)
def w9_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: strict-order conversion funnel (view → click → purchase,
    each stage within 6 h of the previous) — the MATCH_RECOGNIZE /
    sequence-pattern shape product analytics engines special-case.
    Spark-first expression: ONE groupBy collects each user's events as
    a sorted (us, event_id, type) array, then a higher-order
    ``F.aggregate`` fold runs the 3-state machine entirely inside
    whole-stage codegen — first view sets v, first click in
    (v, v+6h] sets c, first purchase in (c, c+6h] sets p. The oracle
    states the same semantics as a join ladder of windowed MINs; the
    fold visits events in ascending (us, event_id) order so "first
    qualifying" ≡ "MIN in window".

    Scale: one shuffle (groupBy user), state is O(1) per user, array
    size is per-user event count — bounded in product telemetry (and
    the join-ladder formulation, three semi-joins against tiny
    per-user stage tables, is the documented alternative when a single
    key's history exceeds memory). No window function, no self-join,
    no Python.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_type").isin("view", "click", "purchase"))
    arr = base.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("us"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("et"),
                )
            )
        ).alias("evs")
    )
    W = F.lit(_W9_WIN_US)
    zero = F.struct(
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("p"),
    )

    def step(acc, x):
        return F.struct(
            F.when(
                acc["v"].isNull() & (x["et"] == F.lit("view")), x["us"]
            )
            .otherwise(acc["v"])
            .alias("v"),
            F.when(
                acc["c"].isNull()
                & acc["v"].isNotNull()
                & (x["et"] == F.lit("click"))
                & (x["us"] > acc["v"])
                & (x["us"] <= acc["v"] + W),
                x["us"],
            )
            .otherwise(acc["c"])
            .alias("c"),
            F.when(
                acc["p"].isNull()
                & acc["c"].isNotNull()
                & (x["et"] == F.lit("purchase"))
                & (x["us"] > acc["c"])
                & (x["us"] <= acc["c"] + W),
                x["us"],
            )
            .otherwise(acc["p"])
            .alias("p"),
        )

    st = F.aggregate("evs", zero, step)
    reached = (
        st["v"].isNotNull().cast("int")
        + st["c"].isNotNull().cast("int")
        + st["p"].isNotNull().cast("int")
    )
    return arr.select(
        "user_id",
        st["v"].alias("v_us"),
        st["c"].alias("c_us"),
        st["p"].alias("p_us"),
        reached.alias("reached"),
    )


_Q23_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
  FROM events
  WHERE event_type = 'purchase' AND value > 100
  GROUP BY user_id
)
SELECT f.cohort_date,
       CAST(floor(date_diff('day', f.cohort_date, CAST(e.ts AS DATE)) / 7.0)
            AS BIGINT) AS week_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM events e JOIN first_seen f ON e.user_id = f.user_id
WHERE CAST(e.ts AS DATE) >= f.cohort_date
GROUP BY f.cohort_date, week_offset
"""


@query("q23_retention_cohorts", oracle=_Q23_ORACLE)
def q23_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q23: retention-cohort matrix — users grouped by the date of
    their first qualifying conversion (purchase with value > 100),
    subsequent activity counted per week-offset since that date; the
    triangle heatmap every growth dashboard renders. Shape: a
    per-user conditional MIN (first conversion), a join back onto the
    raw event stream, and a two-key distinct-count.

    Scale: first_seen is one row per user — broadcast it (pinned
    below) so the 100 TB event side never shuffles for the join; the
    countDistinct shuffles on (cohort, week, user) for exact partial
    dedup, then (cohort, week) — both keys are low-cardinality ×
    users, no skew (a cohort's users spread over the hash space). A
    30-day corpus yields ≤ ~5 offsets per cohort; output is
    O(cohorts × weeks), dashboard-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 100))
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("cohort_date"))
    )
    j = ev.join(F.broadcast(first_seen), "user_id").filter(
        F.col("ts").cast("date") >= F.col("cohort_date")
    )
    week_offset = F.floor(
        F.datediff(F.col("ts").cast("date"), F.col("cohort_date")) / 7.0
    ).cast("long")
    return (
        j.select("user_id", "cohort_date", week_offset.alias("week_offset"))
        .groupBy("cohort_date", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "g1_pagerank",
    eager=EAGER_ITERATES,
    oracle=None,
    note="rows-only: iterative power method (fixpoint class, SURVEY §2 "
    "oracle exemption); property test compares against a NumPy power "
    "iteration over the identical edge list",
)
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: PageRank over the customer→supplier purchase graph — the
    link-graph scoring a web-crawl curation pipeline runs to weight
    documents by host authority before sampling training data. Edges =
    distinct (o_custkey → l_suppkey) pairs from orders ⋈ lineitem
    (customers cite the suppliers they buy from); node ids disambiguate
    the two key spaces as 2k / 2k+1.

    Standard damped formulation (d = 0.85), 8 synchronous iterations:
    rank' = (1−d)/N + d·(Σ_in rank/deg + dangling/N), with the dangling
    mass (suppliers have no out-edges) folded back uniformly so ranks
    sum to 1 every round.

    Iterative pattern at scale: each round is ONE shuffle (edge ⋈ rank
    equi-join on src + sum-agg on dst); the dangling term is a scalar
    aggregate broadcast back (no driver collect); ``localCheckpoint``
    truncates lineage per round exactly like L9. Pre-partitioning both
    edges and ranks by src (or bucketing the edge table, S7) makes the
    per-round join shuffle-free — rounds then cost one agg exchange
    each, the shape GraphX/Pregel implements natively.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    d = 0.85
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(8):
        with_deg = ranks.join(deg, ranks.node == deg.src, "left").select(
            "node", "rank", "deg"
        )
        # Scalar dangling mass, broadcast back — no driver-side collect.
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contribs = (
            edges.join(
                with_deg.filter(F.col("deg").isNotNull()),
                edges.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n_nodes)
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / n_nodes
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.floor(F.col("node") / 2).cast("long").alias("entity_key"),
            (F.floor(F.col("rank") * 1e8 + F.lit(0.5)) / 1e8).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "node_type", "entity_key")
        .limit(20)
    )


_G1B_SCALE = 1_000_000_000_000  # rank unit = 1e-12 of total mass

_G1B_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT node, {_G1B_SCALE} // nn.n AS rank FROM nodes CROSS JOIN nn
),
d1 AS (SELECT COALESCE(sum(r.rank), 0) AS dm FROM r0 r
       LEFT JOIN deg ON deg.src = r.node WHERE deg.src IS NULL),
c1 AS (SELECT e.dst AS node, sum(r.rank // deg.deg) AS contrib
       FROM r0 r JOIN deg ON deg.src = r.node JOIN edges e ON e.src = r.node
       GROUP BY e.dst),
r1 AS (
  SELECT nodes.node,
         (3 * {_G1B_SCALE}) // (20 * nn.n)
           + (17 * (COALESCE(c.contrib, 0) + d1.dm // nn.n)) // 20 AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d1 LEFT JOIN c1 c ON c.node = nodes.node
),
d2 AS (SELECT COALESCE(sum(r.rank), 0) AS dm FROM r1 r
       LEFT JOIN deg ON deg.src = r.node WHERE deg.src IS NULL),
c2 AS (SELECT e.dst AS node, sum(r.rank // deg.deg) AS contrib
       FROM r1 r JOIN deg ON deg.src = r.node JOIN edges e ON e.src = r.node
       GROUP BY e.dst),
r2 AS (
  SELECT nodes.node,
         (3 * {_G1B_SCALE}) // (20 * nn.n)
           + (17 * (COALESCE(c.contrib, 0) + d2.dm // nn.n)) // 20 AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d2 LEFT JOIN c2 c ON c.node = nodes.node
),
d3 AS (SELECT COALESCE(sum(r.rank), 0) AS dm FROM r2 r
       LEFT JOIN deg ON deg.src = r.node WHERE deg.src IS NULL),
c3 AS (SELECT e.dst AS node, sum(r.rank // deg.deg) AS contrib
       FROM r2 r JOIN deg ON deg.src = r.node JOIN edges e ON e.src = r.node
       GROUP BY e.dst),
r3 AS (
  SELECT nodes.node,
         (3 * {_G1B_SCALE}) // (20 * nn.n)
           + (17 * (COALESCE(c.contrib, 0) + d3.dm // nn.n)) // 20 AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d3 LEFT JOIN c3 c ON c.node = nodes.node
)
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS entity_key,
       CAST(rank AS BIGINT) AS rank_fp
FROM r3
ORDER BY rank_fp DESC, node_type, entity_key
LIMIT 20
"""


@query(
    "g1b_pagerank_fixed3",
    oracle=_G1B_ORACLE,
    eager=EAGER_ITERATES,
)
def g1b_pagerank_fixed3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1b: PageRank with FIXED-POINT arithmetic — the hash-oracled
    twin of ``g1_pagerank`` (r4 VERDICT missing #4). Ranks live in
    integer units of 1e-12 of total mass and every per-iteration
    operation is integer (``div`` for share-splitting, integer sums
    for contributions), so the computation is bit-identical across
    engines REGARDLESS of summation order — the float-drift problem
    that keeps iterative numeric loops rows-only simply cannot occur.
    The DuckDB oracle unrolls the 3 damped iterations as plain chained
    CTEs (aggregation is illegal inside a recursive CTE, so G2's
    recursive pattern doesn't apply; fixed iteration count makes
    unrolling exact).

    Same structure per round as G1: one edge⋈rank equi-join + dst
    agg, dangling mass as a 1-row broadcast scalar, lineage truncated
    per round with ``localCheckpoint``. The quantization loses ≤1 unit
    (1e-12) of mass per node per round — semantically negligible and
    part of the pinned definition.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    base = (3 * _G1B_SCALE) // (20 * n_nodes)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(_G1B_SCALE // n_nodes))
    for _ in range(3):
        with_deg = ranks.join(deg, ranks.node == deg.src, "left").select(
            "node", "rank", "deg"
        )
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("dmass")
        )
        contribs = (
            edges.join(
                with_deg.filter(F.col("deg").isNotNull()),
                edges.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div deg")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"(17 * (coalesce(contrib, 0) + dmass div {n_nodes}))"
                        " div 20"
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            F.col("rank").cast("long").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), "node_type", "entity_key")
        .limit(20)
    )


def cms_sketch(df: DataFrame, key_col: str, depth: int = 4, width: int = 64) -> DataFrame:
    """Count-min sketch as a (seed, bucket) → cnt DataFrame.

    Built with explode + partial/final count, so two sketches merge by
    unioning their rows and summing cnt per (seed, bucket) — the CMS
    mergeability law, tested in test_a17_cms_properties.
    """
    seeds = F.array(*[F.lit(i) for i in range(depth)])
    return (
        df.select(F.col(key_col).alias("k"), F.explode(seeds).alias("seed"))
        .withColumn("bucket", F.pmod(F.xxhash64("seed", "k"), F.lit(width)))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "a17_cms_frequency",
    oracle=None,
    note="rows-only: xxhash64-seeded sketch buckets are engine-specific; "
    "property tests assert no-undercount, a corpus-measured overcount "
    "bound, and sketch-merge associativity",
)
def a17_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: count-min sketch — the bounded-memory frequency estimator
    that answers per-key counts when the key cardinality makes an
    exact GROUP BY state unaffordable (A16 bounds the *output* via
    summarize-then-verify; A17 bounds the *state*: d×w counters,
    period). Depth d=4 seeded xxhash64 rows, width w=64: each event
    increments one bucket per row, estimate = min over rows. All
    JVM-side — the sketch IS a (seed, bucket) → count DataFrame built
    by explode + groupBy, so partial aggregation gives the classic
    mergeability (CMS(A ∪ B) = CMS(A) + CMS(B)) for free, the property
    that makes sketches work across 100 TB partitions and across days.

    Output: every distinct key with exact count (computable on this
    corpus) vs sketch estimate and the guaranteed-non-negative
    overcount — the estimator's one-sided error made visible.
    """
    ev = load_table(spark, sf_dir, "events")
    DEPTH, WIDTH = 4, 64
    seeds = F.array(*[F.lit(i) for i in range(DEPTH)])
    sketch = cms_sketch(ev, "user_id", DEPTH, WIDTH)

    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select("user_id", F.explode(seeds).alias("seed")).withColumn(
        "bucket", F.pmod(F.xxhash64("seed", "user_id"), F.lit(WIDTH))
    )
    est = (
        probes.join(sketch, ["seed", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_n"))
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("user_id")
    )


def sampled_centers_from_df(
    df: DataFrame,
    vec_col: str,
    k: int,
    fraction: float = 0.1,
    iters: int = 20,
) -> list[list[float]]:
    """Coarse-quantizer training the way a 100 TB pipeline actually
    does it: pull a deterministic SAMPLE to the driver (seed-42; at
    cluster scale the 0.1 %-of-corpus sample l4d's docstring pins) and
    run Lloyd's iterations in NumPy — measured 0.2 s where the
    distributed MLlib fit over the full corpus costs 17 s at sf0.1,
    because a quantizer only needs the sample's geometry, not every
    row. Falls back to the full corpus when the sample is smaller
    than k (the sf0.001 corner). Returns AT MOST k centers as plain
    lists for map-side literal assignment: when even the full corpus
    has fewer than k rows, k is clamped to the corpus size (r10
    ADVICE fix — rng.choice(replace=False) with k > len(X) raised an
    opaque numpy ValueError, reachable from api.ivf_knn's default
    n_cells=32 on a tiny corpus; an IVF with one cell per row is the
    correct degenerate quantizer, not a crash)."""
    import numpy as np

    e = df.select(vec_col)
    # fraction MUST be a keyword here: PySpark 4.1's overload
    # resolution for sample(<float>, seed=N) silently DROPS the seed
    # (each call draws fresh), making the "seed-42 deterministic
    # sample" a lie — caught live when ml5b's agreement floor
    # wobbled across a full-suite run (TRAPS #32)
    s = e.sample(fraction=fraction, seed=42).collect()
    if len(s) < k:
        s = e.collect()
    if not s:
        raise ValueError(
            f"sampled_centers_from_df: corpus column {vec_col!r} is "
            "empty — cannot train a quantizer on zero vectors"
        )
    X = np.array([list(r[0]) for r in s], dtype="float64")
    k = min(k, len(X))
    rng = np.random.default_rng(42)
    C = X[rng.choice(len(X), k, replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        C = np.array(
            [X[a == j].mean(0) if (a == j).any() else C[j] for j in range(k)]
        )
    return [list(map(float, c)) for c in C]


def sampled_kmeans_centers(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    fraction: float = 0.1,
    iters: int = 20,
) -> list[list[float]]:
    """sampled_centers_from_df over the fixture embeddings table —
    the registry-facing wrapper (see that function for the 100 TB
    rationale and measurements)."""
    return sampled_centers_from_df(
        load_table(spark, sf_dir, "embeddings"), "embedding", k, fraction, iters
    )


def two_level_probe_cells(
    spark: SparkSession,
    df: DataFrame,
    centers: list[list[float]],
    probes: int = 8,
    coarse_probes: int = 3,
) -> DataFrame:
    """Two-level IVF quantizer ASSIGNMENT — the parameter law the
    round-10 scale probe named (SCALING.md r10b): single-level
    assignment computes d² from every row to ALL k centers, so with
    the production rule k ∝ corpus size the assignment itself turns
    quadratic (measured: the 22x-at-16x bend in ml5b's tri-scale).
    This is the IVF-HNSW coarse-layer fix at its simplest: cluster
    the k centers into √k SUPER-centers driver-side, assign each row
    map-side to its `coarse_probes` nearest super-cells (√k literal
    dots), broadcast-join the super→members table, and score only
    those members (≈ coarse_probes·√k candidate cells per row) — per-
    row work drops from O(k) to O(√k), restoring overall linearity.

    Approximation surface: a row's true nearest cell can live in a
    non-probed super-cell. Measured against exact single-level
    assignment at k=64 on this corpus (sf0.01): primary-cell
    agreement 0.85 / 0.93 / 0.96 and top-8 probe overlap 0.56 / 0.72
    / 0.84 at coarse_probes = 2 / 3 / 4 — the property test pins
    ≥ 0.9 agreement at the default coarse_probes=3, and the miss mode
    is the SAME boundary-straddle multi-probe already tolerates
    downstream (candidates, not answers). The coarse_probes/√k dial
    trades fidelity for assignment cost exactly like probes/k trades
    recall for candidate cost one level down.
    Returns (vec_id, <other cols>, embedding, nrm, probe_cells,
    cell_id) — semantic_cell_assignments' contract, drop-in for its
    callers.
    """
    import numpy as np

    k = len(centers)
    # n_super may never exceed k (rng.choice replace=False) — a tiny
    # quantizer (k=1 after the corpus-size clamp) degenerates to one
    # super-cell, which is just single-level assignment
    n_super = min(k, max(2, int(round(k ** 0.5))))
    C = np.array(centers, dtype="float64")
    rng = np.random.default_rng(42)
    S = C[rng.choice(k, n_super, replace=False)]
    for _ in range(15):
        d2 = ((C[:, None, :] - S[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        S = np.array(
            [C[a == j].mean(0) if (a == j).any() else S[j] for j in range(n_super)]
        )
    member_of = ((C[:, None, :] - S[None, :, :]) ** 2).sum(-1).argmin(1)
    members = spark.createDataFrame(
        [
            (
                int(s),
                [
                    {"cell": int(ci), "c": [float(x) for x in C[ci]]}
                    for ci in np.where(member_of == s)[0]
                ],
            )
            for s in range(n_super)
        ],
        "super int, members array<struct<cell:int, c:array<double>>>",
    )
    v = F.col("embedding").cast("array<double>")
    nrm2 = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
    )

    def dot_lit(ctr):
        return F.aggregate(
            F.zip_with(v, F.array(*[F.lit(float(x)) for x in ctr]), lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    sup_structs = F.array(
        *[
            F.struct(
                (nrm2 - 2 * dot_lit(s) + F.lit(float((s * s).sum()))).alias("d2"),
                F.lit(i).alias("super"),
            )
            for i, s in enumerate(S)
        ]
    )
    probed_sup = df.withColumn("nrm", F.sqrt(nrm2)).withColumn(
        "super",
        F.explode(
            F.transform(
                F.slice(F.array_sort(sup_structs), 1, coarse_probes),
                lambda st: st["super"],
            )
        ),
    )
    # score only the probed super-cells' member centers: per candidate
    # cell, d2 = |v|^2 - 2 v.c + |c|^2 — all inside higher-order
    # functions on the broadcast members array (no UDF)
    cand = (
        probed_sup.join(F.broadcast(members), "super")
        .withColumn("m", F.explode("members"))
        .withColumn(
            "d2",
            F.col("nrm") * F.col("nrm")
            - 2
            * F.aggregate(
                F.zip_with(v, F.col("m.c"), lambda a, b: a * b),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            + F.aggregate(
                F.zip_with(F.col("m.c"), F.col("m.c"), lambda a, b: a * b),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("d2").asc(), F.col("m.cell").asc()
                )
            ),
        )
        .filter(F.col("rk") <= probes)
    )
    keep = [c for c in df.columns if c != "embedding"]
    return (
        cand.groupBy("vec_id")
        .agg(
            F.first("nrm").alias("nrm"),
            F.expr("sort_array(collect_list(struct(rk, m.cell as cell)))").alias(
                "__pc"
            ),
        )
        .withColumn("probe_cells", F.expr("transform(__pc, s -> s.cell)"))
        .withColumn("cell_id", F.element_at("probe_cells", 1))
        .drop("__pc")
        .join(df, "vec_id")
        .select(
            "vec_id",
            *[c for c in keep if c != "vec_id"],
            "embedding",
            "nrm",
            "probe_cells",
            "cell_id",
        )
    )


def semantic_cell_assignments(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    probes: int = 2,
    fit: str = "mllib",
) -> DataFrame:
    """Shared L20 assignment stage: seed-42 k-means centers, then each
    vector's ``probes`` nearest cells computed MAP-SIDE from the
    center literals (d² = ‖v‖² − 2·v·c + ‖c‖², sorted per row) — no
    second MLlib pass, no shuffle. Multi-probe is the SemDeDup recall
    fix: a near-dup pair split by a cell boundary still meets in the
    second-nearest cell. Returns (vec_id, embedding, nrm,
    probe_cells array, cell_id = primary).

    ``fit`` picks the quantizer training path: "mllib" (full-corpus
    distributed fit — l20/l4d's historical behavior, kept for their
    pinned assignments) or "sample" (driver-side NumPy Lloyd on a
    deterministic sample — the 100 TB shape, ~100× cheaper; ml5b)."""
    from lightcurator_spark.operators.similarity import dot

    e = load_table(spark, sf_dir, "embeddings")
    if fit == "sample":
        centers = sampled_kmeans_centers(spark, sf_dir, k)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        ev = e.withColumn(
            "feat", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        km = KMeans(k=k, seed=42, featuresCol="feat", predictionCol="cell_id")
        centers = [list(map(float, c)) for c in km.fit(ev).clusterCenters()]
    # r12 optimization (guide §4.2): the per-row k d² evaluations were
    # k interpreted aggregate(zip_with) folds + a struct array_sort
    # (~1.5 s of ml5b's fresh time at sf0.1, k=16); one numpy GEMM per
    # Arrow batch computes the same d² = ‖v‖² − 2·v·C + ‖C‖² matrix
    # and a stable argsort reproduces the (d2, cell) lexicographic
    # order (stable sort ties break by column index = cell asc, the
    # struct sort's tie rule). The center matrix is a k×64 task-local
    # constant — map-side at any corpus size, same contract as the
    # literal-folds form it replaces.
    import numpy as np
    import pandas as pd

    nrm2 = dot("embedding", "embedding")
    C = np.array(centers, dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            nrm2_np = (A * A).sum(axis=1)
            d2 = nrm2_np[:, None] - 2.0 * (A @ C.T) + c2[None, :]
            order = np.argsort(d2, axis=1, kind="stable")[:, :probes].astype(
                np.int32
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    # exported nrm stays the JVM sequential-fold value
                    # (passed through untouched) — downstream EXACT
                    # cosines divide by it; numpy's nrm2 is used only
                    # inside the d² probe choice
                    "nrm": pdf["nrm"],
                    "probe_cells": [row.tolist() for row in order],
                    "cell_id": order[:, 0],
                }
            )

    return e.select(
        "vec_id", "embedding", F.sqrt(nrm2).alias("nrm")
    ).mapInPandas(
        assign,
        "vec_id long, embedding array<float>, nrm double, "
        "probe_cells array<int>, cell_id int",
    )


@query(
    "l20_semantic_dedup",
    eager="fits an MLlib KMeans model, whose iterations run on the driver",
    oracle=None,
    note="rows-only: k-means-seeded cluster ids; property test replays "
    "the multi-probe drop rule brute-force in NumPy over the same "
    "assignments and asserts the identical kept set",
)
def l20_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20: semantic dedup (SemDeDup shape, Abbas et al. 2023) — remove
    embedding-level near-duplicates that exact (L1) and lexical (L3)
    dedup both miss: same meaning, different words. The 100 TB
    tractability trick is clustering-then-local-comparison: seed-42
    k-means (k=16, shared with L4d's IVF) coarse-partitions the
    corpus, and exact cosine runs ONLY between vectors sharing a
    probed cell (equi-join on cell — never the O(n²) corpus
    cross-join); any vector with a lower-id neighbor above τ=0.42 in
    a shared cell is dropped (τ sits at this corpus's 99.95th pair
    percentile — high-similarity outliers, the SemDeDup regime).

    **Multi-probe assignment** (each vector joins its 2 nearest
    cells) is the recall fix for boundary-straddling pairs:
    single-probe recall vs the global drop rule measured 0.30 on this
    weakly-clustered corpus, multi-probe substantially higher at 2×
    the join input (≤4× candidate pairs) — the standard cost/recall
    dial, still never quadratic. Residual misses are pairs whose
    probed cell sets are disjoint — the loss the paper accepts,
    measured in `test_l20_multiprobe_recall_vs_global_rule`.

    Scale: pair work is Σ|cell|²·probes², controlled by k (k ~ √n);
    cells are independent → embarrassingly parallel; norms computed
    once map-side (L5's trick); assignment itself is map-side
    arithmetic against center literals — no MLlib transform pass.
    """
    from lightcurator_spark.operators.similarity import auto_cells, dot

    e_n = table_rowcount(sf_dir, "embeddings")  # footer metadata, no job
    if e_n <= 16 * 125:
        # pinned historical behavior at the test SFs (k=16, full MLlib
        # fit, probes=2) — the NumPy replay test binds to these cells
        assigned = semantic_cell_assignments(spark, sf_dir)
    else:
        # the r12 cell law (ml5b's suite-probe fix): cell size pins at
        # ~125 so pair work Σ|cell|²·probes² stays linear in n — the
        # docstring's "k ~ √n-ish" control made CODE; sample-trained
        # quantizer + two-level assignment past the flat regime
        k = auto_cells(e_n)
        centers = sampled_kmeans_centers(spark, sf_dir, k)
        assigned = two_level_probe_cells(
            spark,
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            ),
            centers,
            probes=2,
        ).localCheckpoint(eager=False)

    a = assigned.select(
        F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        F.explode("probe_cells").alias("cell"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        F.explode("probe_cells").alias("cell"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("vid_a") < F.col("vid_b"))
        .filter(dot("va", "vb") / (F.col("na") * F.col("nb")) > 0.42)
        .select(F.col("vid_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.when(F.col("is_dropped").isNull(), 1).otherwise(0).alias("kept"),
        )
        .orderBy("vec_id")
    )


_DQ1_ORACLE = """
SELECT 'orders_custkey_fk' AS constraint_name,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem_orderkey_fk',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'customer_custkey_unique',
       CAST(count(*) AS BIGINT),
       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
FROM customer
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_value_not_null',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
"""


@query("dq1_constraint_census", oracle=_DQ1_ORACLE)
def dq1_constraint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1: declarative data-quality gate — the expectations check a
    training-data pipeline runs before promoting a snapshot: foreign
    keys resolve (orders→customer, lineitem→orders), primary keys are
    unique, numeric ranges hold, required columns are non-null. One
    census row per constraint: rows checked, violations found. A
    non-zero violation row is the signal that quarantines the batch
    (the write-audit-publish pattern).

    Scale: each FK check is ONE left join against the (small) parent
    key side — broadcast when the parent fits, bucketed otherwise —
    counted with a conditional agg, never materializing violation
    rows; uniqueness is count vs count(DISTINCT) in one partial/final
    pass; range/null checks are pure scan+agg with the predicate
    pushed. Checks over the same table share its scan via union in
    one DAG, so the full gate costs roughly one pass per table.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    fk_orders = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left",
        ).agg(
            F.lit("orders_custkey_fk").alias("constraint_name"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "n_violations"
            ),
        )
    )
    fk_lineitem = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        ).agg(
            F.lit("lineitem_orderkey_fk").alias("constraint_name"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "n_violations"
            ),
        )
    )
    pk_cust = cust.agg(
        F.lit("customer_custkey_unique").alias("constraint_name"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.count_distinct("c_custkey")).alias("n_violations"),
    )
    rng_li = li.agg(
        F.lit("lineitem_discount_range").alias("constraint_name"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("n_violations"),
    )
    nn_ev = ev.agg(
        F.lit("events_value_not_null").alias("constraint_name"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_violations"),
    )
    return fk_orders.unionAll(fk_lineitem).unionAll(pk_cust).unionAll(rng_li).unionAll(nn_ev)


_Q24_ORACLE = """
WITH samp AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_sampled,
         avg(o_totalprice) AS est_avg
  FROM orders
  WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
             AS BIGINT) % 100 < 5
  GROUP BY o_orderpriority
),
exact AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n_total,
         avg(o_totalprice) AS exact_avg
  FROM orders GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, s.n_sampled, e.n_total,
       floor(s.est_avg * 10000 + 0.5) / 10000 AS est_avg,
       floor(e.exact_avg * 10000 + 0.5) / 10000 AS exact_avg,
       floor(abs(s.est_avg - e.exact_avg) / e.exact_avg * 10000 + 0.5) / 10000
         AS rel_err
FROM exact e JOIN samp s ON e.o_orderpriority = s.o_orderpriority
"""


@query("q24_aqp_estimate", oracle=_Q24_ORACLE)
def q24_aqp_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q24: approximate query processing — answer a grouped average
    from a deterministic 5% content-keyed sample (P7's md5-bucket
    idiom) and quantify the error against the exact answer. The
    sampled estimate is what a 100 TB interactive dashboard actually
    serves (scan 5% of the fact, get within ~1%); the exact side here
    exists to EXPOSE the estimator error as data — in production it is
    the nightly batch that calibrates the advertised error bars.

    Scale: the sample side scans with a map-side hash filter (5% of
    rows survive to the agg, so agg state and shuffle shrink 20×);
    both sides are partial/final aggs on the same low-cardinality key,
    joined at priority granularity (5 rows). Content-keyed sampling
    means the same rows survive on every engine/run/partitioning —
    reproducible estimates, auditable error.
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    samp = (
        o.filter(bucket < 5)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.avg("o_totalprice").alias("est_avg_raw"),
        )
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.avg("o_totalprice").alias("exact_avg_raw"),
    )
    return exact.join(samp, "o_orderpriority").select(
        "o_orderpriority",
        "n_sampled",
        "n_total",
        R4(F.col("est_avg_raw")).alias("est_avg"),
        R4(F.col("exact_avg_raw")).alias("exact_avg"),
        R4(
            F.abs(F.col("est_avg_raw") - F.col("exact_avg_raw"))
            / F.col("exact_avg_raw")
        ).alias("rel_err"),
    )


_W10_ORACLE = """
WITH s AS (
  SELECT user_id, value, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS next_us
  FROM events
)
SELECT user_id,
       CAST(count(next_us) AS BIGINT) AS n_intervals,
       floor(((max(us) - min(us)) / 1000000.0) * 10000 + 0.5) / 10000 AS span_s,
       floor((sum(value * (next_us - us)) / sum(next_us - us)) * 10000 + 0.5)
         / 10000 AS twap,
       floor(avg(value) * 10000 + 0.5) / 10000 AS plain_avg
FROM s
GROUP BY user_id
"""


@query("w10_time_weighted_avg", oracle=_W10_ORACLE)
def w10_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: time-weighted average over an irregular series — each
    observation holds until the next one, so its weight is its holding
    interval (the TWAP of finance, the time-weighted gauge of
    observability; the plain average over-weights bursts of rapid
    sampling). Last observation per key carries no interval and is
    excluded, the standard convention. Reported next to the plain
    average so the sampling-bias correction is visible as data.

    Scale: ONE exchange on user_id serves both the lead() window and
    the final agg (sort order reused); weights are map-side arithmetic;
    the agg is partial/final. Nulls (the last row's missing lead) drop
    out of sum() on both engines identically.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = ev.select(
        "user_id",
        "value",
        "event_id",
        F.unix_micros("ts").alias("us"),
    ).withColumn("next_us", F.lead("us").over(w))
    dt = F.col("next_us") - F.col("us")
    return s.groupBy("user_id").agg(
        F.count("next_us").alias("n_intervals"),
        R4((F.max("us") - F.min("us")) / 1_000_000.0).alias("span_s"),
        R4(F.sum(F.col("value") * dt) / F.sum(dt)).alias("twap"),
        R4(F.avg("value")).alias("plain_avg"),
    )


_D16_ORACLE = """
WITH s AS (
  SELECT user_id, value,
         (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       floor(regr_slope(value, x) * 10000 + 0.5) / 10000 AS slope_per_day,
       floor(regr_intercept(value, x) * 10000 + 0.5) / 10000 AS intercept,
       floor(stddev_samp(value) * 10000 + 0.5) / 10000 AS sd_raw,
       floor(sqrt(var_samp(value) * (1 - corr(value, x) * corr(value, x)))
             * 10000 + 0.5) / 10000 AS sd_detrended
FROM s
GROUP BY user_id
"""


@query("d16_linear_detrend", oracle=_D16_ORACLE)
def d16_linear_detrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16: per-object linear detrending — fit value ~ time per object
    and report the variability that REMAINS after removing the secular
    trend. A slowly brightening source inflates raw σ (D13/A5) without
    being "variable" in the interesting sense; the detrended σ is the
    honest screen. Uses the OLS identity RSS-variance = var(y)·(1−r²),
    so slope, intercept, raw σ and detrended σ all come out of ONE
    partial/final aggregation pass — no residual join-back, no second
    scan (the 100 TB win over fit-then-subtract).

    The time axis is centered on the corpus epoch (2024-01-01) in days
    — identical constant both engines — because regression moments on
    an uncentered epoch-µs axis (~1.7e15) would hit catastrophic
    cancellation differently per engine.
    """
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_micros("ts") - F.lit(1704067200000000)) / 86400000000.0
    s = ev.select("user_id", "value", x.alias("x"))
    r = F.corr("value", "x")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        R4(F.regr_slope("value", "x")).alias("slope_per_day"),
        R4(F.regr_intercept("value", "x")).alias("intercept"),
        R4(F.stddev_samp("value")).alias("sd_raw"),
        R4(F.sqrt(F.var_samp("value") * (1 - r * r))).alias("sd_detrended"),
    )


_P9_ORACLE = """
WITH per_entity AS (
  SELECT l_orderkey,
         CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1998-01-01')
              AS BIGINT) AS n_train,
         CAST(count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01')
              AS BIGINT) AS n_test
  FROM lineitem GROUP BY l_orderkey
)
SELECT CASE WHEN n_train > 0 AND n_test > 0 THEN 'leaky'
            WHEN n_train > 0 THEN 'train_only'
            ELSE 'test_only' END AS entity_class,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(n_train) AS BIGINT) AS n_train_rows,
       CAST(sum(n_test) AS BIGINT) AS n_test_rows
FROM per_entity
GROUP BY entity_class
"""


@query("p9_temporal_split_leakage", oracle=_P9_ORACLE)
def p9_temporal_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: temporal train/test split + entity-leakage census — the
    ML-ops guard P6's random split can't give: split line items at a
    ship-date cutoff (train strictly before, test at/after — how
    production models are actually evaluated), then census which
    entities (orders) appear on BOTH sides. A 'leaky' entity is fine
    for time-series
    forecasting but fatal for user-level generalization claims; the
    census makes the choice explicit instead of silent, and its
    row counts feed the entity-disjoint re-split (route each leaky
    entity wholly to one side by hash) when that is the requirement.

    Scale: one partial/final agg on the entity key with two
    conditional counts, then a 3-row census. The cutoff lives inside
    the conditional counts (every row is read once — there is nothing
    to push), but column pruning holds: the scan reads only
    (entity key, timestamp), verified in the plan audit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp_ntz")
    per_entity = li.groupBy("l_orderkey").agg(
        F.count_if(F.col("l_shipdate") < cutoff).alias("n_train"),
        F.count_if(F.col("l_shipdate") >= cutoff).alias("n_test"),
    )
    return (
        per_entity.select(
            F.when((F.col("n_train") > 0) & (F.col("n_test") > 0), "leaky")
            .when(F.col("n_train") > 0, "train_only")
            .otherwise("test_only")
            .alias("entity_class"),
            "n_train",
            "n_test",
        )
        .groupBy("entity_class")
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.sum("n_train").alias("n_train_rows"),
            F.sum("n_test").alias("n_test_rows"),
        )
    )


_A18_ORACLE = """
WITH counts AS (
  SELECT l_returnflag, l_shipdate, count(*) AS c
  FROM lineitem GROUP BY l_returnflag, l_shipdate
),
ranked AS (
  SELECT l_returnflag, l_shipdate, c,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY c DESC, l_shipdate) AS rn
  FROM counts
)
SELECT l_returnflag,
       CAST(epoch_us(l_shipdate) AS BIGINT) AS mode_shipdate_us,
       CAST(c AS BIGINT) AS mode_count
FROM ranked WHERE rn = 1
"""


@query("a18_grouped_mode", oracle=_A18_ORACLE)
def a18_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: deterministic grouped mode — the most frequent value per
    group with an EXPLICIT tie-break (highest count, then smallest
    value). Both engines ship a native mode() whose tie behavior is
    unspecified/engine-dependent, so a cross-engine pipeline must
    spell the tie-break out; count + row_number does it with two
    exchanges: the count's partial/final split on (group, value), then
    the rank's repartition on the group alone.

    Scale: the inner count is partial/final on (group, value) — the
    only state that exists is distinct (group, value) pairs, and the
    rank's exchange carries those pairs, not rows. The summarize-then-verify trick (A16) caps even that
    state when value cardinality explodes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_shipdate").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("l_shipdate")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("mode_shipdate_us"),
            F.col("c").alias("mode_count"),
        )
    )


_M5_ORACLE = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor((sum(value)) * 10000 + 0.5) / 10000 AS sum_value,
       floor(max(value) * 10000 + 0.5) / 10000 AS max_value,
       CAST(max(event_id) AS BIGINT) AS last_event_id
FROM events
GROUP BY user_id, event_type
"""


@query("m5_incremental_agg_maintenance", oracle=_M5_ORACLE)
def m5_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: incremental view maintenance for a grouped aggregate — the
    nightly pattern that makes 100 TB dashboards affordable: a stored
    per-key aggregate STATE (events before the cutoff) is advanced by
    aggregating ONLY the append delta and merging state+delta on the
    key, never rescanning the base. Works because count/sum/max are
    commutative monoids — the same partial/final law Spark's own
    map-side combine uses, applied across days instead of across
    partitions. (avg = sum/count at read time; non-decomposable aggs
    like exact median need A15-style sketches or a recompute.)

    The oracle recomputes the aggregate over the WHOLE corpus in one
    pass — a hash match proves merge(agg(A), agg(B)) == agg(A ∪ B)
    exactly, nulls and floats included.

    Scale: the delta side is days-sized, the state side is keys-sized;
    with both stored bucketed by key (S7) the merge join is
    shuffle-free and nightly cost is O(delta + touched keys) — the
    CDC diff (M4) then tells downstream consumers which of those keys
    actually moved.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-22").cast("timestamp")

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
            F.max("event_id").alias("last_event_id"),
        )

    state = agg_of(ev.filter(F.col("ts") < cutoff)).alias("s")
    delta = agg_of(ev.filter(F.col("ts") >= cutoff)).alias("d")
    su, du = F.col("s.user_id"), F.col("d.user_id")
    se, de = F.col("s.event_type"), F.col("d.event_type")
    merged = state.join(delta, (su == du) & (se == de), "full_outer").select(
        F.coalesce(su, du).alias("user_id"),
        F.coalesce(se, de).alias("event_type"),
        (
            F.coalesce(F.col("s.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("s.sum_value"), F.lit(0.0))
            + F.coalesce(F.col("d.sum_value"), F.lit(0.0))
        ).alias("sum_value_raw"),
        F.greatest(
            F.coalesce(F.col("s.max_value"), F.lit(float("-inf"))),
            F.coalesce(F.col("d.max_value"), F.lit(float("-inf"))),
        ).alias("max_value_raw"),
        F.greatest(
            F.coalesce(F.col("s.last_event_id"), F.lit(-1)),
            F.coalesce(F.col("d.last_event_id"), F.lit(-1)),
        ).alias("last_event_id"),
    )
    return merged.select(
        "user_id",
        "event_type",
        "n",
        R4(F.col("sum_value_raw")).alias("sum_value"),
        R4(F.col("max_value_raw")).alias("max_value"),
        "last_event_id",
    )


_Q25_ORACLE = """
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS v_us FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS p_us, min(v.v_us) AS v_us
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.v_us
  GROUP BY e.user_id
),
b AS (
  SELECT CAST((p_us - v_us) // 3600000000 AS BIGINT) AS latency_hours,
         CAST(count(*) AS BIGINT) AS n_users
  FROM conv GROUP BY 1
)
SELECT latency_hours, n_users,
       CAST(sum(n_users) OVER (ORDER BY latency_hours) AS BIGINT) AS cum_users,
       floor(CAST(sum(n_users) OVER (ORDER BY latency_hours) AS DOUBLE)
             / (SELECT sum(n_users) FROM b) * 10000 + 0.5) / 10000
         AS cum_share
FROM b
"""


@query("q25_conversion_latency", oracle=_Q25_ORACLE)
def q25_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q25: time-to-convert distribution — the latency histogram that
    completes the funnel family: for every user whose first purchase
    strictly follows their first view, the view→purchase delay is
    bucketed by hour, with cumulative users and cumulative share (the
    conversion CDF a growth team reads "half convert within N hours"
    from).

    Scale: two conditional per-user MINs (the first-view table is
    per-user-sized and broadcasts into the purchase-side filter-join),
    one bucket agg, then a window over the BUCKET rows — dozens of
    rows, so the single-partition cumulative window is bounded by the
    histogram width, never by users (the same output-sized-window
    argument as A13). The scalar total rides the same window
    (sum over unbounded) rather than a second scan.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("v_us"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(v), "user_id")
        .filter(us > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min(us).alias("p_us"), F.min("v_us").alias("v_us"))
    )
    b = (
        conv.select(
            F.floor((F.col("p_us") - F.col("v_us")) / 3600000000).alias("latency_hours")
        )
        .groupBy("latency_hours")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    w_cum = Window.orderBy("latency_hours").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return b.select(
        "latency_hours",
        "n_users",
        F.sum("n_users").over(w_cum).alias("cum_users"),
        R4(
            F.sum("n_users").over(w_cum).cast("double") / F.sum("n_users").over(w_all)
        ).alias("cum_share"),
    )


_A19_ORACLE = """
WITH q AS (
  SELECT event_type, value,
         ntile(8) OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS bin
  FROM events
)
SELECT event_type, CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       floor(min(value) * 10000 + 0.5) / 10000 AS lo,
       floor(max(value) * 10000 + 0.5) / 10000 AS hi,
       floor(avg(value) * 10000 + 0.5) / 10000 AS mean_value
FROM q
GROUP BY event_type, bin
"""


@query("a19_equidepth_histogram", oracle=_A19_ORACLE)
def a19_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: equi-DEPTH histogram — 8 bins per group holding equal row
    counts with data-driven boundaries, the histogram query optimizers
    and drift monitors actually keep (A13's fixed-width twin: width
    tells you shape, depth tells you quantile boundaries and is robust
    to outliers stretching the range). Bin assignment is ntile over a
    TOTAL order (value, event_id) so the split of ties is identical on
    every engine — the same determinism discipline as L19.

    Scale: one exchange on the group key serves the ntile window and
    the per-bin census reuses it; at 100 TB the exact sort-per-group
    gives way to A4's approx_percentile boundaries + one bucketing
    pass — same output contract, sketch-sized state (documented, not
    implemented here: the exact form IS the oracle-checkable one).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(8).over(w).alias("bin"))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R4(F.min("value")).alias("lo"),
            R4(F.max("value")).alias("hi"),
            R4(F.avg("value")).alias("mean_value"),
        )
    )


_D17_ORACLE = """
SELECT user_id,
       CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bar_us,
       CAST(count(*) AS BIGINT) AS n,
       floor(min_by(value, (epoch_us(ts) - epoch_us(date_trunc('hour', ts)))
                             * 1000000000 + event_id)
             * 10000 + 0.5) / 10000 AS open,
       floor(max(value) * 10000 + 0.5) / 10000 AS high,
       floor(min(value) * 10000 + 0.5) / 10000 AS low,
       floor(max_by(value, (epoch_us(ts) - epoch_us(date_trunc('hour', ts)))
                             * 1000000000 + event_id)
             * 10000 + 0.5) / 10000 AS close
FROM events
GROUP BY user_id, bar_us
"""


@query("d17_ohlc_bars", oracle=_D17_ORACLE)
def d17_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D17: OHLC resampling bars — irregular observations rolled into
    per-key hourly bars carrying open (first by time), high, low,
    close (last by time): the universal downsampling for price series,
    telemetry, and light curves alike (D9 interpolates onto a grid;
    D17 summarizes into bars without inventing values). First/last are
    arg-min/arg-max over a TOTAL order — the µs offset WITHIN the bar
    (≤ 3.6e9) scaled past event_id as the tie-break, one comparable
    long (fits while event_id < 1e9; neither engine's min_by takes a
    composite key, and the within-bar offset is what keeps the
    arithmetic inside a long where raw epoch-µs overflowed) — so both
    engines pick the same row when two observations share a
    timestamp.

    Scale: ONE partial/final agg on (key, bar) — min_by/max_by are
    mergeable (keep the argmin/argmax of the merged pair), so bars
    build map-side like any sum; no window, no sort, no second pass.
    The bar key is computed from the timestamp, so at rest the store
    partitioned by bar date serves bar-range queries with pruning.
    """
    ev = load_table(spark, sf_dir, "events")
    bar = F.unix_micros(F.date_trunc("hour", "ts"))
    # total order for first/last: within-bar µs offset, then event_id
    okey = (F.unix_micros("ts") - bar) * 1_000_000_000 + F.col("event_id")
    return (
        ev.select("user_id", bar.alias("bar_us"), "value", okey.alias("okey"))
        .groupBy("user_id", "bar_us")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R4(F.expr("min_by(value, okey)")).alias("open"),
            R4(F.max("value")).alias("high"),
            R4(F.min("value")).alias("low"),
            R4(F.expr("max_by(value, okey)")).alias("close"),
        )
    )


# --------------------------------------------------------------------
# A22 — distribution census: Shannon entropy + HHI concentration
# --------------------------------------------------------------------

_A22_ORACLE = """
WITH cu AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(c) AS BIGINT) AS n_events,
       floor((ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c))
             * 10000 + 0.5) / 10000 AS entropy,
       floor((sum(CAST(c AS DOUBLE) * c) / (CAST(sum(c) AS DOUBLE) * sum(c)))
             * 10000 + 0.5) / 10000 AS hhi
FROM cu GROUP BY event_type
"""


@query("a22_group_entropy", oracle=_A22_ORACLE)
def a22_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22: per-stream concentration census — for each event_type, the
    Shannon entropy (nats) and Herfindahl–Hirschman index of its
    per-user activity distribution. The training-data use is source/
    shard diversity auditing: a stream whose entropy collapses (or
    whose HHI spikes) is dominated by a few emitters and skews any
    downstream sample drawn from it; DQ2's PSI answers "did the
    distribution MOVE", this answers "is it CONCENTRATED". Both
    engines evaluate the same moment decomposition over exact integer
    counts; 4-dp rounding absorbs the summation-order ulp."""
    ev = load_table(spark, sf_dir, "events")
    return api.group_entropy(ev, "event_type", "user_id").select(
        "event_type",
        F.col("n_items").alias("n_users"),
        F.col("n_rows").alias("n_events"),
        R4(F.col("entropy")).alias("entropy"),
        R4(F.col("hhi")).alias("hhi"),
    )


# --------------------------------------------------------------------
# A24 — Welch's t drift significance between pinned windows
# --------------------------------------------------------------------

_A24_ORACLE = """
WITH m AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS BIGINT) AS n1,
         sum(value) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS s1,
         sum(value * value) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS q1,
         CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS BIGINT) AS n2,
         sum(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS s2,
         sum(value * value) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS q2
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
  HAVING count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') >= 2
     AND count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') >= 2
),
v AS (
  SELECT event_type, n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
         (q1 - s1 * (s1 / n1)) / (n1 - 1) AS v1,
         (q2 - s2 * (s2 / n2)) / (n2 - 1) AS v2
  FROM m
),
s AS (
  SELECT event_type, n1, n2, m1, m2, v1, v2,
         v1 / n1 + v2 / n2 AS se2
  FROM v WHERE v1 > 1e-9 AND v2 > 1e-9
)
SELECT event_type, n1 AS n_before, n2 AS n_after,
       floor((m1) * 10000 + 0.5) / 10000 AS mean_before,
       floor((m2) * 10000 + 0.5) / 10000 AS mean_after,
       floor(((m1 - m2) / sqrt(se2)) * 10000 + 0.5) / 10000 AS t_stat,
       floor(((se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                             + (v2 / n2) * (v2 / n2) / (n2 - 1)))
             * 10000 + 0.5) / 10000 AS dof
FROM s
"""


@query("a24_welch_drift_ttest", oracle=_A24_ORACLE)
def a24_welch_drift_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: Welch's unequal-variance t between a pinned changepoint's
    before/after windows, per stream — the SIGNIFICANCE companion to
    DQ2: PSI says how far the distribution moved, Welch's t says
    whether the MEAN moved beyond what the two samples' own variances
    explain (the standard regression-detection gate on pipeline
    metrics). Degrees of freedom via Welch–Satterthwaite.

    Scale: one scan, one (event_type) partial/final agg of SIX
    conditional moments (FILTER-ed count/sum/sumsq per side) — the
    two-sample statistic never materializes either sample, joins
    nothing back (TRAPS #19 single-lineage discipline), and every
    downstream expression is output-sized. Both engines evaluate the
    identical moment algebra (association pinned; v > 1e-9 gates keep
    essentially-constant sides out, where summation-order sign jitter
    on the variance cancellation could otherwise flip membership).
    """
    split = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    before, after = F.col("ts") < split, F.col("ts") >= split

    def side(cond, i):
        return [
            F.count(F.when(cond, 1)).alias(f"n{i}"),
            F.sum(F.when(cond, v)).alias(f"s{i}"),
            F.sum(F.when(cond, v * v)).alias(f"q{i}"),
        ]

    m = (
        ev.groupBy("event_type")
        .agg(*side(before, 1), *side(after, 2))
        .filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    )
    m1, m2 = F.col("s1") / F.col("n1"), F.col("s2") / F.col("n2")
    vv = m.select(
        "event_type",
        "n1",
        "n2",
        m1.alias("m1"),
        m2.alias("m2"),
        ((F.col("q1") - F.col("s1") * m1) / (F.col("n1") - 1)).alias("v1"),
        ((F.col("q2") - F.col("s2") * m2) / (F.col("n2") - 1)).alias("v2"),
    ).filter((F.col("v1") > 1e-9) & (F.col("v2") > 1e-9))
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    s = vv.withColumn("se2", se2)
    va, vb = F.col("v1") / F.col("n1"), F.col("v2") / F.col("n2")
    return s.select(
        "event_type",
        F.col("n1").alias("n_before"),
        F.col("n2").alias("n_after"),
        R4(F.col("m1")).alias("mean_before"),
        R4(F.col("m2")).alias("mean_after"),
        R4((F.col("m1") - F.col("m2")) / F.sqrt(F.col("se2"))).alias("t_stat"),
        R4(
            (F.col("se2") * F.col("se2"))
            / (
                va * va / (F.col("n1") - 1)
                + vb * vb / (F.col("n2") - 1)
            )
        ).alias("dof"),
    )


# --------------------------------------------------------------------
# A25 — Kolmogorov–Smirnov drift statistic (integer-exact ECDF)
# --------------------------------------------------------------------

_A25_ORACLE = """
WITH v AS (
  SELECT event_type, value,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS BIGINT) AS n1v,
         CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS BIGINT) AS n2v
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT event_type,
         sum(n1v) OVER (PARTITION BY event_type ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS c1,
         sum(n2v) OVER (PARTITION BY event_type ORDER BY value
                        ROWS UNBOUNDED PRECEDING) AS c2,
         sum(n1v) OVER (PARTITION BY event_type) AS n1,
         sum(n2v) OVER (PARTITION BY event_type) AS n2
  FROM v
)
SELECT event_type,
       CAST(any_value(n1) AS BIGINT) AS n_before,
       CAST(any_value(n2) AS BIGINT) AS n_after,
       floor((CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
              / (any_value(n1) * any_value(n2))) * 10000 + 0.5) / 10000
           AS ks_stat
FROM c
GROUP BY event_type
HAVING any_value(n1) > 0 AND any_value(n2) > 0
"""


@query("a25_ks_drift", oracle=_A25_ORACLE)
def a25_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25: two-sample Kolmogorov–Smirnov statistic between a pinned
    changepoint's before/after windows, per stream — the DISTRIBUTION-
    level member of the drift family (DQ2's PSI: binned divergence;
    A24's Welch t: mean shift; KS: max ECDF gap, sensitive to shape
    changes the other two miss and free of binning choices).

    The statistic is computed INTEGER-EXACTLY: at each distinct value,
    D's numerator is |c1·n2 − c2·n1| over exact BIGINT cumulative
    counts, so both engines take the max over identical integers and
    divide once at the end — no float comparisons anywhere in the
    extremum, the same discipline as L33's integer gate. Exactness
    bound: the products are O(N²) per stream, so BIGINT holds up to
    N ≈ 3·10⁹ rows per stream (ANSI mode raises, never wraps, beyond
    it); past that, cast the cumulative counts to decimal(38, 0) —
    the plan shape is unchanged.

    Scale: raw rows reduce to one row per (stream, distinct value) in
    a single conditional partial/final agg; both the ECDF prefix sums
    and the per-stream totals are windows over that PRE-REDUCED,
    value-cardinality-bounded table sharing one (event_type) exchange
    (TRAPS #17 honored by construction); the final max is an ordinary
    re-aggregation on the same key.
    """
    split = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.groupBy("event_type", "value").agg(
        F.count(F.when(F.col("ts") < split, 1)).alias("n1v"),
        F.count(F.when(F.col("ts") >= split, 1)).alias("n2v"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    c = v.select(
        "event_type",
        F.sum("n1v").over(wcum).alias("c1"),
        F.sum("n2v").over(wcum).alias("c2"),
        F.sum("n1v").over(wall).alias("n1"),
        F.sum("n2v").over(wall).alias("n2"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.any_value("n1").alias("n_before"),
            F.any_value("n2").alias("n_after"),
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("__dnum"),
        )
        .filter((F.col("n_before") > 0) & (F.col("n_after") > 0))
        .select(
            "event_type",
            "n_before",
            "n_after",
            R4(
                F.col("__dnum").cast("double")
                / (F.col("n_before") * F.col("n_after"))
            ).alias("ks_stat"),
        )
    )


# --------------------------------------------------------------------
# A26 — Mann–Whitney U drift test (integer-exact doubled midranks)
# --------------------------------------------------------------------

_A26_ORACLE = """
WITH v AS (
  SELECT event_type, value,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS BIGINT) AS c1v,
         CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS BIGINT) AS c2v
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
r AS (
  SELECT event_type, c1v, c2v,
         sum(c1v + c2v) OVER (PARTITION BY event_type ORDER BY value
                              ROWS UNBOUNDED PRECEDING) - (c1v + c2v) AS cprev
  FROM v
),
u AS (
  SELECT event_type,
         CAST(sum(c1v) AS BIGINT) AS n_a,
         CAST(sum(c2v) AS BIGINT) AS n_b,
         CAST(sum(c1v * (2 * cprev + c1v + c2v + 1)) AS BIGINT) AS ra2
  FROM r GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       (CAST(ra2 - n_a * (n_a + 1) AS DOUBLE)) / 2 AS u_stat,
       floor((CAST(ra2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
              / (n_a * n_b)) * 10000 + 0.5) / 10000 AS rank_biserial
FROM u
WHERE n_a > 0 AND n_b > 0
"""


@query("a26_mannwhitney_u", oracle=_A26_ORACLE)
def a26_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26: Mann–Whitney U between a pinned changepoint's before/after
    windows, per stream — the RANK member of the drift family (DQ2 PSI:
    binned divergence; A24 Welch: mean shift; A25 KS: max ECDF gap;
    MWU: stochastic dominance, robust to any monotone transform of the
    values). Also emits the rank-biserial effect size
    2U/(n_a·n_b) − 1.

    Integer exactness: ranks with midrank tie handling are computed as
    DOUBLED midranks — a tie group occupying positions
    (cprev+1 … cprev+t) has midrank (2·cprev + t + 1)/2, so its doubled
    form is pure BIGINT. R_A·2 = Σ c1v·(2·cprev + t + 1) and
    U_A·2 = R_A·2 − n_a(n_a+1) stay integer end-to-end; the only
    divisions are the final /2 (exact in doubles — halves are
    representable) and the effect-size ratio (R4-rounded). Both
    engines therefore take identical integers into the last step —
    the A25/L33 discipline.

    Scale: raw rows reduce to one row per (stream, distinct value) in
    one conditional agg; the tie-aware rank prefix is a window over
    that pre-reduced table (TRAPS #17 honored by construction); final
    U is a re-aggregation on the same key. 1 scan, 2 exchanges, no
    join (plan-tested). Exactness bound: R_A·2 is O(N²) per stream —
    BIGINT-exact to N ≈ 3·10⁹ rows per stream (ANSI raises beyond),
    decimal(38, 0) past that with the same plan shape.
    """
    split = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.groupBy("event_type", "value").agg(
        F.count(F.when(F.col("ts") < split, 1)).alias("c1v"),
        F.count(F.when(F.col("ts") >= split, 1)).alias("c2v"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.col("c1v") + F.col("c2v")
    r = v.select(
        "event_type",
        "c1v",
        "c2v",
        (F.sum(t).over(wcum) - t).alias("cprev"),
    )
    u = (
        r.groupBy("event_type")
        .agg(
            F.sum("c1v").alias("n_a"),
            F.sum("c2v").alias("n_b"),
            F.sum(
                F.col("c1v") * (2 * F.col("cprev") + F.col("c1v") + F.col("c2v") + 1)
            ).alias("ra2"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    u2 = F.col("ra2") - F.col("n_a") * (F.col("n_a") + 1)
    return u.select(
        "event_type",
        "n_a",
        "n_b",
        (u2.cast("double") / 2).alias("u_stat"),
        R4(
            (u2 - F.col("n_a") * F.col("n_b")).cast("double")
            / (F.col("n_a") * F.col("n_b"))
        ).alias("rank_biserial"),
    )


# --------------------------------------------------------------------
# A27 — chi-squared independence census (event mix × weekday)
# --------------------------------------------------------------------

_A27_ORACLE = """
WITH cells AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', ts) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, dow, o,
         sum(o) OVER (PARTITION BY event_type) AS r,
         sum(o) OVER (PARTITION BY dow) AS c,
         sum(o) OVER () AS n
  FROM cells
)
SELECT CAST(any_value(n) AS BIGINT) AS n,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT dow) - 1) AS BIGINT) AS dof,
       floor((any_value(n) * sum(CAST(o AS DOUBLE) * o / (r * c))
              - any_value(n)) * 10000 + 0.5) / 10000 AS chi2,
       floor(sqrt((any_value(n) * sum(CAST(o AS DOUBLE) * o / (r * c))
                   - any_value(n))
                  / (any_value(n)
                     * least(count(DISTINCT event_type) - 1,
                             count(DISTINCT dow) - 1))) * 10000 + 0.5)
         / 10000 AS cramers_v
FROM m
"""


@query("a27_chi2_independence", oracle=_A27_ORACLE)
def a27_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A27: Pearson chi-squared test of independence between the event
    mix and the weekday, plus Cramér's V — the CATEGORICAL member of
    the drift/association family (A24/A25/A26 test a numeric column;
    this one asks whether two categorical axes are associated at all:
    is the event-type mix stable across the week).

    Cross-engine discipline: the weekday is epoch-day mod 7 (pure
    integer on both engines — never dayofweek(), whose origin differs
    between DuckDB 0=Sunday and Spark 1=Sunday); cell counts and
    marginals are exact BIGINTs, and chi² uses the
    N·Σ o²/(r·c) − N identity so each float term is a single
    integer-ratio division; the 35-term sum is R4-rounded on both
    sides.

    Scale: raw rows collapse to ≤ |types|·7 contingency cells in one
    partial/final agg; marginals are windows over that output-sized
    cell table (TRAPS #19 — never a totals join-back); the final
    reduction is a global agg over 35 rows. 1 scan; the cell table
    never re-scans the source.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            % 7
        ).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    m = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    chi2 = F.any_value("n") * F.sum(
        F.col("o").cast("double") * F.col("o") / (F.col("r") * F.col("c"))
    ) - F.any_value("n")
    dof_r = F.countDistinct("event_type") - 1
    dof_c = F.countDistinct("dow") - 1
    return m.agg(
        F.any_value("n").alias("n"),
        (dof_r * dof_c).alias("dof"),
        R4(chi2).alias("chi2"),
        R4(F.sqrt(chi2 / (F.any_value("n") * F.least(dof_r, dof_c)))).alias(
            "cramers_v"
        ),
    )


# --------------------------------------------------------------------
# DQ3 — one-pass column-profile census (the profiler every warehouse
# runs before trusting a new table)
# --------------------------------------------------------------------

_DQ3_ORACLE = """
WITH e AS (SELECT * FROM events)
SELECT * FROM (
  SELECT 'event_id' AS col_name, CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
         floor(CAST(min(event_id) AS DOUBLE) * 10000 + 0.5) / 10000 AS min_num,
         floor(CAST(max(event_id) AS DOUBLE) * 10000 + 0.5) / 10000 AS max_num,
         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
  FROM e
  UNION ALL
  SELECT 'user_id', count(*), count(*) - count(user_id),
         count(DISTINCT user_id),
         floor(CAST(min(user_id) AS DOUBLE) * 10000 + 0.5) / 10000,
         floor(CAST(max(user_id) AS DOUBLE) * 10000 + 0.5) / 10000,
         NULL, NULL
  FROM e
  UNION ALL
  SELECT 'value', count(*), count(*) - count(value),
         count(DISTINCT value),
         floor(min(value) * 10000 + 0.5) / 10000,
         floor(max(value) * 10000 + 0.5) / 10000,
         NULL, NULL
  FROM e
  UNION ALL
  SELECT 'event_type', count(*), count(*) - count(event_type),
         count(DISTINCT event_type), NULL, NULL,
         min(event_type), max(event_type)
  FROM e
  UNION ALL
  SELECT 'props', count(*), count(*) - count(props),
         count(DISTINCT props), NULL, NULL,
         min(props), max(props)
  FROM e
)
"""


@query("dq3_column_profile", oracle=_DQ3_ORACLE)
def dq3_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3: one-pass column-profile census over events — row count,
    null count, exact distinct count, and typed min/max per column
    (numeric columns report R4 doubles, string columns report the
    lexicographic extremes) — the profiling step every pipeline runs
    before trusting a new table, completing the data-quality family
    (DQ1 constraints, DQ2 drift, DQ3 shape).

    Cross-engine discipline: numeric extremes go through the R4
    floor-formula; string extremes compare raw strings (identical
    lexicographic order both engines); no double→varchar formatting
    anywhere (engine float printing differs).

    Scale: ONE scan — all five columns' count/null/distinct/extremes
    compute in a single aggregate (Spark's multi-distinct Expand
    multiplies rows 5× map-side but never re-reads the source, unlike
    the oracle's per-column UNION which scans 5×), then one stack()
    unpivot emits the 5-row profile. No window, no join; partial aggs
    push to the map side.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            x
            for c in ["event_id", "user_id", "value", "event_type", "props"]
            for x in (
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            )
        ],
    )
    def num_row(c):
        return (
            f"'{c}', n, n - nn_{c}, nd_{c}, "
            f"floor(cast(mn_{c} as double) * 10000 + 0.5) / 10000, "
            f"floor(cast(mx_{c} as double) * 10000 + 0.5) / 10000, "
            f"cast(null as string), cast(null as string)"
        )
    def str_row(c):
        return (
            f"'{c}', n, n - nn_{c}, nd_{c}, "
            f"cast(null as double), cast(null as double), mn_{c}, mx_{c}"
        )
    rows = ", ".join(
        [num_row("event_id"), num_row("user_id"), num_row("value"),
         str_row("event_type"), str_row("props")]
    )
    return a.selectExpr(
        f"stack(5, {rows}) AS "
        "(col_name, n, n_null, n_distinct, min_num, max_num, min_str, max_str)"
    )


# --------------------------------------------------------------------
# A28 — Benford first-digit audit (fraud/corruption screening census)
# --------------------------------------------------------------------

_A28_ORACLE = """
WITH cents AS (
  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice > 0
),
d AS (
  SELECT CAST(substr(CAST(c AS STRING), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM cents GROUP BY 1
),
m AS (
  SELECT digit, n_obs, sum(n_obs) OVER () AS n FROM d
)
SELECT digit, n_obs,
       floor(CAST(n_obs AS DOUBLE) / n * 10000 + 0.5) / 10000 AS obs_share,
       floor(log10(1e0 + 1e0 / digit) * 10000 + 0.5) / 10000 AS benford_share,
       floor(power(CAST(n_obs AS DOUBLE) - n * log10(1e0 + 1e0 / digit), 2)
             / (n * log10(1e0 + 1e0 / digit)) * 10000 + 0.5) / 10000
         AS chi2_term
FROM m
"""


@query("a28_benford_digit_drift", oracle=_A28_ORACLE)
def a28_benford_digit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A28: Benford's-law first-significant-digit audit over
    l_extendedprice — the classic forensic/data-quality screen for
    fabricated or truncated numeric columns, closing the drift family
    with the DIGIT-distribution member (DQ2 PSI = binned value drift,
    A25 KS = shape drift, A28 = leading-digit drift vs the log10(1 +
    1/d) law). Emits the 9-digit census with observed share, Benford
    share, and the per-digit chi-squared contribution.

    Cross-engine discipline: the first digit is extracted from the
    STRING render of an exact BIGINT cents value (floor(x·100 + 0.5)
    — identical float op both engines), never via floor(log10(x)),
    whose value at exact powers of ten is one libm ulp from flipping
    the digit; integer renders are engine-identical by construction.
    Benford shares use e-notation literals (TRAPS #9) and all float
    outputs are R4.

    Scale: raw rows collapse to 9 digit cells in one partial/final
    agg (map-side combine does almost all the work); the total
    attaches via an unordered window over the 9-row cell table
    (TRAPS #19 — never a totals join-back). 1 scan, no join
    (plan-tested).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.filter(F.col("l_extendedprice") > 0).select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("c")
    )
    d = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    m = d.select(
        "digit", "n_obs", F.sum("n_obs").over(Window.partitionBy()).alias("n")
    )
    bshare = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return m.select(
        "digit",
        "n_obs",
        R4(F.col("n_obs").cast("double") / F.col("n")).alias("obs_share"),
        R4(bshare).alias("benford_share"),
        R4(
            F.pow(F.col("n_obs").cast("double") - F.col("n") * bshare, 2)
            / (F.col("n") * bshare)
        ).alias("chi2_term"),
    )


# --------------------------------------------------------------------
# W16 — rolling distinct reach (trailing-24 h MAU/DAU-style metric)
# --------------------------------------------------------------------

_W16_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, user_id,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT max(h) AS mx FROM hourly),
cover AS (
  SELECT unnest(generate_series(h, h + INTERVAL 23 HOUR,
                                INTERVAL 1 HOUR)) AS e,
         user_id, c
  FROM hourly
)
SELECT epoch_us(e) AS hour_us,
       CAST(count(DISTINCT user_id) AS BIGINT) AS rolling_users,
       CAST(sum(c) AS BIGINT) AS rolling_events
FROM cover, bounds
WHERE e <= mx
GROUP BY 1
"""


@query("w16_rolling_reach", oracle=_W16_ORACLE)
def w16_rolling_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: trailing-24 h distinct-user reach per hour — the ROLLING
    engagement metric T13's tumbling reach cannot answer (rolling
    MAU/DAU/WAU is the canonical product-analytics ask): for every
    hour, how many distinct users and events landed in the preceding
    24 hours. A sliding COUNT DISTINCT is not frame-expressible
    (distinct doesn't fold incrementally), so the op ships the
    standard scalable rewrite: reduce to distinct (user, hour) cells,
    EXPLODE each cell into the 24 window-ends it serves, and count
    distinct users per end — the fan-out is 24× the CELL table (users
    × active hours), never 24× raw events.

    Determinism/cross-engine: hours are exact integer epoch-hour
    indices (µs div 3.6e9 — no float time arithmetic); counts exact
    BIGINTs; window ends clip at the corpus's max hour so no phantom
    future hours appear; both engines emit exactly the non-empty
    window ends (an end with an empty trailing window cannot be
    produced by the explode).

    Scale: the corpus shuffles ONCE into the (hour, user) cell agg
    (map-side combine first); the 24× explode runs map-side on the
    reduced cell table; the final count distinct is an EXPLICIT
    two-level aggregate (groupBy(e, user) → groupBy(e)). Measured
    with per-Exchange SQLMetrics (VERDICT item 6): Spark's own
    single-distinct rewrite already produces the identical shuffle
    volume (measured per-Exchange SQLMetrics: 1,866,695 records /
    15.4 MB at sf0.1 and 29.9 M / 236.5 MB at the 16x replica, equal
    in BOTH forms — the r12 "two-level halves the bytes" hypothesis
    is refuted), so the explicit form is kept only for its measured
    constant win (fresh 0.90 → 0.72 s at sf0.1, 8.56 → 8.36 at 16x —
    the planner's distinct-rewrite/codegen overhead), with rows
    verified set-equal. The max hour comes from a dedicated
    single-column scan broadcast as a 1-row dim (the one justified
    second scan: a global extremum has no same-lineage rewrite, and
    the scan reads one pruned column).
    """
    ev = load_table(spark, sf_dir, "events")
    hi = (F.unix_micros(F.date_trunc("hour", "ts")) / F.lit(3600000000)).cast(
        "long"
    )
    hourly = ev.groupBy(hi.alias("h"), "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    bounds = ev.agg(F.max(hi).alias("mx"))
    cover = hourly.select(
        F.explode(F.sequence(F.col("h"), F.col("h") + 23)).alias("e"),
        "user_id",
        "c",
    )
    per_user = (
        cover.join(F.broadcast(bounds), F.col("e") <= F.col("mx"))
        .groupBy("e", "user_id")
        .agg(F.sum("c").alias("cu"))
    )
    return (
        per_user.groupBy("e")
        .agg(
            F.count(F.lit(1)).alias("rolling_users"),
            F.sum("cu").alias("rolling_events"),
        )
        .select(
            (F.col("e") * F.lit(3600000000)).alias("hour_us"),
            "rolling_users",
            "rolling_events",
        )
    )


# --------------------------------------------------------------------
# DQ4 — rolling volume-anomaly screen (median + MAD over trailing 24 h)
# --------------------------------------------------------------------

_DQ4_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
win AS (
  SELECT h, n,
         list(n) OVER (ORDER BY h
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS arr
  FROM hourly
),
med AS (
  SELECT h, n, list_sort(arr) AS s,
         (list_extract(list_sort(arr), 12)
          + list_extract(list_sort(arr), 13)) / 2.0 AS m
  FROM win WHERE len(arr) = 24
),
mad AS (
  SELECT h, n, m,
         (list_extract(list_sort(list_transform(s, x -> abs(x - m))), 12)
          + list_extract(list_sort(list_transform(s, x -> abs(x - m))), 13)
         ) / 2.0 AS d
  FROM med
)
SELECT epoch_us(h) AS hour_us, n AS n_events,
       floor(m * 10000 + 0.5) / 10000 AS baseline_med,
       floor(d * 10000 + 0.5) / 10000 AS mad,
       abs(n - m) > 3 * d AS is_anomaly
FROM mad
"""


@query("dq4_volume_anomaly", oracle=_DQ4_ORACLE)
def dq4_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4: rolling ingest-volume anomaly screen — the TIME-SERIES
    member of the data-quality family (DQ1 constraints, DQ2
    distribution drift, DQ3 column profile, DQ4 = cadence health):
    every hour's event count is compared against the MEDIAN of the
    preceding 24 hours, with a MAD (median absolute deviation) scale
    — the robust pair that a single traffic spike cannot poison the
    way a mean/stddev baseline can (the monitoring rationale of A14
    applied along time). Hours whose count deviates more than 3 MADs
    flag ``is_anomaly``; the first 24 hours (incomplete frame) are
    withheld rather than scored against a thin baseline.

    Determinism: counts are exact BIGINTs; the 24-element frame is
    materialized as a list and both median and MAD use the exact
    even-count interpolation ``(s[12] + s[13]) / 2`` with 1-BASED
    ``element_at``/``list_extract`` on both engines (TRAPS #2/#15);
    the 3-MAD comparison runs on identically derived doubles.

    Scale: raw events collapse to ONE row per hour in a partial/final
    count agg — the unpartitioned trailing window then runs over the
    pre-reduced cell table (hours, not events; the TRAPS #17
    discipline: a single-reducer sort is fine over bounded cells,
    and a year is only 8 760 of them). For multi-year spans the
    window re-partitions naturally by (stream, hour) when a stream
    key exists — same shape DQ2 uses.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("h").rowsBetween(-24, -1)
    win = hourly.withColumn("arr", F.collect_list("n").over(w)).filter(
        F.size("arr") == 24
    )
    # try_element_at, not element_at: Catalyst may MERGE a caller's
    # later filter (e.g. .filter("is_anomaly")) into the size()==24
    # filter above and evaluate these extracts on short frames —
    # element_at would then throw mid-scan. try_element_at is total
    # (null out of bounds), matching DuckDB's list_extract, and is
    # value-identical on the full 24-element frames that survive.
    s = F.sort_array("arr")
    m = (F.try_element_at(s, F.lit(12)) + F.try_element_at(s, F.lit(13))) / F.lit(2.0)
    med = win.select("h", "n", s.alias("s"), m.alias("m"))
    devs = F.sort_array(
        F.transform("s", lambda x: F.abs(x - F.col("m")))
    )
    d = (
        F.try_element_at(devs, F.lit(12)) + F.try_element_at(devs, F.lit(13))
    ) / F.lit(2.0)
    return med.select(
        F.unix_micros("h").alias("hour_us"),
        F.col("n").alias("n_events"),
        R4(F.col("m")).alias("baseline_med"),
        R4(d).alias("mad"),
        (F.abs(F.col("n") - F.col("m")) > F.lit(3) * d).alias("is_anomaly"),
    )


# --------------------------------------------------------------------
# DQ5 — join fan-out audit (predict the explosion before paying it)
# --------------------------------------------------------------------

_DQ5_ORACLE = """
WITH o AS (
  SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
e AS (
  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
j AS (
  SELECT o.k, o.n_orders, e.n_events,
         o.n_orders * e.n_events AS fanout
  FROM o JOIN e ON e.k = o.k
),
t AS (SELECT k, n_orders, n_events, fanout,
             sum(fanout) OVER () AS total FROM j)
SELECT k AS join_key, n_orders, n_events, fanout,
       floor(CAST(fanout AS DOUBLE) / total * 10000 + 0.5) / 10000
         AS share_of_total
FROM t
ORDER BY fanout DESC, join_key
LIMIT 10
"""


@query("dq5_join_fanout_audit", oracle=_DQ5_ORACLE)
def dq5_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5: join fan-out audit — predict a join's output cardinality
    and its skew BEFORE paying for the join: per join key, the exact
    row count each side contributes and their product (the key's
    fan-out in the joined result), the top-10 heaviest keys with
    their share of the total. This is the pre-flight check that
    decides between a plain shuffle join, J11's salting, and AQE
    skew-split at 100 TB — run it on the keys, not the data.

    Semantics: audits orders ⋈ events on custkey/user_id; ``fanout``
    is exact (BIGINT product of BIGINT counts — the audit itself can
    never overflow before the audited join would have 9.2e18 rows),
    ``share_of_total`` is the key's fraction of the joined result.
    Top-10 ties break on the join key (TRAPS #18).

    Scale: the audit never materializes the audited join — two
    partial/final count aggs reduce each side to one row per key,
    the key-table equi-join is over pre-reduced rows, the total
    attaches via an unordered window over that same key table
    (TRAPS #19 — no totals join-back, no re-scan), and the top-10
    is a TakeOrdered, not a global sort (plan-tested).
    """
    od = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    o = od.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    e = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    j = o.join(e, "k").select(
        "k",
        "n_orders",
        "n_events",
        (F.col("n_orders") * F.col("n_events")).alias("fanout"),
    )
    t = j.withColumn("total", F.sum("fanout").over(Window.partitionBy()))
    return (
        t.select(
            F.col("k").alias("join_key"),
            "n_orders",
            "n_events",
            "fanout",
            R4(F.col("fanout").cast("double") / F.col("total")).alias(
                "share_of_total"
            ),
        )
        .orderBy(F.col("fanout").desc(), "join_key")
        .limit(10)
    )


# --------------------------------------------------------------------
# A29 — Simpson's-reversal screen (stratified vs pooled trend flip)
# --------------------------------------------------------------------

_A29_ORACLE = """
WITH r AS (
  SELECT c.c_mktsegment AS segment,
         CAST(datediff('day', DATE '1995-01-01',
                       CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS yq
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
m AS (
  SELECT segment,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(yq) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(x * yq) AS HUGEINT) AS sxy
  FROM r GROUP BY segment
),
t AS (
  SELECT segment, n, sx, sy, sxx, sxy,
         sum(n) OVER () AS tn, sum(sx) OVER () AS tsx,
         sum(sy) OVER () AS tsy, sum(sxx) OVER () AS tsxx,
         sum(sxy) OVER () AS tsxy
  FROM m
),
s AS (
  SELECT segment, CAST(n AS BIGINT) AS n_orders,
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 10000 + 0.5) / 10000
           AS slope_segment,
         floor(CAST(tn * tsxy - tsx * tsy AS DOUBLE)
               / CAST(tn * tsxx - tsx * tsx AS DOUBLE) * 10000 + 0.5) / 10000
           AS slope_pooled
  FROM t
)
SELECT segment, n_orders, slope_segment, slope_pooled,
       sign(slope_segment) <> sign(slope_pooled) AS is_reversed
FROM s
"""


@query("a29_simpson_reversal", oracle=_A29_ORACLE)
def a29_simpson_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A29: Simpson's-reversal screen — does the POOLED trend
    contradict every stratum's trend? The aggregation-paradox audit
    (UC Berkeley admissions, kidney-stone treatment) that belongs next
    to any stratified report: per customer segment, the OLS slope of
    order value (exact integer cents) on order date (integer days
    since 1995-01-01 — a CENTERED-ORIGIN axis per TRAPS #10), beside
    the pooled slope over all segments, flagging strata whose trend
    sign disagrees with the pooled sign.

    Exactness discipline (the G4 "float enters only at the final
    closed form" rule, pushed further): x and y are exact integers,
    every moment (n, Σx, Σy, Σx², Σxy) is an exact integer sum —
    Spark sums the BIGINT row products into DECIMAL(38,0) (the n·Σxy
    and Σx·Σy cross terms reach ~1.6e19 at sf0.1, past BIGINT's
    9.2e18), DuckDB into HUGEINT — so both engines divide the SAME
    two exact integers and float appears exactly once, in that final
    division. No float sum exists anywhere, hence no accumulation-
    order sensitivity at all (stronger than the R4-stabilized-sum
    ops). Pooled moments are WINDOW sums over the 5-row per-segment
    moment table — additivity of moments, no second scan, no
    join-back (TRAPS #19).

    Scale: one fact scan + broadcast customer dim, one partial/final
    moment agg; everything after is output-sized (5 rows).
    """
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    x = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    ).cast("long")
    yq = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    r = od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), x.alias("x"), yq.alias("yq")
    )
    dec = "decimal(38,0)"
    m = r.groupBy("segment").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("yq").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("yq")).cast(dec)).alias("sxy"),
    )
    wall = Window.partitionBy()
    t = m.select(
        "segment", "n", "sx", "sy", "sxx", "sxy",
        F.sum("n").over(wall).alias("tn"),
        F.sum("sx").over(wall).alias("tsx"),
        F.sum("sy").over(wall).alias("tsy"),
        F.sum("sxx").over(wall).alias("tsxx"),
        F.sum("sxy").over(wall).alias("tsxy"),
    )

    def slope(n, sx, sy, sxx, sxy):
        num = (F.col(n) * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        den = (F.col(n) * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        return R4(num / den)

    s = t.select(
        "segment",
        F.col("n").cast("long").alias("n_orders"),
        slope("n", "sx", "sy", "sxx", "sxy").alias("slope_segment"),
        slope("tn", "tsx", "tsy", "tsxx", "tsxy").alias("slope_pooled"),
    )
    return s.select(
        "segment",
        "n_orders",
        "slope_segment",
        "slope_pooled",
        (F.signum("slope_segment") != F.signum("slope_pooled")).alias(
            "is_reversed"
        ),
    )


# A40 — Bayesian mean shrinkage (additive smoothing toward the grand
# mean): the hierarchical-estimation verb. K=50 pseudo-observations.
_A40_ORACLE = """
WITH g AS (
  SELECT event_type, user_id % 20 AS user_bucket,
         count(*) AS n_events,
         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_cents
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n_events) AS DOUBLE) AS tn,
         CAST(sum(sum_cents) AS DOUBLE) AS tc
  FROM g
)
SELECT event_type, user_bucket, n_events,
       floor((sum_cents / CAST(n_events AS DOUBLE) / CAST(100 AS DOUBLE)) * 10000 + 0.5)
           / 10000 AS raw_mean,
       floor(((sum_cents + CAST(50 AS DOUBLE) * (tc / tn)) / (n_events + CAST(50 AS DOUBLE)) / CAST(100 AS DOUBLE))
             * 10000 + 0.5) / 10000 AS shrunk_mean,
       floor((n_events / (n_events + CAST(50 AS DOUBLE))) * 10000 + 0.5) / 10000
           AS own_weight
FROM g CROSS JOIN tot
"""


@query(
    "a40_bayesian_shrinkage",
    oracle=_A40_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def a40_bayesian_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40: per-segment mean shrunk toward the grand mean with K=50
    pseudo-observations — the Bayesian-average estimator (the IMDb
    formula; additive smoothing of group means) every per-segment
    dashboard needs once segments get thin: a 3-event bucket's raw
    mean is noise, and the shrinkage weight n/(n+K) says exactly how
    much to trust it. Closes the estimation family next to A5's raw
    moments and A31's robust means.

    Plan shape: one partial-aggregated groupBy to the segment cells;
    the grand totals are a second tiny agg over the CELLS (not a
    second corpus scan — the oracle mirrors this), cross-joined back
    as a 1-row broadcast leg.

    Float discipline: per-row values quantize to exact BIGINT cents
    at the scan (the ML2 discipline), so group and grand sums are
    exact integers; each output is ONE deterministic float expression
    over those integers, rounded 4 dp.
    """
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type", (F.col("user_id") % 20).alias("user_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "sum_cents"
        ),
    ).localCheckpoint(eager=False)  # grand totals re-read these cells, not the corpus
    tot = g.agg(
        F.sum("n_events").cast("double").alias("tn"),
        F.sum("sum_cents").cast("double").alias("tc"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "user_bucket",
        "n_events",
        R4(F.col("sum_cents") / F.col("n_events").cast("double") / 100.0).alias(
            "raw_mean"
        ),
        R4(
            (F.col("sum_cents") + 50.0 * (F.col("tc") / F.col("tn")))
            / (F.col("n_events") + 50.0)
            / 100.0
        ).alias("shrunk_mean"),
        R4(F.col("n_events") / (F.col("n_events") + 50.0)).alias("own_weight"),
    )


# --------------------------------------------------------------------
# G12 — personalized PageRank (seed-teleport, fixed 3 rounds, exact)
# --------------------------------------------------------------------

_G12_ROUND_SQL = """
d{i} AS (SELECT COALESCE(sum(r.rank), 0) AS dm FROM r{p} r
       LEFT JOIN deg ON deg.src = r.node WHERE deg.src IS NULL),
c{i} AS (SELECT e.dst AS node, sum(r.rank // deg.deg) AS contrib
       FROM r{p} r JOIN deg ON deg.src = r.node JOIN edges e ON e.src = r.node
       GROUP BY e.dst),
r{i} AS (
  SELECT nodes.node,
         CASE WHEN nodes.seed THEN (3 * {scale}) // (20 * ns.n) ELSE 0 END
           + (17 * (COALESCE(c.contrib, 0)
                    + CASE WHEN nodes.seed THEN d{i}.dm // ns.n ELSE 0 END))
             // 20 AS rank
  FROM nodes CROSS JOIN ns CROSS JOIN d{i} LEFT JOIN c{i} c ON c.node = nodes.node
)"""

_G12_ORACLE = (
    f"""
WITH edges AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
n0 AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nodes AS (SELECT node, node % 2 = 0 AND (node // 2) % 10 = 0 AS seed FROM n0),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes WHERE seed),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT node, CASE WHEN seed THEN {_G1B_SCALE} // ns.n ELSE 0 END AS rank
  FROM nodes CROSS JOIN ns
),"""
    + ",".join(
        _G12_ROUND_SQL.format(i=i, p=i - 1, scale=_G1B_SCALE)
        for i in (1, 2, 3)
    )
    + """
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS entity_key,
       CAST(rank AS BIGINT) AS rank_fp
FROM r3
WHERE rank > 0
ORDER BY rank_fp DESC, node_type, entity_key
LIMIT 20
"""
)


@query(
    "g12_personalized_pagerank",
    oracle=_G12_ORACLE,
    eager=EAGER_ITERATES,
)
def g12_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: personalized PageRank — G1b's damped power iteration with
    the teleport vector RESTRICTED to a seed set (customers with
    custkey ≡ 0 mod 10): rank mass re-injects at the seeds instead
    of uniformly, so scores measure proximity-to-the-seeds rather
    than global centrality — the similar-accounts / recommendation
    primitive (seeds = one user's purchases ⇒ ranks = what that
    user's neighborhood buys), and the graph-walk cousin of G8's
    one-hop Adamic–Adar (PPR aggregates ALL walk lengths with
    geometric damping).

    Pinned definition (exact — G1b's fixed-point device verbatim):
    ranks in integer 1e-12 units, init = total mass split over seeds,
    per round rank' = [seed]·(3S/20n_s) + (17/20)·(contrib +
    [seed]·dangling/n_s) — teleport AND dangling mass both return to
    seeds (standard PPR; dangling-to-uniform would leak personalized
    mass into the global distribution). All arithmetic is integer
    div/sum, bit-identical on both engines regardless of order; the
    DuckDB oracle unrolls the 3 rounds as chained CTEs (G1b's
    pattern + a seed CASE). Zero-rank nodes (unreached at radius ≤ 3)
    are excluded — their rank is structurally 0, not small.

    Scale: per round one edge⋈rank join + dst-agg (rank carries only
    nonzero nodes implicitly via the join), dangling mass a 1-row
    broadcast, lineage truncated per round (localCheckpoint). The
    G5b/G6b/G9b bucketed edge layout composes unchanged — the
    frontier here is rank mass instead of BFS state.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    seed_expr = (F.col("node") % 2 == 0) & (
        F.expr("node div 2") % 10 == 0
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", seed_expr.alias("seed"))
        .localCheckpoint()
    )
    n_seeds = nodes.filter("seed").count()
    base = (3 * _G1B_SCALE) // (20 * n_seeds)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.withColumn(
        "rank",
        F.when(F.col("seed"), F.lit(_G1B_SCALE // n_seeds)).otherwise(
            F.lit(0)
        ),
    )
    for _ in range(3):
        with_deg = ranks.join(deg, ranks.node == deg.src, "left").select(
            "node", "rank", "deg"
        )
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("dmass")
        )
        contribs = (
            edges.join(
                with_deg.filter(F.col("deg").isNotNull()),
                edges.src == F.col("node"),
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("rank div deg")).alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "seed",
                (
                    F.when(F.col("seed"), F.lit(base)).otherwise(F.lit(0))
                    + F.expr(
                        "(17 * (coalesce(contrib, 0) + "
                        f"if(seed, dmass div {n_seeds}, 0))) div 20"
                    )
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return (
        ranks.filter(F.col("rank") > 0)
        .select(
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            F.col("rank").cast("long").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), "node_type", "entity_key")
        .limit(20)
    )


# --------------------------------------------------------------------
# A46 — two-sample Anderson–Darling drift (tail-weighted ECDF test)
# --------------------------------------------------------------------

_A46_ORACLE = """
WITH v AS (
  SELECT event_type, value,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16')
              AS BIGINT) AS n1v,
         CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16')
              AS BIGINT) AS n2v
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT event_type, n1v + n2v AS l,
         sum(n1v) OVER w AS m1,
         sum(n1v + n2v) OVER w AS b,
         sum(n1v) OVER (PARTITION BY event_type) AS n1,
         sum(n2v) OVER (PARTITION BY event_type) AS n2
  FROM v
  WINDOW w AS (PARTITION BY event_type ORDER BY value
               ROWS UNBOUNDED PRECEDING)
),
t AS (
  SELECT event_type, n1, n2,
         CAST(floor(
           l * (CAST((n1 + n2) * m1 - n1 * b AS DOUBLE)
                * CAST((n1 + n2) * m1 - n1 * b AS DOUBLE))
             / (CAST(b AS DOUBLE) * ((n1 + n2) - b))
             / (CAST(n1 AS DOUBLE) * n2) * 1e8 + 0.5) AS BIGINT) AS u
  FROM c WHERE b < n1 + n2
)
SELECT event_type,
       CAST(any_value(n1) AS BIGINT) AS n_before,
       CAST(any_value(n2) AS BIGINT) AS n_after,
       floor(CAST(sum(u) AS DOUBLE) / 1e8 * 1e4 + 0.5) / 1e4 AS ad_stat
FROM t GROUP BY event_type
HAVING any_value(n1) > 0 AND any_value(n2) > 0
"""


@query("a46_anderson_darling_drift", oracle=_A46_ORACLE)
def a46_anderson_darling_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A46: two-sample Anderson–Darling statistic between A25's
    before/after windows, per stream — the TAIL-WEIGHTED member of
    the drift family: KS (A25) measures the single largest ECDF gap
    (mid-distribution-sensitive), AD integrates the squared gap with
    weight 1/(F(1−F)) — maximal at the TAILS, so it catches the
    fat-tail onset and extreme-quantile drift KS underrates (exactly
    the regime W25's rolling kurtosis tracks online; A46 is its
    offline hypothesis-test counterpart). Under H₀, E[A²] ≈ 1.

    Formula pinned (discrete Pettitt / Scholz–Stephens k=2, ties by
    cell, no continuity correction): over pooled distinct-value
    cells j with pooled count l_j, cumulative pooled B_j, cumulative
    first-sample M_j — A² = (1/(n₁n₂)) Σ_{B_j<N} l_j·(N·M_j −
    n₁·B_j)²/(B_j·(N−B_j)). The k=2 symmetry (N·M₁−n₁·B = −(N·M₂−
    n₂·B)) folds both samples' terms into one — derived in-code, not
    assumed.

    Exactness: counts and cumulatives are exact BIGINTs; each cell
    term is ONE identical float expression over them (IEEE-
    deterministic on both engines) quantized to integer 1e-8 units
    BEFORE the sum (the micro-units device — order-free), float
    re-enters only at export. Per-cell rounding error is bounded by
    |cells|·5e-9 — beneath the R4 grain.

    Scale: A25's plan verbatim — one conditional partial/final agg to
    (stream, value) cells, cumulative windows over the value-domain-
    bounded cell table on one (event_type) exchange, one
    re-aggregation. 1 scan, no join.
    """
    split = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.groupBy("event_type", "value").agg(
        F.count(F.when(F.col("ts") < split, 1)).alias("n1v"),
        F.count(F.when(F.col("ts") >= split, 1)).alias("n2v"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    c = v.select(
        "event_type",
        (F.col("n1v") + F.col("n2v")).alias("l"),
        F.sum("n1v").over(wcum).alias("m1"),
        F.sum(F.col("n1v") + F.col("n2v")).over(wcum).alias("b"),
        F.sum("n1v").over(wall).alias("n1"),
        F.sum("n2v").over(wall).alias("n2"),
    )
    nn = F.col("n1") + F.col("n2")
    d = (nn * F.col("m1") - F.col("n1") * F.col("b")).cast("double")
    term = (
        F.col("l")
        * (d * d)
        / (F.col("b").cast("double") * (nn - F.col("b")))
        / (F.col("n1").cast("double") * F.col("n2"))
    )
    t = c.filter(F.col("b") < nn).select(
        "event_type",
        "n1",
        "n2",
        F.floor(term * 1e8 + F.lit(0.5)).cast("long").alias("u"),
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.any_value("n1").alias("n_before"),
            F.any_value("n2").alias("n_after"),
            R4(F.sum("u").cast("double") / 1e8).alias("ad_stat"),
        )
        .filter((F.col("n_before") > 0) & (F.col("n_after") > 0))
    )

"""Round-6 statistics extensions: rank correlation, inequality, and
changepoint screens.

Completes the robust/nonparametric family started in rounds 4-5
(A14 MAD, A21 Theil-Sen, A24-A28 drift tests, A30 Hodges-Lehmann,
A31 trimmed means) with the two classic rank CORRELATIONS (A32
Spearman, A33 Kendall tau-b), the inequality/concentration measure
(A34 Gini), the CUSUM changepoint locator (D22), and the
record-breaking census (W17). Every operator keeps the house
exactness discipline: integer midranks/moments end-to-end, float only
in the final division/sqrt, R4 on export (TRAPS #4); all windows
partition on the HIGH-cardinality user key (TRAPS #17).

No reference citation is possible (`/root/reference/` is empty —
SURVEY §0); the driver contract (BASELINE.json) plus these docstrings
are the binding spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark.plans.registry import EAGER_CHECKPOINT, query
from lightcurator_spark.registry import load_table


def R4(c):
    """Engine-stable 4-dp rounding (TRAPS.md #4): floor(x·1e4 + .5)/1e4."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


# --------------------------------------------------------------------
# A32 — Spearman rank correlation (exact doubled midranks)
# --------------------------------------------------------------------

_A32_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS x, value AS y FROM events
),
r AS (
  SELECT user_id,
         rank() OVER wx
           + count(*) OVER (wx RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS drx,
         rank() OVER wy
           + count(*) OVER (wy RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS dry
  FROM e
  WINDOW wx AS (PARTITION BY user_id ORDER BY x),
         wy AS (PARTITION BY user_id ORDER BY y)
),
s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(drx) AS sx, sum(dry) AS sy,
         sum(drx * drx) AS sxx, sum(dry * dry) AS syy,
         sum(drx * dry) AS sxy
  FROM r GROUP BY user_id
)
SELECT user_id, n,
       floor((n * sxy - sx * sy)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) * 1e4 + 0.5)
         / 1e4 AS spearman_rho
FROM s
WHERE n >= 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


@query("a32_spearman_rank_corr", oracle=_A32_ORACLE)
def a32_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A32: Spearman rank correlation per object — does engagement value
    trend MONOTONICALLY with time, the rank twin of Pearson and the
    correlation member of the robust family (A26 MWU = two-sample
    ranks, A30 HL = location, A32 = association). Rho is Pearson over
    midranks; ties use exact DOUBLED midranks (2·midrank = min_rank +
    max_rank, computed as rank() plus a RANGE-framed cumulative count
    over the same sort — the A26 integer-exactness device without a
    second window spec per axis), so every
    moment (n, Σr, Σr², Σrs) is an exact BIGINT and the doubling
    cancels in the normalized quotient. Float appears exactly once —
    the final quotient/sqrt — and the two sqrt factors are cast to
    DOUBLE *before* multiplying because their integer product crosses
    BIGINT near n ≈ 40k rows/key (each factor ≤ 4n⁴ stays exact in a
    double to n ≈ 7k; past that this becomes an approximate-rank
    problem anyway). Zero-variance keys (all-tied x or y) have an
    undefined rho and are excluded by the integer variance guard, the
    r4-ADVICE n==0 class.

    Scale: two rank windows sharing ONE user_id exchange (same
    partition key, consecutive sorts), then a partial/final agg to 6
    integers per key — raw rows cross the network once; the window
    partitions on the high-cardinality user key (TRAPS #17).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("x"),
        F.col("value").alias("y"),
    )
    wx = Window.partitionBy("user_id").orderBy("x")
    wy = Window.partitionBy("user_id").orderBy("y")
    # doubled midrank = min_rank + max_rank; max_rank = #rows ≤ v = a
    # RANGE-framed count over the SAME sort as rank(), so each axis is
    # ONE window pass (two specs = two sorts total, sharing one
    # user_id exchange) instead of a per-tie-group third/fourth spec.
    cum = lambda w: F.count(F.lit(1)).over(  # noqa: E731
        w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = e.select(
        "user_id",
        (F.rank().over(wx) + cum(wx)).alias("drx"),
        (F.rank().over(wy) + cum(wy)).alias("dry"),
    )
    s = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("drx").alias("sx"),
        F.sum("dry").alias("sy"),
        F.sum(F.col("drx") * F.col("drx")).alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).alias("syy"),
        F.sum(F.col("drx") * F.col("dry")).alias("sxy"),
    )
    fx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    fy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.filter((F.col("n") >= 2) & (fx > 0) & (fy > 0)).select(
        "user_id",
        "n",
        R4(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(fx.cast("double") * fy.cast("double"))
        ).alias("spearman_rho"),
    )


# --------------------------------------------------------------------
# A33 — Kendall tau-b (vectorized pair-sign kernel)
# --------------------------------------------------------------------

_A33_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS x, value AS y FROM events
),
p AS (
  SELECT a.user_id,
         CAST(count(*) AS BIGINT) AS n0,
         CAST(count(*) FILTER (WHERE sign(b.x - a.x) * sign(b.y - a.y) > 0)
              AS BIGINT) AS concordant,
         CAST(count(*) FILTER (WHERE sign(b.x - a.x) * sign(b.y - a.y) < 0)
              AS BIGINT) AS discordant,
         CAST(count(*) FILTER (WHERE a.x = b.x) AS BIGINT) AS tx,
         CAST(count(*) FILTER (WHERE a.y = b.y) AS BIGINT) AS ty
  FROM e a JOIN e b
    ON a.user_id = b.user_id AND b.event_id > a.event_id
  GROUP BY a.user_id
)
SELECT user_id, n0 AS n_pairs, concordant, discordant,
       floor((concordant - discordant)
             / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
             * 1e4 + 0.5) / 1e4 AS kendall_tau
FROM p
WHERE n0 - tx > 0 AND n0 - ty > 0
"""


@query("a33_kendall_tau", oracle=_A33_ORACLE)
def a33_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33: Kendall tau-b per object — the pair-sign rank correlation
    beside A32's Spearman (tau weights every inversion equally where
    rho weights by rank distance; tau-b is the tie-corrected variant).
    Concordant/discordant/tie counts are exact integers — the pair
    statistic is a pure COUNT, so unlike A30's Walsh medians nothing
    float ever accumulates; tau = (C−D)/√((n0−Tx)(n0−Ty)) is one
    float expression at the end, factors cast to double before the
    product (A32's overflow discipline), R4 on export. Pair counts
    are enumeration-order invariant, so no tie-break ordering is
    needed anywhere (contrast D22, where order IS the statistic).
    Keys with all-tied x or y have undefined tau and are excluded by
    the integer guard.

    Engine shape: A21/A30's proven kernel — one co-locating shuffle on
    user_id, then the O(k²) sign pairs are generated VECTORIZED inside
    one Arrow batch per object (np.sign over upper-triangle index
    slices, memoized per k) and never materialize as rows. The oracle
    pays the O(k²) self-join instead; the engine plan is plan-tested
    no-join/no-generate. k ≈ 67 rows/object at sf0.1 (D14's bound,
    same (key, month) pre-bucket escape for pathological cadences).
    """
    import numpy as np
    import pandas as pd

    def tau_partition(batches):
        # r12 optimization (guide §4.2, second pass): groups of equal
        # size k stack into (m, k) matrices and the sign-pair counts
        # run vectorized across all m groups at once — the per-group
        # python loop (~1,500 calls of small numpy ops) was the whole
        # kernel stage. Same lanes, same integer counts, same closed
        # form; hash oracle re-verified.
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        u = pdf["user_id"].to_numpy(dtype="int64")
        x = pdf["x"].to_numpy(dtype="int64")
        y = pdf["y"].to_numpy(dtype="float64")
        order = np.argsort(u, kind="stable")
        u, x, y = u[order], x[order], y[order]
        bounds = np.flatnonzero(np.diff(u)) + 1
        starts = np.concatenate(([0], bounds))
        stops = np.concatenate((bounds, [u.size]))
        ks = stops - starts
        out = []
        for k in np.unique(ks):
            if k < 2:
                continue
            st = starts[ks == k]
            rows = st[:, None] + np.arange(k)[None, :]
            iu = np.triu_indices(k, 1)
            n0 = iu[0].size
            step = max(1, 4_000_000 // max(n0, 1))
            for c0 in range(0, st.size, step):
                r = rows[c0 : c0 + step]
                X, Y = x[r], y[r]
                dx = np.sign(X[:, iu[1]] - X[:, iu[0]])
                dy = np.sign(Y[:, iu[1]] - Y[:, iu[0]])
                prod = dx * dy
                c = (prod > 0).sum(axis=1)
                d = (prod < 0).sum(axis=1)
                tx = (dx == 0).sum(axis=1)
                ty = (dy == 0).sum(axis=1)
                ok = (n0 - tx > 0) & (n0 - ty > 0)
                if not ok.any():
                    continue
                tau = (c[ok] - d[ok]) / np.sqrt(
                    (n0 - tx[ok]).astype("float64")
                    * (n0 - ty[ok]).astype("float64")
                )
                out.append(
                    pd.DataFrame(
                        {
                            "user_id": u[st[c0 : c0 + step]][ok],
                            "n_pairs": np.full(
                                int(ok.sum()), n0, dtype=np.int64
                            ),
                            "concordant": c[ok].astype(np.int64),
                            "discordant": d[ok].astype(np.int64),
                            "kendall_tau": np.floor(tau * 1e4 + 0.5) / 1e4,
                        }
                    )
                )
        if out:
            yield pd.concat(out, ignore_index=True)

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("x"),
        F.col("value").alias("y"),
    )
    # r12: width follows spark.sql.shuffle.partitions (see a21/a30)
    return e.repartition("user_id").mapInPandas(
        tau_partition,
        "user_id long, n_pairs long, concordant long, discordant long,"
        " kendall_tau double",
    )


# --------------------------------------------------------------------
# A34 — Gini coefficient (exact rank-weighted integer sums)
# --------------------------------------------------------------------

_A34_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events
),
r AS (
  SELECT user_id, u,
         row_number() OVER (PARTITION BY user_id ORDER BY u) AS i
  FROM e
),
s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(u) AS su, sum(i * u) AS wu
  FROM r GROUP BY user_id
)
SELECT user_id, n AS n_events,
       floor((2 * wu - (n + 1) * su) / CAST(n * su AS DOUBLE) * 1e4 + 0.5)
         / 1e4 AS gini
FROM s
WHERE n >= 2 AND su > 0
"""


@query("a34_gini_concentration", oracle=_A34_ORACLE)
def a34_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34: Gini coefficient of engagement value per object — the
    INEQUALITY member of the distribution family (A19 histogram =
    shape, A28 Benford = digits, A34 = concentration): is a user's
    value volume spread evenly across events or dominated by a few?
    Uses the rank form G = (2·Σ i·x(i) − (n+1)·Σx) / (n·Σx) over
    ascending order. Values quantize to 1e-4 integer units first
    (both engines identically — the A20 cross-engine device; the
    statistic is scale-invariant so the quantization only bounds
    resolution), making rank-weighted sums exact BIGINTs. Σ i·x over
    a tie group is permutation-invariant, so row_number ordered by
    value alone is deterministic for the SUM even though the row
    order within ties is not (TRAPS #18 does not bite). Float appears
    once, in the final quotient; R4 export. n·Σu stays under BIGINT
    to ~2e8 rows/key at this value range — documented bound, A29's
    DECIMAL(38,0) escape applies past it.

    Scale: one rank window partitioned on the high-cardinality user
    key (TRAPS #17) + one partial/final agg to 3 integers per key —
    one exchange total, 1 scan (plan-tested).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    w = Window.partitionBy("user_id").orderBy("u")
    r = e.withColumn("i", F.row_number().over(w))
    s = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("su"),
        F.sum(F.col("i") * F.col("u")).alias("wu"),
    )
    return s.filter((F.col("n") >= 2) & (F.col("su") > 0)).select(
        "user_id",
        F.col("n").alias("n_events"),
        R4(
            (2 * F.col("wu") - (F.col("n") + 1) * F.col("su"))
            / (F.col("n") * F.col("su")).cast("double")
        ).alias("gini"),
    )


# --------------------------------------------------------------------
# D22 — CUSUM changepoint locator (exact integer statistic)
# --------------------------------------------------------------------

_D22_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events
),
c AS (
  SELECT user_id, ts_us,
         row_number() OVER w AS k,
         sum(u) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s_k,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         sum(u) OVER (PARTITION BY user_id) AS t
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
m AS (
  SELECT user_id, n, k, ts_us,
         n * s_k - k * t AS m_k,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(n * s_k - k * t) DESC, k ASC)
           AS rn
  FROM c WHERE n >= 2
)
SELECT user_id, n AS n_events, k AS cp_index, ts_us AS cp_ts_us,
       m_k AS cusum_stat, abs(m_k) AS abs_stat
FROM m WHERE rn = 1
"""


@query("d22_cusum_changepoint", oracle=_D22_ORACLE)
def d22_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D22: CUSUM changepoint locator per object stream — WHERE did the
    level shift, the localization companion to the drift DETECTORS
    (A24 mean, A25 shape, DQ4 cadence): the k maximizing |CUSUM_k|,
    the classic at-most-one-changepoint statistic. The centered prefix
    sum CUSUM_k = S_k − k·(T/n) is scaled by n to kill the division:
    M_k = n·S_k − k·T is an exact BIGINT for both engines (values in
    1e-4 units; n·S ≤ ~2e10 at sf0.1 — A29's DECIMAL escape documented
    past ~5e8 rows·units/key). Unlike A33 the statistic DEPENDS on row
    order, so the prefix sum orders by (ts, event_id) — the unique-id
    tie-break that makes same-timestamp rows deterministic (TRAPS
    #18). Argmax ties (same |M_k| at two k) break to the SMALLEST k
    via the rank window, the D21 R4-before-extremum discipline applied
    to exact integers (no rounding needed at all here). M_n ≡ 0 by
    construction, so the located k is always interior for any real
    shift; n<2 keys carry no information and are excluded.

    Scale: running windows and per-key totals share ONE user_id
    exchange (TRAPS #19 — totals via unordered partition frame, never
    a join-back); the argmax is a second window over the same
    partitioning. 1 scan, 1 exchange (plan-tested).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wp = Window.partitionBy("user_id")
    c = e.select(
        "user_id",
        "ts_us",
        F.row_number().over(wo).alias("k"),
        F.sum("u")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s_k"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("u").over(wp).alias("t"),
    ).filter(F.col("n") >= 2)
    m = c.withColumn(
        "m_k", F.col("n") * F.col("s_k") - F.col("k") * F.col("t")
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.abs(F.col("m_k")).desc(), F.col("k").asc()
    )
    return (
        m.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            F.col("k").alias("cp_index"),
            F.col("ts_us").alias("cp_ts_us"),
            F.col("m_k").alias("cusum_stat"),
            F.abs(F.col("m_k")).alias("abs_stat"),
        )
    )


# --------------------------------------------------------------------
# W17 — record-breaking census (running extremes)
# --------------------------------------------------------------------

_W17_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
),
r AS (
  SELECT user_id, ts_us, value,
         max(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE prev_max IS NULL OR value > prev_max)
            AS BIGINT) AS n_records,
       max(ts_us) FILTER (WHERE prev_max IS NULL OR value > prev_max)
         AS last_record_ts_us,
       floor(max(value) * 1e4 + 0.5) / 1e4 AS max_value
FROM r
GROUP BY user_id
"""


@query("w17_record_census", oracle=_W17_ORACLE)
def w17_record_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: record-breaking census — how often does each object set a
    new all-time high, and when was the last one? The running-extreme
    member of the window-smoothing family (W3 mean, W11 EWMA, W15
    median, W17 = extremes); record counts are the classic
    stationarity probe (an i.i.d. stream breaks ~ln n records — an
    upward drift breaks far more). A record is value strictly above
    the max of ALL prior rows in (ts, event_id) order — the trailing
    unbounded MAX frame ending at 1 PRECEDING, NULL on each key's
    first row (always a record). Comparisons are exact double
    equality on parquet-identical values (no arithmetic happens
    before the compare, so no cross-engine float risk); only the
    exported max_value aggregate takes R4. The last-record timestamp
    is a filtered MAX — deterministic without a tie-break even if two
    records share a timestamp.

    Scale: one running-max window partitioned on the high-cardinality
    user key (TRAPS #17) + one partial/final agg on the same key —
    one exchange, 1 scan (plan-tested).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = e.withColumn("prev_max", F.max("value").over(w))
    is_rec = F.col("prev_max").isNull() | (F.col("value") > F.col("prev_max"))
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(is_rec, 1)).alias("n_records"),
        F.max(F.when(is_rec, F.col("ts_us"))).alias("last_record_ts_us"),
        R4(F.max("value")).alias("max_value"),
    )


# --------------------------------------------------------------------
# W18 — trailing regression slope (rolling OLS over a 7-row frame)
# --------------------------------------------------------------------

_W18_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS x,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS y
  FROM events
),
w AS (
  SELECT user_id, ts_us,
         CAST(count(*) OVER f AS BIGINT) AS n,
         sum(x) OVER f AS sx, sum(y) OVER f AS sy,
         sum(x * x) OVER f AS sxx, sum(x * y) OVER f AS sxy
  FROM e
  WINDOW f AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT user_id, ts_us, n AS n_in_frame,
       CASE WHEN n * sxx - sx * sx > 0
            THEN floor((n * sxy - sx * sy)
                       / CAST(n * sxx - sx * sx AS DOUBLE) * 1e4 + 0.5) / 1e4
            END AS slope_per_hour
FROM w
"""


@query("w18_rolling_slope", oracle=_W18_ORACLE)
def w18_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: trailing OLS slope — the TREND member of the window-
    smoothing family (W3 level, W11 memory, W15 robust level, W17
    extremes, W18 = local direction): per event, the least-squares
    slope of value on time over the trailing 7 rows — the "is this
    metric locally rising" primitive behind alerting and momentum
    features. A29's exactness discipline inside a FRAME: x quantizes
    to integer epoch hours, y to 1e-4 value units, so all four frame
    moments (Σx, Σy, Σx², Σxy) are exact BIGINT window sums and both
    engines divide the same two integers (bounds: n·Σxy ≈ 1e14 at
    this value range — far under BIGINT for any frame length that
    still means "local"). Frames whose 7 rows share one hour have
    zero x-variance and an undefined slope — exported as NULL through
    the integer guard rather than dropped, keeping one output row per
    event (the W3 contract; NULL hashes deterministically).

    Scale: all four moment sums share ONE frame spec over ONE
    user_id exchange (TRAPS #17 high-cardinality key); O(1) state
    per row, 1 scan (plan-tested).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.unix_micros("ts") / F.lit(3600000000)).cast("long").alias("x"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("y"),
    )
    f = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    w = e.select(
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum("x").over(f).alias("sx"),
        F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return w.select(
        "user_id",
        "ts_us",
        F.col("n").alias("n_in_frame"),
        F.when(den > 0, R4(num / den.cast("double"))).alias("slope_per_hour"),
    )


# --------------------------------------------------------------------
# D23 — Stetson-K variability index (exact n-scaled residuals)
# --------------------------------------------------------------------

_D23_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events
),
s AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n, sum(u) AS t
  FROM e GROUP BY user_id
),
r AS (
  SELECT e.user_id, s.n,
         sum(abs(s.n * e.u - s.t)) AS a,
         sum(CAST(s.n * e.u - s.t AS HUGEINT)
             * CAST(s.n * e.u - s.t AS HUGEINT)) AS b
  FROM e JOIN s USING (user_id)
  GROUP BY e.user_id, s.n
)
SELECT user_id, n AS n_events,
       floor(a / sqrt(CAST(n AS DOUBLE) * CAST(b AS DOUBLE)) * 1e4 + 0.5)
         / 1e4 AS stetson_k
FROM r
WHERE n >= 2 AND b > 0
"""


@query("d23_stetson_k", oracle=_D23_ORACLE)
def d23_stetson_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D23: Stetson-K variability index per object — the KURTOSIS-like
    shape member of the variability family (D13 von Neumann = serial
    correlation, A14 MAD = scale, D23 = residual shape): K =
    mean|δ| / sqrt(mean δ²) over residuals from the object mean.
    K ≈ 0.798 (√(2/π)) for Gaussian scatter, → 1 for a square-wave
    (eclipsing-binary-like) signal, → 0 for a single outlier — the
    classic cheap screen between genuine variables and cosmic-ray
    glitches in light curves (Stetson 1996's K, time-symmetric so it
    needs no cadence column).

    Exactness: the mean is killed by n-scaling (D22's device):
    n·δ_i = n·u_i − T is an exact BIGINT, so A = Σ|nδ| is exact and
    B = Σ(nδ)² sums in DECIMAL(38,0)/HUGEINT (A29's wide-moment
    discipline — per-term squares reach 1e17 here and BIGINT would
    overflow past ~600 rows/key). K = A/√(n·B) — the n-scalings
    cancel (A carries n¹ per term, √(n·B) carries n^{3/2} over n
    terms... both sides of the quotient scale by n²) — is one float
    expression, R4. Constant series (B = 0) have undefined K and are
    excluded by the integer guard; the filter keys on B not A (A = 0
    ⟺ B = 0).

    Scale: one partial/final agg for (n, T), broadcast back via the
    key join, one more agg for (A, B) — two scans of the same
    cached-size table, no window, no sort; at 100 TB both aggs
    map-side combine to one row per object.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("u").alias("t")
    )
    dec = "decimal(38,0)"
    nd = F.col("n") * F.col("u") - F.col("t")
    r = (
        e.join(s, "user_id")
        .groupBy("user_id", "n")
        .agg(
            F.sum(F.abs(nd)).alias("a"),
            F.sum((nd * nd).cast(dec)).alias("b"),
        )
    )
    return r.filter((F.col("n") >= 2) & (F.col("b") > 0)).select(
        "user_id",
        F.col("n").alias("n_events"),
        R4(
            F.col("a")
            / F.sqrt(F.col("n").cast("double") * F.col("b").cast("double"))
        ).alias("stetson_k"),
    )


# --------------------------------------------------------------------
# W19 — Markov transition matrix over event-type sequences
# --------------------------------------------------------------------

_W19_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
),
t AS (
  SELECT COALESCE(lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id), '__start__')
           AS from_state,
         event_type AS to_state
  FROM e
),
c AS (
  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
  FROM t GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       floor(n / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS p
FROM c
"""


@query("w19_markov_transitions", oracle=_W19_ORACLE)
def w19_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W19: first-order Markov transition matrix over each user's
    event-type sequence — the SEQUENCE-MODEL member of the event
    family (W9 funnel = one fixed path, Q27 attribution = last step,
    W19 = the full empirical kernel): counts of consecutive
    (from → to) event-type pairs in (ts, event_id) order, row-
    normalized into transition probabilities. Each user's first event
    transitions from the synthetic '__start__' state, so the matrix
    also carries the entry distribution and rows sum to 1 per
    from-state. Counts exact; normalization attaches via a window
    over the ≤ (|types|+1)·|types| cell table (TRAPS #19 — never a
    totals join-back), one division, R4.

    Scale: the lag window partitions on the high-cardinality user
    key (TRAPS #17); raw rows collapse to ≤ 36 cells behind a
    map-side partial agg before the tiny normalization window — one
    exchange over raw rows, everything after is constant-size.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = e.select(
        F.coalesce(F.lag("event_type").over(w), F.lit("__start__")).alias(
            "from_state"
        ),
        F.col("event_type").alias("to_state"),
    )
    c = t.groupBy("from_state", "to_state").agg(F.count(F.lit(1)).alias("n"))
    wf = Window.partitionBy("from_state")
    return c.select(
        "from_state",
        "to_state",
        "n",
        R4(F.col("n") / F.sum("n").over(wf).cast("double")).alias("p"),
    )


# --------------------------------------------------------------------
# A35 — two-proportion z-test (A/B experiment census)
# --------------------------------------------------------------------

_A35_ORACLE = """
WITH u AS (
  SELECT DISTINCT user_id FROM events
),
arms AS (
  SELECT user_id, user_id % 2 AS arm FROM u
),
uc AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type
),
conv AS (
  SELECT uc.event_type, a.arm,
         CAST(count(*) FILTER (WHERE uc.cnt >= 15) AS BIGINT) AS x
  FROM uc JOIN arms a USING (user_id)
  GROUP BY uc.event_type, a.arm
),
n AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n FROM arms GROUP BY arm
),
w AS (
  SELECT c.event_type,
         max(CASE WHEN c.arm = 0 THEN c.x ELSE 0 END) AS x_a,
         max(CASE WHEN c.arm = 1 THEN c.x ELSE 0 END) AS x_b,
         max(CASE WHEN n.arm = 0 THEN n.n ELSE 0 END) AS n_a,
         max(CASE WHEN n.arm = 1 THEN n.n ELSE 0 END) AS n_b
  FROM conv c CROSS JOIN n
  GROUP BY c.event_type
)
SELECT event_type, n_a, n_b, x_a, x_b,
       floor(x_a / CAST(n_a AS DOUBLE) * 1e4 + 0.5) / 1e4 AS conv_a,
       floor(x_b / CAST(n_b AS DOUBLE) * 1e4 + 0.5) / 1e4 AS conv_b,
       CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b
            THEN floor((x_a / CAST(n_a AS DOUBLE) - x_b / CAST(n_b AS DOUBLE))
                       / sqrt(((x_a + x_b) / CAST(n_a + n_b AS DOUBLE))
                              * (1 - (x_a + x_b) / CAST(n_a + n_b AS DOUBLE))
                              * (1.0 / n_a + 1.0 / n_b)) * 1e4 + 0.5) / 1e4
            END AS z
FROM w
"""


@query("a35_ab_proportion_ztest", oracle=_A35_ORACLE)
def a35_ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A35: two-proportion z-test — the A/B-experiment member of the
    drift/test family (A24 means, A26 ranks, A27 contingency, A35 =
    conversion proportions): split users into two arms by user_id
    parity (the deterministic stand-in for an assignment column; the
    md5-keyed variant is one substitution away), measure per-event-type
    heavy-usage reach (share of arm users with ≥15 such events — the
    any-event proportion saturates at 1.0 on this corpus, a degenerate
    z), and score
    the difference with the pooled-variance z statistic — the formula
    every experimentation platform runs first; all-or-nothing pools
    (pp ∈ {0, 1}) export NULL through the integer guard instead of
    dividing by zero (ANSI mode fails the job otherwise — the r4-ADVICE
    guard class). All counts are exact
    BIGINTs (distinct users per arm and per (type, arm)); z is ONE
    arithmetic expression over six integers, so both engines evaluate
    the identical IEEE tree (the A33 discipline), R4 on export.

    Scale: one distinct-user pre-agg (map-side combined), one
    (type, arm) count-distinct agg — the classic two-level exact
    reach shape (T13) — and a 10-row pivot; nothing after the partial
    aggs is corpus-sized. The z formula never sees raw rows.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 2).alias("arm")
    )
    uc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    conv = (
        uc.join(u, "user_id")
        .groupBy("event_type", "arm")
        .agg(F.count(F.when(F.col("cnt") >= 15, 1)).alias("x"))
    )
    n = u.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    w = (
        conv.crossJoin(F.broadcast(n.withColumnRenamed("arm", "narm")))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).alias("x_a"),
            F.max(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).alias("x_b"),
            F.max(F.when(F.col("narm") == 0, F.col("n")).otherwise(0)).alias("n_a"),
            F.max(F.when(F.col("narm") == 1, F.col("n")).otherwise(0)).alias("n_b"),
        )
    )
    pa = F.col("x_a") / F.col("n_a").cast("double")
    pb = F.col("x_b") / F.col("n_b").cast("double")
    pp = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b")).cast(
        "double"
    )
    xs = F.col("x_a") + F.col("x_b")
    ns = F.col("n_a") + F.col("n_b")
    z = F.when(
        (xs > 0) & (xs < ns),
        R4(
            (pa - pb)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
        ),
    )
    return w.select(
        "event_type",
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        R4(pa).alias("conv_a"),
        R4(pb).alias("conv_b"),
        z.alias("z"),
    )


# --------------------------------------------------------------------
# W20 — burstiness of inter-event gaps
# --------------------------------------------------------------------

_W20_ORACLE = """
WITH g AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
           - lag(CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS gap_s
  FROM events
),
m AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(gap_s) AS sg, sum(gap_s * gap_s) AS sgg
  FROM g WHERE gap_s IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n AS n_gaps,
       floor((sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) - CAST(sg AS DOUBLE))
             / (sqrt(CAST(n * sgg - sg * sg AS DOUBLE)) + CAST(sg AS DOUBLE))
             * 1e4 + 0.5) / 1e4 AS burstiness
FROM m
WHERE n >= 2 AND sg > 0
"""


@query("w20_burstiness", oracle=_W20_ORACLE)
def w20_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W20: burstiness index per object — B = (σ−μ)/(σ+μ) over
    inter-event gaps (Goh & Barabási): −1 = metronome, 0 = Poisson,
    → +1 = extreme bursts. The temporal-PATTERN member of the window
    family (W17 asks about values, W20 about the clock), and the
    screen that separates cron-like bots from human sessions.
    Gaps are exact integer seconds (µs FLOOR-divided on both engines —
    DuckDB's integer // truncates toward zero and would diverge from
    Spark's floor() one step below every pre-1970 boundary — second grain
    keeps Σgap² ≤ ~5e14/key, inside BIGINT; µs grain would overflow
    at 6.8e24, the A29 bound analysis applied before it bites);
    n-scaling kills the mean: n·σ vs n·μ uses √(n·Σg²−(Σg)²) and Σg,
    both exact, so the quotient is ONE float expression, R4.
    Single-event keys have no gap, zero-span keys no scale — both
    excluded by integer guards (the r4-ADVICE class).

    Scale: one lag window + one partial/final agg sharing the
    user_id exchange (TRAPS #17/#19); 1 scan, no join (plan-tested).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("s"),
        F.unix_micros("ts").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = e.select(
        "user_id", (F.col("s") - F.lag("s").over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    m = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap_s").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
    )
    var_n = (F.col("n") * F.col("sgg") - F.col("sg") * F.col("sg")).cast(
        "double"
    )
    sg = F.col("sg").cast("double")
    return m.filter((F.col("n") >= 2) & (F.col("sg") > 0)).select(
        "user_id",
        F.col("n").alias("n_gaps"),
        R4((F.sqrt(var_n) - sg) / (F.sqrt(var_n) + sg)).alias("burstiness"),
    )


# --------------------------------------------------------------------
# A36 — one-way ANOVA (k-group mean comparison)
# --------------------------------------------------------------------

_A36_ORACLE = """
WITH e AS (
  SELECT event_type AS g,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events
),
per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         sum(u) AS tg,
         sum(CAST(u AS HUGEINT) * CAST(u AS HUGEINT)) AS qg
  FROM e GROUP BY g
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(ng) AS n, sum(tg) AS t, sum(qg) AS q,
         sum(CAST(tg AS DOUBLE) * CAST(tg AS DOUBLE) / ng) AS sgg
  FROM per
)
SELECT k AS n_groups, n AS n_rows,
       floor((sgg - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / n) / 1e8
             * 1e4 + 0.5) / 1e4 AS ss_between,
       floor((CAST(q AS DOUBLE) - sgg) / 1e8 * 1e4 + 0.5) / 1e4
         AS ss_within,
       floor(((sgg - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / n) / (k - 1))
             / ((CAST(q AS DOUBLE) - sgg) / (n - k)) * 1e4 + 0.5) / 1e4
         AS f_stat
FROM tot
WHERE k >= 2 AND n > k AND CAST(q AS DOUBLE) - sgg > 0
"""


@query("a36_oneway_anova", oracle=_A36_ORACLE)
def a36_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A36: one-way ANOVA — do the k event types have the same mean
    value? The k-GROUP generalization closing the mean-comparison
    family (A24 Welch = 2 groups, A35 = 2 proportions, A36 = k
    means): F = (SSB/(k−1)) / (SSW/(n−k)) via the moment identities
    SSB = Σ T_g²/n_g − T²/n and SSW = Σu² − Σ T_g²/n_g. Per-group
    moments (n_g, T_g, ΣU_g²) are exact integers (DECIMAL/HUGEINT for
    the squares, A29's bound discipline); the one float-SUM is
    Σ T_g²/n_g over the k=5 group rows — each term derived from two
    exact integers, the 5-term reorder slack ~1e-15 relative, far
    inside the R4 grain (the L14 precedent; k is a constant, not a
    corpus dimension). Sums of squares exported in value² units
    (÷1e8) at R4.

    Degenerate inputs (one group, n = k, zero within-variance) have
    no F and are excluded by the guard rather than failing the job
    under ANSI (TRAPS #22).

    Scale: one partial/final agg to k rows, then a scalar agg over k
    rows — two aggs, 1 scan, nothing corpus-sized after the first
    combine (plan-tested).
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    dec = "decimal(38,0)"
    per = e.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("u").alias("tg"),
        F.sum((F.col("u") * F.col("u")).cast(dec)).alias("qg"),
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("tg").alias("t"),
        F.sum("qg").alias("q"),
        F.sum(
            F.col("tg").cast("double")
            * F.col("tg").cast("double")
            / F.col("ng")
        ).alias("sgg"),
    )
    t2n = F.col("t").cast("double") * F.col("t").cast("double") / F.col("n")
    ssb = F.col("sgg") - t2n
    ssw = F.col("q").cast("double") - F.col("sgg")
    # guard the degenerate inputs that would otherwise fail the job
    # under ANSI (TRAPS #22 / the r4-ADVICE n==0 class): one group
    # (k-1 = 0), no residual df (n = k), or zero within-variance
    tot = tot.filter(
        (F.col("k") >= 2)
        & (F.col("n") > F.col("k"))
        & (F.col("q").cast("double") - F.col("sgg") > 0)
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        R4(ssb / 1e8).alias("ss_between"),
        R4(ssw / 1e8).alias("ss_within"),
        R4((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))).alias(
            "f_stat"
        ),
    )


# --------------------------------------------------------------------
# A37 — deterministic bootstrap CI for the median (md5-seeded)
# --------------------------------------------------------------------

_A37_B = 16  # bootstrap replicates

_A37_ORACLE = f"""
WITH e AS (
  SELECT user_id, CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events
),
g AS (
  SELECT user_id, list_sort(list(u)) AS arr,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY user_id
),
boot AS (
  SELECT user_id, n, arr, b,
         list_sort(list_transform(
           generate_series(1, CAST(n AS INTEGER)),
           i -> list_extract(arr,
                 CAST(CAST(('0x' || substr(md5(user_id || '-' || b || '-' || i),
                            1, 8)) AS BIGINT) % n AS INTEGER) + 1)
         )) AS rs
  FROM g, generate_series(1, {_A37_B}) t(b)
  WHERE n >= 2
),
dm AS (
  SELECT user_id, n,
         CASE WHEN n % 2 = 1 THEN 2 * list_extract(rs, CAST((n + 1) // 2 AS INTEGER))
              ELSE list_extract(rs, CAST(n // 2 AS INTEGER))
                   + list_extract(rs, CAST(n // 2 + 1 AS INTEGER)) END AS m2
  FROM boot
),
pt AS (
  SELECT user_id,
         CASE WHEN n % 2 = 1 THEN 2 * list_extract(arr, CAST((n + 1) // 2 AS INTEGER))
              ELSE list_extract(arr, CAST(n // 2 AS INTEGER))
                   + list_extract(arr, CAST(n // 2 + 1 AS INTEGER)) END AS m2
  FROM g WHERE n >= 2
)
SELECT dm.user_id, dm.n AS n_rows,
       floor(min(dm.m2) / 2e4 * 1e4 + 0.5) / 1e4 AS boot_lo,
       floor(max(dm.m2) / 2e4 * 1e4 + 0.5) / 1e4 AS boot_hi,
       floor(max(pt.m2) / 2e4 * 1e4 + 0.5) / 1e4 AS median_point
FROM dm JOIN pt ON pt.user_id = dm.user_id
GROUP BY dm.user_id, dm.n
"""


@query("a37_bootstrap_median_ci", oracle=_A37_ORACLE)
def a37_bootstrap_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37: bootstrap confidence band for the median — and the whole
    resampling process carries a cross-engine VALUE HASH, which is
    the point: bootstrap "randomness" here is md5 of (key, replicate,
    draw) — the F11 rule that md5 is the one hash both engines
    compute identically, extended from hashing VALUES to driving a
    STOCHASTIC PROCEDURE deterministically. 16 replicates resample n
    draws with replacement (index = md5 % n), each replicate's median
    is exact integer arithmetic (DOUBLED medians — the A26 device —
    so even-n interpolation never leaves BIGINT), and the band is the
    min/max replicate median beside the point estimate. Everything
    both engines compute is bit-identical BY CONSTRUCTION — no R4
    slack is even consumed until the final unit conversion. Keys with
    n < 2 have no resampling question and are excluded.

    Scale: ONE exchange (the collect_list groupBy); all 16·n draws
    per key are array ops INSIDE the row — map-side, no explode of
    resampled rows, no second shuffle (plan-tested: 1 scan, no
    generate of draw rows crossing the network). Per-key memory is
    the value array (D14's per-object bound and its (key, month)
    pre-bucket escape apply). B and the index hash are part of the
    published contract — reproducible across reruns, engines, and
    cluster sizes, which a seeded RNG per task never is.
    """
    B = _A37_B
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    g = (
        e.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list("u")).alias("arr"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 2)
    )

    def dm_of(sorted_arr, n):
        odd = 2 * F.element_at(sorted_arr, ((n + 1) / 2).cast("int"))
        even = F.element_at(sorted_arr, (n / 2).cast("int")) + F.element_at(
            sorted_arr, (n / 2 + 1).cast("int")
        )
        return F.when(n % 2 == 1, odd).otherwise(even)

    def resample(b):
        def draw(i):
            h = F.md5(
                F.concat_ws(
                    "-",
                    F.col("user_id").cast("string"),
                    F.lit(b).cast("string"),
                    i.cast("string"),
                ).cast("binary")
            )
            idx = F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.col("n")
            )
            return F.element_at(F.col("arr"), (idx + 1).cast("int"))

        return F.array_sort(
            F.transform(F.sequence(F.lit(1), F.col("n").cast("int")), draw)
        )

    dms = [dm_of(resample(b), F.col("n")).alias(f"m{b}") for b in range(1, B + 1)]
    row = g.select("user_id", "n", dm_of(F.col("arr"), F.col("n")).alias("pt"), *dms)
    boot = F.array(*[F.col(f"m{b}") for b in range(1, B + 1)])
    r4u = lambda c: F.floor(c / 2e4 * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return row.select(
        "user_id",
        F.col("n").alias("n_rows"),
        r4u(F.array_min(boot)).alias("boot_lo"),
        r4u(F.array_max(boot)).alias("boot_hi"),
        r4u(F.col("pt")).alias("median_point"),
    )


# --------------------------------------------------------------------
# A38 — deterministic permutation test (md5-seeded label shuffles)
# --------------------------------------------------------------------

_A38_P = 16  # permutation replicates

_A38_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u,
         CAST(user_id % 2 AS BIGINT) AS obs_arm
  FROM events
),
fan AS (
  SELECT p, e.event_id, e.u, e.obs_arm,
         md5(e.event_id || '#' || p) AS h
  FROM e, generate_series(0, {_A38_P}) t(p)
),
perms AS (  -- p = 0 is the OBSERVED assignment (user parity); p > 0
            -- is a SIZE-PRESERVING permutation: rank rows by
            -- md5(event_id, p) within the replicate and hand the top
            -- n1 ranks to arm 1, so every replicate has exactly the
            -- observed arm sizes (exchangeability under H0 permutes
            -- labels, it does not redraw them iid)
  SELECT p, u,
         CASE WHEN p = 0 THEN obs_arm
              WHEN row_number() OVER (PARTITION BY p ORDER BY h, event_id)
                   <= sum(obs_arm) OVER (PARTITION BY p)
              THEN 1 ELSE 0 END AS arm
  FROM fan
),
stats AS (
  SELECT p,
         sum(CASE WHEN arm = 0 THEN u ELSE 0 END) AS t0,
         CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
         sum(CASE WHEN arm = 1 THEN u ELSE 0 END) AS t1,
         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1
  FROM perms GROUP BY p
),
d AS (
  SELECT p,
         abs(CAST(t0 AS DOUBLE) / n0 - CAST(t1 AS DOUBLE) / n1) AS adiff
  FROM stats WHERE n0 > 0 AND n1 > 0
),
obs AS (SELECT adiff AS obs_diff FROM d WHERE p = 0)
SELECT CAST(count(*) AS BIGINT) AS n_perms,
       floor(max(obs.obs_diff) / 1e4 * 1e4 + 0.5) / 1e4 AS obs_diff,
       CAST(count(*) FILTER (WHERE d.adiff >= obs.obs_diff) AS BIGINT)
         AS n_extreme,
       floor((1 + count(*) FILTER (WHERE d.adiff >= obs.obs_diff))
             / CAST(1 + count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS p_value
FROM d CROSS JOIN obs
WHERE d.p > 0
"""


@query("a38_permutation_test", oracle=_A38_ORACLE)
def a38_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38: permutation test for the between-arm mean difference — the
    exact-inference companion to A35's parametric z (no normality, no
    variance formula: if the arms are exchangeable, relabeling events
    can't change the statistic's distribution). A37's determinism
    device applied to HYPOTHESIS TESTING: permutation p relabels
    every event by md5(event_id, p) % 2, so both engines generate the
    IDENTICAL 16 label shuffles and the whole test — observed
    statistic, each permuted statistic, the extreme count, the
    p-value — carries a full cross-engine value hash. Arm sums are
    exact integers; each |mean diff| is one deterministic float
    expression over four exact integers (the A33 discipline), so the
    ≥-comparison against the observed value is bit-identical across
    engines.

    Replicates are SIZE-PRESERVING (round-7 advice fix): replicate p
    ranks events by md5(event_id, p) and assigns the top n1 ranks to
    arm 1, where n1 is the observed arm-1 size — a true label
    permutation, not an iid Bernoulli relabel, so unbalanced designs
    get the correct null variance. The p-value carries the standard
    +1 correction (1+n_extreme)/(1+P) — a finite permutation test can
    never legitimately report p = 0. Resolution is 1/(P+1); replicate
    count buys resolution linearly, the documented knob.

    Scale: the 17× fan-out is still map-side (a generate over a
    literal range), and the per-replicate rank runs as one
    applyInPandas group per p (r12: hashlib reproduces the md5 hex
    bit-for-bit and np.lexsort the (h, event_id) order, so the
    shuffle keyed by p carries no hash strings and no window sort —
    still no join on corpus rows; tripwired below). At cluster scale
    each replicate lands in ONE task either way, so for 100 TB
    inputs use the REGISTERED scale path
    `a38b_permutation_user_level` — pre-aggregate to the
    exchangeable unit (users) and permute user labels, which also
    fixes the clustered-design inference (arm is user parity, so
    users, not events, are exchangeable under H0). A38 stays as the
    event-level twin for genuinely unclustered designs at small n.
    """
    P = _A38_P
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
        (F.col("user_id") % 2).cast("long").alias("obs_arm"),
    )
    fan = e.select(
        "event_id",
        "u",
        "obs_arm",
        F.explode(F.sequence(F.lit(0), F.lit(P))).alias("p"),
    )

    # r12 optimization (guide §4.2): the per-replicate rank used to be
    # 17 window sorts over the fanned corpus, shuffling every row's
    # 32-char md5 hex with it (~1.9 s of a38's 4.6 s fresh at sf0.1).
    # Each replicate is now ONE applyInPandas group: hashlib.md5 of
    # the identical "event_id#p" UTF-8 string reproduces the JVM/
    # DuckDB md5 hex bit-for-bit, np.lexsort((event_id, h)) is the
    # (h, event_id) ordering (ASCII hex compares bytewise), and the
    # group emits its 4 exact-integer arm sums — so the 17-row stat
    # table is value-identical (hash-oracle re-verified) while the
    # shuffle carries (event_id, u, obs_arm, p) and no hash strings.
    # Scale caveat unchanged: one replicate = one task; the registered
    # 100 TB path stays a38b (permute the exchangeable USER unit).
    import hashlib

    import numpy as np
    import pandas as pd

    def perm_stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        p = int(pdf["p"].iloc[0])
        eid = pdf["event_id"].to_numpy(dtype=np.int64)
        u = pdf["u"].to_numpy(dtype=np.int64)
        obs = pdf["obs_arm"].to_numpy(dtype=np.int64)
        if p == 0:
            arm = obs
        else:
            h = np.array(
                [hashlib.md5(f"{i}#{p}".encode()).hexdigest() for i in eid]
            )
            order = np.lexsort((eid, h))
            arm = np.zeros(eid.size, dtype=np.int64)
            arm[order[: int(obs.sum())]] = 1
        m1 = arm == 1
        return pd.DataFrame(
            {
                "p": [p],
                "t0": [int(u[~m1].sum())],
                "n0": [int((~m1).sum())],
                "t1": [int(u[m1].sum())],
                "n1": [int(m1.sum())],
            }
        )

    stats = fan.groupby("p").applyInPandas(
        perm_stats, "p long, t0 long, n0 long, t1 long, n1 long"
    )
    d = stats.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "p",
        F.abs(
            F.col("t0").cast("double") / F.col("n0")
            - F.col("t1").cast("double") / F.col("n1")
        ).alias("adiff"),
    )
    # observed stat attaches via a window over the 17-row stat table
    # (TRAPS #19) — a join-back would re-derive the corpus scan for
    # the obs branch (caught by the plan tripwire on first write)
    wall = Window.partitionBy()
    d = d.withColumn(
        "obs_diff",
        F.max(F.when(F.col("p") == 0, F.col("adiff"))).over(wall),
    )
    return (
        d.filter(F.col("p") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_perms"),
            R4(F.max("obs_diff") / 1e4).alias("obs_diff"),
            F.count(F.when(F.col("adiff") >= F.col("obs_diff"), 1)).alias(
                "n_extreme"
            ),
            R4(
                (1 + F.count(F.when(F.col("adiff") >= F.col("obs_diff"), 1)))
                / (1 + F.count(F.lit(1))).cast("double")
            ).alias("p_value"),
        )
    )


_A38B_ORACLE = f"""
WITH e AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS obs_arm,
         sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT)) AS su,
         CAST(count(*) AS BIGINT) AS ne
  FROM events GROUP BY 1, 2
),
fan AS (
  SELECT p, e.user_id, e.su, e.ne, e.obs_arm,
         md5(e.user_id || '#' || p) AS h
  FROM e, generate_series(0, {_A38_P}) t(p)
),
perms AS (  -- p = 0 observed; p > 0 permutes USER labels (the
            -- exchangeable unit): rank users by md5(user_id, p) and
            -- hand the top n1_users ranks to arm 1
  SELECT p, su, ne,
         CASE WHEN p = 0 THEN obs_arm
              WHEN row_number() OVER (PARTITION BY p ORDER BY h, user_id)
                   <= sum(obs_arm) OVER (PARTITION BY p)
              THEN 1 ELSE 0 END AS arm
  FROM fan
),
stats AS (
  SELECT p,
         sum(CASE WHEN arm = 0 THEN su ELSE 0 END) AS t0,
         sum(CASE WHEN arm = 0 THEN ne ELSE 0 END) AS n0,
         sum(CASE WHEN arm = 1 THEN su ELSE 0 END) AS t1,
         sum(CASE WHEN arm = 1 THEN ne ELSE 0 END) AS n1
  FROM perms GROUP BY p
),
d AS (
  SELECT p,
         abs(CAST(t0 AS DOUBLE) / n0 - CAST(t1 AS DOUBLE) / n1) AS adiff
  FROM stats WHERE n0 > 0 AND n1 > 0
),
obs AS (SELECT adiff AS obs_diff FROM d WHERE p = 0)
SELECT CAST(count(*) AS BIGINT) AS n_perms,
       floor(max(obs.obs_diff) / 1e4 * 1e4 + 0.5) / 1e4 AS obs_diff,
       CAST(count(*) FILTER (WHERE d.adiff >= obs.obs_diff) AS BIGINT)
         AS n_extreme,
       floor((1 + count(*) FILTER (WHERE d.adiff >= obs.obs_diff))
             / CAST(1 + count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS p_value
FROM d CROSS JOIN obs
WHERE d.p > 0
"""


@query("a38b_permutation_user_level", oracle=_A38B_ORACLE)
def a38b_permutation_user_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A38b: the CLUSTER-SCALE form of A38's permutation test — permute
    at the EXCHANGEABLE UNIT (users), not at the event row. A38's arm
    is user parity, so events of one user always share a label: under
    H0 the exchangeable objects are users, and the statistically
    correct permutation relabels USERS (event-level shuffling, A38's
    registered plan, both over-counts the effective sample size for
    clustered data AND demands a corpus-sized rank sort per
    replicate). Here the corpus collapses FIRST to one row per user
    (exact integer sum + event count — map-side combinable), and only
    the user table is fanned 17x and rank-permuted. The statistic is
    the same event-weighted mean difference (t0/n0 - t1/n1 from user
    sums), the rank device the same md5(user_id, p) order, the tail
    the same +1-corrected p — full cross-engine value hash.

    Scale: the per-replicate rank still keys on p alone, but its input
    is USER-level rows — #users per task, not corpus rows (the r7
    verdict's one scale-killer, cleared). The corpus-sized stage is a
    single partial/final agg; `event_id` never appears in the plan, so
    no stage can sort corpus rows by construction (tripwired in
    tests/test_plans.py). A38's docstring names this as its 100 TB
    escape; A38 itself stays registered as the event-level
    (unclustered-design) twin.
    """
    P = _A38_P
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            (F.col("user_id") % 2).cast("long").alias("obs_arm"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
            ).alias("su"),
            F.count(F.lit(1)).alias("ne"),
        )
    )
    fan = e.select(
        "user_id",
        "su",
        "ne",
        "obs_arm",
        F.explode(F.sequence(F.lit(0), F.lit(P))).alias("p"),
    ).withColumn(
        "h",
        F.md5(
            F.concat_ws(
                "#",
                F.col("user_id").cast("string"),
                F.col("p").cast("string"),
            ).cast("binary")
        ),
    )
    w_rank = Window.partitionBy("p").orderBy("h", "user_id")
    w_all = Window.partitionBy("p")
    perms = fan.select(
        "p",
        "su",
        "ne",
        F.when(F.col("p") == 0, F.col("obs_arm"))
        .otherwise(
            (
                F.row_number().over(w_rank)
                <= F.sum("obs_arm").over(w_all)
            ).cast("long")
        )
        .alias("arm"),
    )
    stats = perms.groupBy("p").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("su")).otherwise(0)).alias("t0"),
        F.sum(F.when(F.col("arm") == 0, F.col("ne")).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("su")).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("arm") == 1, F.col("ne")).otherwise(0)).alias("n1"),
    )
    d = stats.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "p",
        F.abs(
            F.col("t0").cast("double") / F.col("n0")
            - F.col("t1").cast("double") / F.col("n1")
        ).alias("adiff"),
    )
    wall = Window.partitionBy()
    d = d.withColumn(
        "obs_diff",
        F.max(F.when(F.col("p") == 0, F.col("adiff"))).over(wall),
    )
    return (
        d.filter(F.col("p") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_perms"),
            R4(F.max("obs_diff") / 1e4).alias("obs_diff"),
            F.count(F.when(F.col("adiff") >= F.col("obs_diff"), 1)).alias(
                "n_extreme"
            ),
            R4(
                (1 + F.count(F.when(F.col("adiff") >= F.col("obs_diff"), 1)))
                / (1 + F.count(F.lit(1))).cast("double")
            ).alias("p_value"),
        )
    )


_A41_ORACLE = """
WITH e AS (
  SELECT event_type,
         CAST(user_id % 2 AS BIGINT) AS arm,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_type,
         CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
         sum(CASE WHEN arm = 0 THEN u ELSE 0 END) AS s0,
         sum(CASE WHEN arm = 1 THEN u ELSE 0 END) AS s1,
         sum(CASE WHEN arm = 0 THEN u * u ELSE 0 END) AS ss0,
         sum(CASE WHEN arm = 1 THEN u * u ELSE 0 END) AS ss1
  FROM e GROUP BY 1
),
d AS (
  SELECT event_type, n0, n1,
         CAST(s0 AS DOUBLE) / n0 AS m0,
         CAST(s1 AS DOUBLE) / n1 AS m1,
         (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0
          + CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
           / (n0 + n1 - 2) AS varp
  FROM s WHERE n0 >= 2 AND n1 >= 2
)
SELECT event_type, n0, n1,
       floor(m0 / 1e4 * 1e4 + 0.5) / 1e4 AS mean_arm0,
       floor(m1 / 1e4 * 1e4 + 0.5) / 1e4 AS mean_arm1,
       floor((m0 - m1) / sqrt(varp) * 1e4 + 0.5) / 1e4 AS cohens_d,
       floor((m0 - m1) / sqrt(varp)
             * (1 - 3.0 / (4 * (n0 + n1) - 9)) * 1e4 + 0.5) / 1e4
         AS hedges_g
FROM d WHERE varp > 0
"""


@query("a41_effect_size_census", oracle=_A41_ORACLE)
def a41_effect_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A41: standardized effect-size census — Cohen's d and the
    small-sample-corrected Hedges' g between the two experiment arms
    (user parity, A35/A38's split), per event type. The inference
    family's missing MAGNITUDE member: A35/A38/A39 answer "is the
    difference real?", A41 answers "is it big enough to matter?" —
    the number a launch review reads next to the p-value, and the one
    that stays meaningful when n is so large that everything is
    significant.

    Exactness: the A33 discipline end to end — values quantize to 1e4
    integer units, each arm reduces to exact integer (n, Σu, Σu²),
    and d = (m0−m1)/√varp is one deterministic float expression over
    those six integers (Σu² stays in bigint range: u ≤ 5e6, n ≤ 1e5 →
    Σu² ≤ 2.5e18; the s² term divides BEFORE subtracting as a double
    to dodge the bigint-overflow trap). Hedges' g applies the exact
    J-correction 1 − 3/(4n−9). Arms with n < 2 or zero pooled
    variance export nothing (undefined, TRAPS #22).

    Scale: one scan, one partial/final agg to |event_types| rows —
    the A5 profile; nothing downstream of the agg touches corpus
    rows.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("u")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("u")).otherwise(0)).alias("s1"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("u") * F.col("u")).otherwise(0)
        ).alias("ss0"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("u") * F.col("u")).otherwise(0)
        ).alias("ss1"),
    )
    m0 = F.col("s0").cast("double") / F.col("n0")
    m1 = F.col("s1").cast("double") / F.col("n1")
    varp = (
        F.col("ss0").cast("double")
        - F.col("s0").cast("double") * F.col("s0") / F.col("n0")
        + F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n0") + F.col("n1") - 2)
    d = s.filter((F.col("n0") >= 2) & (F.col("n1") >= 2)).select(
        "event_type",
        "n0",
        "n1",
        m0.alias("m0"),
        m1.alias("m1"),
        varp.alias("varp"),
    )
    return d.filter(F.col("varp") > 0).select(
        "event_type",
        "n0",
        "n1",
        R4(F.col("m0") / 1e4).alias("mean_arm0"),
        R4(F.col("m1") / 1e4).alias("mean_arm1"),
        R4((F.col("m0") - F.col("m1")) / F.sqrt("varp")).alias("cohens_d"),
        R4(
            (F.col("m0") - F.col("m1"))
            / F.sqrt("varp")
            * (1 - 3.0 / (4 * (F.col("n0") + F.col("n1")) - 9))
        ).alias("hedges_g"),
    )


# --------------------------------------------------------------------
# W21 — categorical streak census (longest same-type run)
# --------------------------------------------------------------------

_W21_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
),
f AS (
  SELECT user_id, event_id, ts_us, event_type,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_break
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
r AS (
  SELECT user_id, event_type,
         sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS run_id
  FROM f
),
runs AS (
  SELECT user_id, event_type, run_id, CAST(count(*) AS BIGINT) AS len
  FROM r GROUP BY user_id, event_type, run_id
)
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_runs,
       max(len) AS longest_run,
       sum(len) AS n_events
FROM runs
GROUP BY user_id, event_type
"""


@query("w21_streak_census", oracle=_W21_ORACLE)
def w21_streak_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W21: categorical streak census — per (object, event type): how
    many consecutive-run STREAKS, and how long was the longest? The
    categorical sibling of W8's monotone runs (W8 asks "how long does
    a value keep rising", W21 "how long does the same state repeat")
    and the op behind "longest error streak" alerting and engagement
    streak features. Run boundaries come from a lag-change flag and a
    running sum over the SAME total order (ts, event_id) — using one
    order for the flag and another for the cumsum is the subtle way
    to get engine-dependent run ids (Q28's session-numbering lesson);
    IS DISTINCT FROM handles each key's NULL-lag first row as a break
    without a special case. All counts exact; no floats at all.

    Scale: lag + running sum share one user_id exchange (TRAPS #17),
    run lengths and the final census are two partial/final aggs —
    raw rows shuffle once, runs collapse map-side.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    f = e.select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("is_break"),
    )
    r = f.select(
        "user_id",
        "event_type",
        F.sum("is_break")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    runs = r.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("len")
    )
    return runs.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("len").alias("longest_run"),
        F.sum("len").alias("n_events"),
    )


# --------------------------------------------------------------------
# A39 — Benjamini–Hochberg FDR over exact permutation p-values
# --------------------------------------------------------------------

_A39_P = 16  # permutation replicates per stream
_A39_Q_NUM, _A39_Q_DEN = 1, 4  # BH level q = 1/4, kept rational

_A39_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS obs_arm
  FROM events WHERE value IS NOT NULL
),
fan AS (
  SELECT p, e.user_id, e.event_id, e.u, e.obs_arm,
         md5(e.event_id || '#' || p) AS h
  FROM e, generate_series(0, {_A39_P}) t(p)
),
perms AS (
  SELECT p, user_id, u,
         CASE WHEN p = 0 THEN obs_arm
              WHEN row_number() OVER (PARTITION BY user_id, p
                                      ORDER BY h, event_id)
                   <= sum(obs_arm) OVER (PARTITION BY user_id, p)
              THEN 1 ELSE 0 END AS arm
  FROM fan
),
stats AS (
  SELECT user_id, p,
         sum(CASE WHEN arm = 0 THEN u ELSE 0 END) AS t0,
         CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
         sum(CASE WHEN arm = 1 THEN u ELSE 0 END) AS t1,
         CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1
  FROM perms GROUP BY 1, 2
),
d AS (
  SELECT user_id, p,
         abs(CAST(t0 AS DOUBLE) / n0 - CAST(t1 AS DOUBLE) / n1) AS adiff
  FROM stats WHERE n0 > 0 AND n1 > 0
),
obs AS (SELECT user_id, adiff AS obs_diff FROM d WHERE p = 0),
pv AS (
  SELECT d.user_id,
         CAST(1 + count(*) FILTER (WHERE d.adiff >= obs.obs_diff) AS BIGINT)
           AS p_numer
  FROM d JOIN obs ON obs.user_id = d.user_id
  WHERE d.p > 0 GROUP BY 1
),
ranked AS (
  SELECT user_id, p_numer,
         CAST(row_number() OVER (ORDER BY p_numer, user_id) AS BIGINT)
           AS bh_rank,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pv
),
kmax AS (
  SELECT coalesce(max(bh_rank) FILTER (
           WHERE p_numer * {_A39_Q_DEN} * m
                 <= ({_A39_P} + 1) * {_A39_Q_NUM} * bh_rank), 0) AS k
  FROM ranked
)
SELECT r.user_id, r.p_numer,
       floor(r.p_numer / CAST({_A39_P + 1} AS DOUBLE) * 1e4 + 0.5) / 1e4
         AS p_value,
       r.bh_rank,
       CAST(CASE WHEN r.bh_rank <= kmax.k THEN 1 ELSE 0 END AS BIGINT)
         AS discovered
FROM ranked r CROSS JOIN kmax
"""


@query(
    "a39_bh_fdr",
    oracle=_A39_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def a39_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A39: Benjamini–Hochberg FDR control over a BATTERY of per-object
    drift tests — the multiple-comparisons closer the inference family
    (A24/A25/A26/A35/A38) was missing: running A38's test once per
    object without correction manufactures ~q·m false drift alarms on
    a stationary corpus, which is exactly what a per-metric monitoring
    battery must not do. Each object gets an A38-style deterministic
    SIZE-PRESERVING permutation test of the pinned before/after split
    (md5(event_id, p)-ranked relabels WITHIN the object, 16 replicates)
    → p-values are exact rationals (1+k)/17; BH then finds the largest
    rank i with p_(i) ≤ q·i/m. The entire BH gate is INTEGER
    arithmetic by cross-multiplication — (1+k)·4·m ≤ 17·i at q = 1/4 —
    so the discovery frontier carries a full cross-engine value hash
    with zero float comparisons anywhere in the decision path (the
    device that put resampling inference in the hashable tier, now
    applied to the FDR frontier itself). On the stationary test corpus
    the expected discovery count is ~0 — the procedure's job — and the
    planted-shift unit test proves the gate OPENS when drift is real.

    Scale: this is the shape a38's own docstring prescribes for
    clusters — permutation WITHIN bounded groups: the rank sort keys
    on (object, replicate), so replicates of different objects land on
    different reducers and no single task ever holds more than one
    object's rows ×1 replicate. The BH tail is RANGE-BUCKETED (r8
    verdict item 3): exact percentile cuts over the object key
    subdivide each p-class, local row_numbers + broadcast offsets
    reconstruct the global BH rank exactly, and kmax is a scalar agg
    + broadcast — no task anywhere holds the whole object table.
    """
    split = F.lit("2024-01-16").cast("timestamp")
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
        F.when(F.col("ts") < split, 1).otherwise(0).cast("long").alias("obs_arm"),
    )
    return _bh_fdr_battery(e)


def _bh_fdr_battery(
    e: DataFrame,
    P: int = _A39_P,
    q_num: int = _A39_Q_NUM,
    q_den: int = _A39_Q_DEN,
) -> DataFrame:
    """A39's machinery over any (event_id, user_id, u, obs_arm) frame:
    per-user size-preserving permutation p-values (``_a39_pvalues``,
    kept separate so the plan tripwire can audit the corpus stage past
    the checkpoint boundary) + the range-bucketed integer-exact BH
    tail. Factored out so the planted-shift test can prove the gate
    OPENS on real drift (the corpus run only shows it staying shut)."""
    return _bh_fdr_tail(
        _a39_pvalues(e, P).localCheckpoint(eager=False), P, q_num, q_den
    )


def _a39_pvalues(e: DataFrame, P: int = _A39_P) -> DataFrame:
    """The corpus stage of A39: (P+1)× deterministic permutation
    fan-out, per-(user, p) arm sums, per-user permutation p-value
    numerators. Everything shuffles on (user_id[, p]) — bounded
    groups, never a global sort."""
    fan = e.select(
        "user_id",
        "event_id",
        "u",
        "obs_arm",
        F.explode(F.sequence(F.lit(0), F.lit(P))).alias("p"),
    ).withColumn(
        "h",
        F.md5(
            F.concat_ws(
                "#",
                F.col("event_id").cast("string"),
                F.col("p").cast("string"),
            ).cast("binary")
        ),
    )
    w_rank = Window.partitionBy("user_id", "p").orderBy("h", "event_id")
    w_all = Window.partitionBy("user_id", "p")
    perms = fan.select(
        "user_id",
        "p",
        "u",
        F.when(F.col("p") == 0, F.col("obs_arm"))
        .otherwise(
            (F.row_number().over(w_rank) <= F.sum("obs_arm").over(w_all)).cast(
                "long"
            )
        )
        .alias("arm"),
    )
    stats = perms.groupBy("user_id", "p").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("u")).otherwise(0)).alias("t0"),
        F.count(F.when(F.col("arm") == 0, 1)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("u")).otherwise(0)).alias("t1"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n1"),
    )
    d = stats.filter((F.col("n0") > 0) & (F.col("n1") > 0)).select(
        "user_id",
        "p",
        F.abs(
            F.col("t0").cast("double") / F.col("n0")
            - F.col("t1").cast("double") / F.col("n1")
        ).alias("adiff"),
    )
    # observed stat attaches via a per-object window (TRAPS #19 —
    # a join-back would rescan the fan-out for the obs branch)
    w_user = Window.partitionBy("user_id")
    d = d.withColumn(
        "obs_diff", F.max(F.when(F.col("p") == 0, F.col("adiff"))).over(w_user)
    )
    return (
        d.filter((F.col("p") > 0) & F.col("obs_diff").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                1 + F.count(F.when(F.col("adiff") >= F.col("obs_diff"), 1))
            ).alias("p_numer")
        )
    )


def _bh_fdr_tail(
    pv: DataFrame,
    P: int = _A39_P,
    q_num: int = _A39_Q_NUM,
    q_den: int = _A39_Q_DEN,
    checkpoint: bool = True,
) -> DataFrame:
    """The BH frontier over a (user_id, p_numer) table. The caller
    passes pv lazily checkpointed so the cuts leg, the offsets leg,
    and the ranking leg all consume ONE materialization — the
    expensive (P+1)× permutation fan never re-runs."""
    # RANGE-BUCKETED BH rank (r8 verdict item 3): the sort key is
    # (p_numer, user_id); p_numer already has ≤ P+1 values, and exact
    # percentile cuts over user_id subdivide each p-class so no single
    # task ever ranks the whole object table. Offsets come from the
    # ≤ (P+1)·17-row bucket-count table (output-bounded by constants);
    # global row_number = offset + local row_number because the
    # (p_numer, ubkt) lexicographic order refines the global order and
    # user_id is unique within a bucket.
    qlist = ",".join(f"{i / 16.0}D" for i in range(1, 16))
    cuts = pv.agg(F.expr(f"percentile(user_id, array({qlist}))").alias("bs"))
    b = (
        pv.crossJoin(F.broadcast(cuts))
        .withColumn(
            "ubkt", F.size(F.filter("bs", lambda x: F.col("user_id") > x))
        )
        .drop("bs")
    )
    woff = Window.orderBy("p_numer", "ubkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wtot = Window.partitionBy()
    offs = (
        b.groupBy("p_numer", "ubkt")
        .agg(F.count(F.lit(1)).alias("bn"))
        .select(
            "p_numer",
            "ubkt",
            F.coalesce(F.sum("bn").over(woff), F.lit(0))
            .cast("long")
            .alias("off"),
            F.sum("bn").over(wtot).cast("long").alias("m"),
        )
    )
    wloc = Window.partitionBy("p_numer", "ubkt").orderBy("user_id")
    ranked = (
        b.join(F.broadcast(offs), ["p_numer", "ubkt"])
        .select(
            "user_id",
            "p_numer",
            (F.col("off") + F.row_number().over(wloc))
            .cast("long")
            .alias("bh_rank"),
            "m",
        )
    )
    if checkpoint:
        # one materialization feeds both the kmax scalar and the export
        ranked = ranked.localCheckpoint(eager=False)
    ok = (
        F.col("p_numer") * q_den * F.col("m")
        <= (P + 1) * q_num * F.col("bh_rank")
    )
    # kmax is a SCALAR — a distributed max + broadcast, not a second
    # pass of every row through one window task
    kmax = ranked.agg(
        F.coalesce(F.max(F.when(ok, F.col("bh_rank"))), F.lit(0)).alias(
            "kmax"
        )
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "user_id",
        "p_numer",
        R4(F.col("p_numer") / float(P + 1)).alias("p_value"),
        "bh_rank",
        F.when(F.col("bh_rank") <= F.col("kmax"), 1)
        .otherwise(0)
        .cast("long")
        .alias("discovered"),
    )


# --------------------------------------------------------------------
# A42 — Wilcoxon signed-rank test (paired before/after per object)
# --------------------------------------------------------------------

_A42_ORACLE = """
WITH e AS (
  SELECT user_id,
         (ts < TIMESTAMP '2024-01-16') AS bef,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
pu AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE bef) AS BIGINT) AS nb,
         CAST(count(*) FILTER (WHERE NOT bef) AS BIGINT) AS na,
         sum(CASE WHEN bef THEN u ELSE 0 END) AS sb,
         sum(CASE WHEN NOT bef THEN u ELSE 0 END) AS sa
  FROM e GROUP BY 1
),
d AS (
  SELECT user_id,
         CAST(floor(CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na + 0.5)
              AS BIGINT) AS dq
  FROM pu WHERE nb > 0 AND na > 0
),
nz AS (SELECT user_id, dq, abs(dq) AS adq FROM d WHERE dq <> 0),
r AS (
  SELECT dq,
         rank() OVER w
           + count(*) OVER (w RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS dr
  FROM nz WINDOW w AS (ORDER BY adq)
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE dq > 0) AS BIGINT) AS n_pos,
         CAST(count(*) FILTER (WHERE dq < 0) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN dq > 0 THEN dr ELSE 0 END) AS BIGINT)
           AS w_plus_doubled
  FROM r
)
SELECT n, n_pos, n_neg, w_plus_doubled,
       floor((CAST(w_plus_doubled AS DOUBLE) / 2 - n * (n + 1) / 4.0)
             / sqrt(n * (n + 1) * (2 * n + 1) / 24.0) * 1e4 + 0.5) / 1e4
         AS z_score
FROM s WHERE n > 0
"""


@query(
    "a42_wilcoxon_signed_rank",
    oracle=_A42_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def a42_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A42: Wilcoxon signed-rank test — the PAIRED member of the
    nonparametric family (A26 MWU = two independent samples, A42 =
    the same objects before vs after): each object contributes one
    quantized mean difference across the pinned split, zero diffs
    drop (the standard Wilcoxon treatment), |diff| ranks with exact
    DOUBLED midranks (the A26/A32 integer device, rank() + a
    RANGE-framed cumulative count sharing one sort), and W+ is an
    exact integer. The normal z uses the classic null moments
    n(n+1)/4 and n(n+1)(2n+1)/24 in one deterministic float
    expression — no tie-variance correction (documented; with
    1e4-quantized rationals exact ties are rare and both engines
    agree on the same doubled midranks when they occur).

    Scale: one corpus scan collapses to per-object exact integer
    sums (partial/final agg); everything after — diff, rank, moments
    — runs on the OBJECT table (the a38b discipline). The ranking is
    RANGE-BUCKETED (r8 verdict item 3 — the documented swap,
    implemented): exact `percentile` cuts over |diff| split the
    object table into 32 VALUE-based buckets (equal values land in
    one bucket, so doubled midranks never straddle a boundary), each
    bucket ranks locally in parallel, and the global doubled midrank
    is 2·offset + local rank + local cumulative count, with offsets
    from a 33-row cumulative window (output-bounded by the constant
    bucket count). No unpartitioned Window ever touches object rows —
    plan-tested.
    """
    split = F.lit("2024-01-16").cast("timestamp")
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        (F.col("ts") < split).alias("bef"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    pu = e.groupBy("user_id").agg(
        F.count(F.when(F.col("bef"), 1)).alias("nb"),
        F.count(F.when(~F.col("bef"), 1)).alias("na"),
        F.sum(F.when(F.col("bef"), F.col("u")).otherwise(0)).alias("sb"),
        F.sum(F.when(~F.col("bef"), F.col("u")).otherwise(0)).alias("sa"),
    )
    d = pu.filter((F.col("nb") > 0) & (F.col("na") > 0)).select(
        "user_id",
        F.floor(
            F.col("sb").cast("double") / F.col("nb")
            - F.col("sa").cast("double") / F.col("na")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dq"),
    )
    # lazy localCheckpoint: the cuts leg and the ranking leg share one
    # materialization of the per-object diffs (never rescan the fact)
    nz = (
        d.filter(F.col("dq") != 0)
        .withColumn("adq", F.abs("dq"))
        .localCheckpoint(eager=False)
    )
    # range-bucketed exact ranking (the q31b boundary device composed
    # with ranking): value-based buckets from exact type-7 percentile
    # cuts keep tie groups whole, so local midranks + offsets
    # reconstruct the global doubled midrank exactly
    qlist = ",".join(f"{i / 32.0}D" for i in range(1, 32))
    cuts = nz.agg(F.expr(f"percentile(adq, array({qlist}))").alias("bs"))
    b = (
        nz.crossJoin(F.broadcast(cuts))
        .withColumn(
            "bkt", F.size(F.filter("bs", lambda x: F.col("adq") > x))
        )
        .drop("bs")
    )
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("bn"))
        .select(
            "bkt",
            F.coalesce(F.sum("bn").over(woff), F.lit(0))
            .cast("long")
            .alias("off"),
        )
    )
    wb = Window.partitionBy("bkt").orderBy("adq")
    wrb = (
        Window.partitionBy("bkt")
        .orderBy("adq")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    r = b.join(F.broadcast(offs), "bkt").select(
        "dq",
        (
            2 * F.col("off")
            + F.rank().over(wb)
            + F.count(F.lit(1)).over(wrb)
        ).alias("dr"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("dq") > 0, 1)).alias("n_pos"),
        F.count(F.when(F.col("dq") < 0, 1)).alias("n_neg"),
        F.sum(F.when(F.col("dq") > 0, F.col("dr")).otherwise(0)).alias(
            "w_plus_doubled"
        ),
    )
    n = F.col("n")
    return s.filter(n > 0).select(
        "n",
        "n_pos",
        "n_neg",
        "w_plus_doubled",
        R4(
            (F.col("w_plus_doubled").cast("double") / 2 - n * (n + 1) / 4.0)
            / F.sqrt(n * (n + 1) * (2 * n + 1) / 24.0)
        ).alias("z_score"),
    )


# --------------------------------------------------------------------
# A43 — proportion census with Wilson score intervals
# --------------------------------------------------------------------

_A43_ORACLE = """
WITH b AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS k
  FROM events GROUP BY 1
),
g AS (SELECT sum(k) AS gk, sum(n) AS gn FROM b),
w AS (
  SELECT bucket, n, k,
         CAST(k AS DOUBLE) / n AS p,
         1.96 AS z
  FROM b
)
SELECT w.bucket, w.n, w.k,
       floor(w.p * 1e4 + 0.5) / 1e4 AS p_hat,
       floor(((w.p + w.z * w.z / (2 * w.n))
              - w.z * sqrt(w.p * (1 - w.p) / w.n
                           + w.z * w.z / (4.0 * w.n * w.n)))
             / (1 + w.z * w.z / w.n) * 1e4 + 0.5) / 1e4 AS ci_lo,
       floor(((w.p + w.z * w.z / (2 * w.n))
              + w.z * sqrt(w.p * (1 - w.p) / w.n
                           + w.z * w.z / (4.0 * w.n * w.n)))
             / (1 + w.z * w.z / w.n) * 1e4 + 0.5) / 1e4 AS ci_hi,
       (CAST(g.gk AS DOUBLE) / g.gn
          < ((w.p + w.z * w.z / (2 * w.n))
             - w.z * sqrt(w.p * (1 - w.p) / w.n
                          + w.z * w.z / (4.0 * w.n * w.n)))
            / (1 + w.z * w.z / w.n)
        OR CAST(g.gk AS DOUBLE) / g.gn
          > ((w.p + w.z * w.z / (2 * w.n))
             + w.z * sqrt(w.p * (1 - w.p) / w.n
                          + w.z * w.z / (4.0 * w.n * w.n)))
            / (1 + w.z * w.z / w.n)) AS excludes_global
FROM w CROSS JOIN g
"""


@query("a43_wilson_proportion_census", oracle=_A43_ORACLE)
def a43_wilson_proportion_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A43: per-segment purchase-rate census with WILSON score
    intervals — the uncertainty-aware version of the naive rate
    report (a raw p̂ from a 30-row segment and one from a 30k-row
    segment read identically; the Wilson interval makes the
    difference visible, stays inside [0,1], and behaves at p near 0/1
    where the Wald interval collapses — why it's the house choice
    over ±z√(pq/n)). Each segment also flags whether its interval
    EXCLUDES the global rate — the screening question (which segments
    genuinely deviate?) answered with interval logic instead of A35's
    per-pair test.

    Exactness: (n, k) are exact integers; p̂, the interval, and the
    exclusion flag are single deterministic float expressions over
    them (z = 1.96 literal), R4 on export; the comparison flag uses
    the UNROUNDED bounds on both engines so the boolean can't flap on
    a rounding edge. One scan → 10-row census; the global rate is a
    1-row broadcast leg over the census itself (no second scan).
    """
    b = load_table(spark, sf_dir, "events").groupBy(
        (F.col("user_id") % 10).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
    )
    g = b.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("__grate")
    )
    z = F.lit(1.96)
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    center = p + z * z / (2 * n)
    hw = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    lo = (center - hw) / denom
    hi = (center + hw) / denom
    return b.crossJoin(F.broadcast(g)).select(
        "bucket",
        "n",
        "k",
        R4(p).alias("p_hat"),
        R4(lo).alias("ci_lo"),
        R4(hi).alias("ci_hi"),
        ((F.col("__grate") < lo) | (F.col("__grate") > hi)).alias(
            "excludes_global"
        ),
    )


# --------------------------------------------------------------------
# A44 — Brown–Forsythe variance-equality test (Levene, median centers)
# --------------------------------------------------------------------

_A44_ORACLE = """
WITH e AS (
  SELECT event_type AS g,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT g, CAST(floor(quantile_cont(u, 0.5) * 2 + 0.5) AS BIGINT) AS m2
  FROM e GROUP BY g
),
z AS (
  SELECT e.g, abs(2 * u - m2) AS z
  FROM e JOIN med USING (g)
),
per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS ng,
         sum(z) AS tz,
         sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS qz
  FROM z GROUP BY g
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(ng) AS n, sum(tz) AS t, sum(qz) AS q,
         sum(CAST(tz AS DOUBLE) * CAST(tz AS DOUBLE) / ng) AS sgg
  FROM per
)
SELECT k AS n_groups, n AS n_rows,
       floor((sgg - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / n) / 4e8
             * 1e4 + 0.5) / 1e4 AS ss_between,
       floor((CAST(q AS DOUBLE) - sgg) / 4e8 * 1e4 + 0.5) / 1e4
         AS ss_within,
       floor(((sgg - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / n) / (k - 1))
             / ((CAST(q AS DOUBLE) - sgg) / (n - k)) * 1e4 + 0.5) / 1e4
         AS bf_stat
FROM tot
WHERE k >= 2 AND n > k AND CAST(q AS DOUBLE) - sgg > 0
"""


@query("a44_brown_forsythe", oracle=_A44_ORACLE)
def a44_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A44: Brown–Forsythe variance-equality test — do the k event
    types have the same SPREAD? The scale-comparison member the
    inference family lacked (A24/A36 compare means, A25/A26 compare
    distributions/locations, A44 = variances): classic Levene with
    MEDIAN centers (Brown–Forsythe — robust against the skewed,
    heavy-tailed values where the mean-centered variant lies), i.e.
    a one-way ANOVA (A36's exact-moment device, verbatim) run on the
    absolute deviations z = |x − med_g|.

    Exactness: values quantize to integer 1e-4 units; each group
    median is the exact type-7 interpolation both engines share (the
    A20 device), held DOUBLED so even-n interpolation never leaves
    BIGINT (A26/A37's device) — z = |2u − m2| is an exact integer in
    doubled units. From there A36's moment identities run on exact
    integer (n_g, T_g, ΣZ_g²) with HUGEINT/DECIMAL squares; the one
    float sum is the k=5-term Σ T_g²/n_g (L14 reorder-slack
    precedent). Sums of squares export in value² units (doubled² ⇒
    ÷4e8) at R4. Degenerate guards as A36 (TRAPS #22).

    Scale: per-group medians are one partial/final `percentile` agg
    to k rows, BROADCAST back (k constant — never a shuffle of the
    fact); z is map-side; the ANOVA is one partial/final agg to k
    rows + a scalar agg. Two fact scans (median pass + deviation
    pass) — the unavoidable two-pass shape of median-centered
    statistics; at 100 TB the median pass degrades gracefully to
    percentile_approx with the same plan.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    med = e.groupBy("g").agg(
        F.floor(F.percentile("u", F.lit(0.5)) * 2 + F.lit(0.5))
        .cast("long")
        .alias("m2")
    )
    z = e.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("u") - F.col("m2")).alias("z")
    )
    dec = "decimal(38,0)"
    per = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("z").alias("tz"),
        F.sum((F.col("z") * F.col("z")).cast(dec)).alias("qz"),
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("tz").alias("t"),
        F.sum("qz").alias("q"),
        F.sum(
            F.col("tz").cast("double")
            * F.col("tz").cast("double")
            / F.col("ng")
        ).alias("sgg"),
    )
    t2n = F.col("t").cast("double") * F.col("t").cast("double") / F.col("n")
    ssb = F.col("sgg") - t2n
    ssw = F.col("q").cast("double") - F.col("sgg")
    tot = tot.filter(
        (F.col("k") >= 2)
        & (F.col("n") > F.col("k"))
        & (F.col("q").cast("double") - F.col("sgg") > 0)
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        R4(ssb / 4e8).alias("ss_between"),
        R4(ssw / 4e8).alias("ss_within"),
        R4((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))).alias(
            "bf_stat"
        ),
    )


# --------------------------------------------------------------------
# A45 — Kruskal–Wallis k-group rank test (tie-corrected)
# --------------------------------------------------------------------

_A45_ORACLE = """
WITH e AS (
  SELECT event_type AS g,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
cell AS (
  SELECT g, u, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1, 2
),
ut AS (SELECT u, sum(cnt) AS t FROM cell GROUP BY u),
cu AS (
  SELECT u, t,
         sum(t) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) - t AS cb
  FROM ut
),
pg AS (
  SELECT g, sum(cnt) AS ng,
         sum(cnt * (2 * cb + t + 1)) AS r2
  FROM cell JOIN cu USING (u) GROUP BY g
),
ties AS (
  SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS st FROM cu
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, sum(ng) AS n,
         sum(CAST(r2 AS DOUBLE) * r2 / ng) AS s
  FROM pg
)
SELECT n AS n_rows, k AS n_groups,
       floor((3.0 * s / (n * (n + 1.0)) - 3 * (n + 1)) * 1e4 + 0.5) / 1e4
         AS h_stat,
       floor((1 - CAST(st AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE))
             * 1e4 + 0.5) / 1e4 AS tie_correction,
       floor(((3.0 * s / (n * (n + 1.0)) - 3 * (n + 1))
              / (1 - CAST(st AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE)))
             * 1e4 + 0.5) / 1e4 AS h_adj
FROM tot CROSS JOIN ties
WHERE k >= 2 AND n > k
  AND 1 - CAST(st AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE) > 0
"""


@query("a45_kruskal_wallis", oracle=_A45_ORACLE)
def a45_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A45: Kruskal–Wallis rank test — do the k event types share one
    value DISTRIBUTION LOCATION? The k-group generalization the
    nonparametric tier lacked: A26 (Mann–Whitney) compares two
    groups by ranks, A36 (ANOVA) compares k groups by means; A45 is
    the rank-based k-group member (one-way ANOVA on midranks),
    robust to the skew that invalidates A36's normality story. Tie
    correction C = 1 − Σ(t³−t)/(N³−N) reported separately and folded
    into h_adj = H/C — heavy quantization ties are the rule here.

    Exactness: A26's doubled-midrank device pooled across groups —
    values quantize to integer 1e-4 units, the cell table (g, u, cnt)
    collapses rows, doubled midrank 2·cb + t + 1 is an exact BIGINT
    per distinct value, and per-group doubled rank sums R2_g are
    exact integers. H in doubled units: H = 3·Σ R2_g²/n_g / (N(N+1))
    − 3(N+1) (the standard 12/N(N+1) picks up a /4 from doubling).
    The k=5-term Σ R2_g²/n_g is the one float sum (L14 reorder
    slack); tie cubes go through HUGEINT/decimal(38,0). Degenerate
    guards: k≥2, N>k, C>0 (TRAPS #22).

    Scale: one scan → (g,u) partial/final agg; the cumulative window
    runs over DISTINCT quantized values — value-DOMAIN-bounded cells
    (ml4's audited class in the single-partition sweep), never corpus
    rows; per-group sums re-aggregate the cell table. 1 scan, no
    join against the fact.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    cell = e.groupBy("g", "u").agg(F.count(F.lit(1)).alias("cnt"))
    ut = cell.groupBy("u").agg(F.sum("cnt").alias("t"))
    wcum = Window.orderBy("u").rowsBetween(Window.unboundedPreceding, 0)
    cu = ut.select(
        "u", "t", (F.sum("t").over(wcum) - F.col("t")).alias("cb")
    )
    pg = cell.join(cu, "u").groupBy("g").agg(
        F.sum("cnt").alias("ng"),
        F.sum(F.col("cnt") * (2 * F.col("cb") + F.col("t") + 1)).alias("r2"),
    )
    dec = "decimal(38,0)"
    ties = cu.agg(
        F.sum(
            (F.col("t").cast(dec) * F.col("t") * F.col("t") - F.col("t")).cast(
                dec
            )
        ).alias("st")
    )
    tot = pg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2") / F.col("ng")
        ).alias("s"),
    )
    n = F.col("n")
    h = 3.0 * F.col("s") / (n * (n + F.lit(1.0))) - 3 * (n + 1)
    c = 1 - F.col("st").cast("double") / (
        (n.cast(dec) * n * n - n).cast("double")
    )
    return (
        tot.crossJoin(F.broadcast(ties))
        .filter((F.col("k") >= 2) & (n > F.col("k")) & (c > 0))
        .select(
            n.alias("n_rows"),
            F.col("k").alias("n_groups"),
            R4(h).alias("h_stat"),
            R4(c).alias("tie_correction"),
            R4(h / c).alias("h_adj"),
        )
    )


# --------------------------------------------------------------------
# A47 — McNemar's paired-proportion test (before/after per user)
# --------------------------------------------------------------------

_A47_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(max(CASE WHEN event_type = 'purchase'
                        AND extract(hour FROM ts) < 12
                  THEN 1 ELSE 0 END) AS BIGINT) AS m,
         CAST(max(CASE WHEN event_type = 'purchase'
                        AND extract(hour FROM ts) >= 12
                  THEN 1 ELSE 0 END) AS BIGINT) AS e
  FROM events GROUP BY 1, 2
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(*) FILTER (WHERE m = 1 AND e = 1) AS BIGINT) AS n_both,
         CAST(count(*) FILTER (WHERE m = 1 AND e = 0) AS BIGINT) AS b,
         CAST(count(*) FILTER (WHERE m = 0 AND e = 1) AS BIGINT) AS c,
         CAST(count(*) FILTER (WHERE m = 0 AND e = 0) AS BIGINT) AS n_neither
  FROM u
)
SELECT n_pairs, n_both, b AS n_morning_only, c AS n_evening_only, n_neither,
       floor(CAST((b - c) * (b - c) AS DOUBLE) / (b + c) * 1e4 + 0.5)
         / 1e4 AS mcnemar_chi2,
       floor(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
             / (b + c) * 1e4 + 0.5) / 1e4 AS mcnemar_chi2_cc
FROM cells WHERE b + c > 0
"""


@query("a47_mcnemar_paired", oracle=_A47_ORACLE)
def a47_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A47: McNemar's test — on the same user-day, is purchasing in
    the MORNING vs the EVENING exchangeable? The PAIRED member of the
    proportion family: A35's z-test compares two independent groups;
    McNemar pairs each observation unit with itself (here the
    user-day, the natural pairing for a within-day timing question),
    so between-unit variance cancels and only the DISCORDANT cells
    matter (b = morning-only days, c = evening-only days):
    χ² = (b−c)²/(b+c), plus the continuity-corrected
    (|b−c|−1)²/(b+c), both reported — the significance readout for
    "did the push-notification window move purchases?" questions.

    Exactness: per-pair flags are exact MAX-CASE aggregates over a
    naive-timestamp hour split (identical on both engines); the 2×2
    cells are exact BIGINTs; each statistic is one rational float
    expression, R4. All-concordant input yields zero rows
    (TRAPS #22).

    Scale: one scan → (user, day) conditional agg (map-side
    combinable, high-cardinality key) → one scalar census. No
    window, no join.
    """
    is_p = F.col("event_type") == "purchase"
    u = load_table(spark, sf_dir, "events").groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(
        F.max(
            F.when(is_p & (F.hour("ts") < 12), 1).otherwise(0)
        ).alias("m"),
        F.max(
            F.when(is_p & (F.hour("ts") >= 12), 1).otherwise(0)
        ).alias("e"),
    )
    cells = u.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.when((F.col("m") == 1) & (F.col("e") == 1), 1)).alias(
            "n_both"
        ),
        F.count(F.when((F.col("m") == 1) & (F.col("e") == 0), 1)).alias(
            "b"
        ),
        F.count(F.when((F.col("m") == 0) & (F.col("e") == 1), 1)).alias(
            "c"
        ),
        F.count(F.when((F.col("m") == 0) & (F.col("e") == 0), 1)).alias(
            "n_neither"
        ),
    )
    b, c = F.col("b"), F.col("c")
    return cells.filter(b + c > 0).select(
        "n_pairs",
        "n_both",
        b.alias("n_morning_only"),
        c.alias("n_evening_only"),
        "n_neither",
        R4(((b - c) * (b - c)).cast("double") / (b + c)).alias(
            "mcnemar_chi2"
        ),
        R4(
            ((F.abs(b - c) - 1) * (F.abs(b - c) - 1)).cast("double")
            / (b + c)
        ).alias("mcnemar_chi2_cc"),
    )


# --------------------------------------------------------------------
# A48 — Wald–Wolfowitz runs test (sign randomness per series)
# --------------------------------------------------------------------

_A48_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT user_id,
         CAST(floor(quantile_cont(u, 0.5) * 2 + 0.5) AS BIGINT) AS m2
  FROM e GROUP BY user_id
),
s AS (
  SELECT e.user_id, e.t, e.event_id,
         CASE WHEN 2 * e.u > m.m2 THEN 1 ELSE -1 END AS sgn
  FROM e JOIN med m USING (user_id)
  WHERE 2 * e.u <> m.m2
),
r AS (
  SELECT user_id, sgn,
         lag(sgn) OVER (PARTITION BY user_id
                        ORDER BY t, event_id) AS prev
  FROM s
),
agg AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE sgn = 1) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE sgn = -1) AS BIGINT) AS n2,
         CAST(1 + count(*) FILTER (WHERE prev IS NOT NULL
                                     AND sgn <> prev) AS BIGINT) AS runs
  FROM r GROUP BY user_id
)
SELECT user_id, n1 + n2 AS n, runs,
       floor((1 + 2.0 * n1 * n2 / (n1 + n2)) * 1e4 + 0.5) / 1e4
         AS expected_runs,
       floor((runs - (1 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                       * (n1 + n2 - 1))) * 1e4 + 0.5) / 1e4 AS z
FROM agg
WHERE n1 > 0 AND n2 > 0 AND n1 + n2 >= 20
  AND 2.0 * n1 * n2 > n1 + n2
"""


@query("a48_runs_test", oracle=_A48_ORACLE)
def a48_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48: Wald–Wolfowitz runs test per series — are the
    above/below-median signs RANDOMLY ordered in time? The
    sequential-randomness member beside D13's von Neumann η (η reads
    smoothness from squared successive differences; the runs test
    reads it from sign ALTERNATION, distribution-free and immune to
    amplitude outliers): too few runs ⇒ trend/periodicity, too many
    ⇒ oscillation faster than sampling. z = (R − E[R])/σ_R with the
    exact E[R] = 1 + 2n₁n₂/n and Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)).

    Exactness: signs compare DOUBLED integers (2u vs the exact
    doubled median m2 — the A44/A26 device, so even-n interpolation
    never leaves BIGINT and exact-median points drop identically on
    both engines); runs and class counts are exact integers from one
    lag comparison; E/σ/z are single float expressions over them, R4.
    Degenerate series (single class, n < 20, zero variance of R)
    excluded (TRAPS #22).

    Scale: per-series median = one percentile agg joined back (AQE
    strategy — user-cardinality, not broadcast-able at 100 TB, an
    ordinary key-uniform join); one hash exchange on user_id feeds
    the lag window; the runs agg reuses that partitioning. O(1)
    per-row state.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("u"),
    )
    med = e.groupBy("user_id").agg(
        F.floor(F.percentile("u", F.lit(0.5)) * 2 + F.lit(0.5))
        .cast("long")
        .alias("m2")
    )
    s = e.join(med, "user_id").filter(2 * F.col("u") != F.col("m2")).select(
        "user_id",
        "t",
        "event_id",
        F.when(2 * F.col("u") > F.col("m2"), 1).otherwise(-1).alias("sgn"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    r = s.select(
        "user_id", "sgn", F.lag("sgn").over(w).alias("prev")
    )
    agg = r.groupBy("user_id").agg(
        F.count(F.when(F.col("sgn") == 1, 1)).alias("n1"),
        F.count(F.when(F.col("sgn") == -1, 1)).alias("n2"),
        (
            1
            + F.count(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("sgn") != F.col("prev")),
                    1,
                )
            )
        ).alias("runs"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    er = 1 + 2.0 * n1 * n2 / n
    vr = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / (n * n * (n - 1))
    return agg.filter(
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & (F.col("n1") + F.col("n2") >= 20)
        & (2.0 * n1 * n2 > n)
    ).select(
        "user_id",
        (F.col("n1") + F.col("n2")).alias("n"),
        "runs",
        R4(er).alias("expected_runs"),
        R4((F.col("runs") - er) / F.sqrt(vr)).alias("z"),
    )


# --------------------------------------------------------------------
# A49 — sequential probability ratio test (SPRT early stopping)
# --------------------------------------------------------------------

_A49_ORACLE = """
WITH trials AS (
  SELECT user_id % 2 AS arm, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
  FROM events
),
walk AS (
  SELECT arm, s,
         row_number() OVER w AS n,
         CAST(sum(s) OVER w AS BIGINT) AS cs
  FROM trials
  WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
llr AS (
  SELECT arm, n,
         cs * 405465 + (n - cs) * (-133531) AS llr_u
  FROM walk
),
cross_ AS (
  SELECT arm,
         min(CASE WHEN llr_u >= 2944439 OR llr_u <= -2944439
                  THEN n END) AS n_at_decision
  FROM llr GROUP BY arm
),
tot AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_trials,
         CAST(sum(s) AS BIGINT) AS n_success
  FROM trials GROUP BY arm
)
SELECT t.arm, t.n_trials, t.n_success,
       CAST(c.n_at_decision AS BIGINT) AS n_at_decision,
       CASE
         WHEN c.n_at_decision IS NULL THEN 'continue'
         WHEN (SELECT llr_u FROM llr
               WHERE llr.arm = t.arm AND llr.n = c.n_at_decision)
              >= 2944439 THEN 'reject_h0'
         ELSE 'accept_h0'
       END AS decision,
       CAST(t.n_success * 405465
            + (t.n_trials - t.n_success) * (-133531) AS BIGINT)
         AS llr_final_u
FROM tot t JOIN cross_ c ON t.arm = c.arm
"""


@query(
    "a49_sprt_boundary",
    oracle=_A49_ORACLE,
    note="the hashed result is the per-arm SPRT verdict — first "
    "boundary-crossing trial index, decision, final LLR — in exact "
    "1e-6-unit integer log-likelihood arithmetic; the oracle walks "
    "the full cumulative window while the Spark plan uses the "
    "two-phase cell escape (hour-bucket partial sums + exact scan of "
    "candidate buckets only) — different algorithm, same function",
)
def a49_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A49: Wald's SPRT — the SEQUENTIAL A/B verb the testing tier
    (A35 fixed-horizon z, A38 permutation) is missing in production:
    a pre-registered (p0=0.2, p1=0.3, α=β=0.05) sequential test
    monitors each arm's conversion stream and STOPS at the first
    trial where the log-likelihood ratio exits
    [ln(β/(1−α)), ln((1−β)/α)] — early stopping with controlled
    error, the reason every experimentation platform runs sequential
    tests instead of peeking at fixed-horizon p-values (peeking
    inflates false positives; SPRT's boundaries price it in).

    Exactness: per-trial LLR is AFFINE in the success count —
    llr(n, s) = s·L1 + (n−s)·L0 with L1 = ln(1.5), L0 = ln(0.875)
    frozen as 1e-6-unit integers — so the whole walk is exact BIGINT
    arithmetic and the crossing index is engine-stable (ordering
    pinned by (ts, event_id)).

    Scale — the TRAPS #17 discipline for an inherently sequential
    statistic: the naive form is a cumulative window PARTITIONED BY
    ARM (2 partitions — the single-partition scale killer this repo
    retired registry-wide in r8). Instead, phase 1 partial-aggregates
    trials to (arm, hour-bucket) cells and walks the cumulative LLR
    over the CELL table (bounded rows); phase 2 bounds each bucket's
    within-bucket excursion (all-successes-first / all-failures-first
    extremes: start + s_b·L1 ≥ A or start + f_b·L0 ≤ B) to name the
    few CANDIDATE buckets that could contain the first crossing, and
    only their trials are exactly walked — windowed by (arm, bucket),
    high cardinality. The corpus-sized data never feeds a
    low-cardinality window; the exact scan touches candidate buckets
    only (at a steady-state stream: the handful around the boundary).
    """
    L1, L0 = 405465, -133531  # 1e-6-unit ln(1.5), ln(0.875)
    A_U, B_U = 2_944_439, -2_944_439  # ln(19), ln(1/19)
    ev = load_table(spark, sf_dir, "events")
    trials = ev.select(
        (F.col("user_id") % 2).alias("arm"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("s"),
        F.date_trunc("hour", F.col("ts")).alias("bkt"),
    )
    # phase 1: cell escape — per (arm, hour) partial sums, then the
    # cumulative walk over the BOUNDED cell table
    cells = trials.groupBy("arm", "bkt").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("s").cast("long").alias("s_b"),
    )
    wc = (
        Window.partitionBy("arm")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cells = cells.select(
        "arm",
        "bkt",
        "n_b",
        "s_b",
        F.coalesce(F.sum("n_b").over(wc), F.lit(0)).alias("n_before"),
        F.coalesce(F.sum("s_b").over(wc), F.lit(0)).alias("s_before"),
    ).withColumn(
        "llr_start",
        F.col("s_before") * L1 + (F.col("n_before") - F.col("s_before")) * L0,
    )
    # phase 2: only buckets whose extreme within-bucket excursion can
    # reach a boundary are exactly walked
    cand = cells.filter(
        (F.col("llr_start") + F.col("s_b") * L1 >= A_U)
        | (
            F.col("llr_start")
            + (F.col("n_b") - F.col("s_b")) * L0
            <= B_U
        )
    ).select("arm", "bkt", "n_before", "s_before")
    wx = Window.partitionBy("arm", "bkt").orderBy("ts", "event_id")
    exact = (
        trials.join(F.broadcast(cand), ["arm", "bkt"])
        .withColumn("rn", F.row_number().over(wx))
        .withColumn(
            "cs",
            F.sum("s").over(
                wx.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("n", F.col("n_before") + F.col("rn"))
        .withColumn(
            "llr_u",
            (F.col("s_before") + F.col("cs")) * L1
            + (
                F.col("n")
                - F.col("s_before")
                - F.col("cs")
            )
            * L0,
        )
        .filter((F.col("llr_u") >= A_U) | (F.col("llr_u") <= B_U))
    )
    first = exact.groupBy("arm").agg(
        F.min("n").alias("n_at_decision"),
        F.min_by("llr_u", "n").alias("llr_at_decision"),
    )
    tot = trials.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_trials"),
        F.sum("s").cast("long").alias("n_success"),
    )
    return (
        tot.join(first, "arm", "left")
        .select(
            "arm",
            "n_trials",
            "n_success",
            F.col("n_at_decision").cast("long"),
            F.when(F.col("n_at_decision").isNull(), "continue")
            .when(F.col("llr_at_decision") >= A_U, "reject_h0")
            .otherwise("accept_h0")
            .alias("decision"),
            (
                F.col("n_success") * L1
                + (F.col("n_trials") - F.col("n_success")) * L0
            )
            .cast("long")
            .alias("llr_final_u"),
        )
    )


# --------------------------------------------------------------------
# A50 — CUPED variance-reduced experiment readout
# --------------------------------------------------------------------

_A50_ORACLE = """
WITH eu AS (
  SELECT user_id, ts, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS vu
  FROM events
),
pu AS (
  SELECT user_id,
         sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN vu ELSE 0 END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN vu ELSE 0 END) AS y,
         user_id % 2 AS arm
  FROM eu GROUP BY user_id
),
mom AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM pu
),
arm_ AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS HUGEINT) AS sxa,
         CAST(sum(y) AS HUGEINT) AS sya
  FROM pu GROUP BY arm
)
SELECT arm, n_users,
       floor((CAST(sya AS DOUBLE) / n_users / 10000.0) * 10000 + 0.5)
         / 10000 AS mean_raw,
       floor(((CAST(sya AS DOUBLE)
               - (CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 * (CAST(sxa AS DOUBLE)
                    - n_users * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
              / n_users / 10000.0) * 10000 + 0.5) / 10000 AS mean_adj,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE)) * 10000 + 0.5)
         / 10000 AS theta,
       floor((CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE)
              / (CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE))) * 10000 + 0.5)
         / 10000 AS var_reduction
FROM arm_ CROSS JOIN mom
"""


@query(
    "a50_cuped_adjustment",
    eager=EAGER_CHECKPOINT,
    oracle=_A50_ORACLE,
    note="the hashed result is the full CUPED readout — per-arm raw "
    "and covariate-adjusted means, the pooled theta, and the "
    "variance-reduction fraction — all derived from EXACT integer "
    "moment sums (decimal(38,0)/HUGEINT), so the float arithmetic is "
    "a fixed composition of exact scalars on both engines, never an "
    "order-dependent per-row accumulation",
)
def a50_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A50: CUPED (Controlled-experiment Using Pre-Existing Data) —
    the variance-reduction verb every experimentation platform runs
    between the assignment (A35's z-test) and the decision (A49's
    SPRT): each user's PRE-period metric x (value sum before the
    split instant) predicts their post-period metric y, and
    y_adj = y − θ·(x − mean(x)) with θ = cov(x,y)/var(x) removes the
    predictable component — the arm comparison then runs on means
    whose variance shrinks by exactly ρ²(x,y) (reported as
    `var_reduction`), typically turning weeks of experiment runtime
    into days (Deng et al., WSDM 2013).

    Numeric discipline (the ML9/A38 rule): per-user metrics quantize
    to 1e-4 BIGINT units; ALL moment sums (Σx, Σy, Σx², Σxy, Σy²,
    per-arm Σx, Σy) accumulate exactly in decimal(38,0) — θ and the
    adjusted means are then fixed compositions of exact scalars, so
    no per-row float accumulation (order-dependent, engine-divergent)
    ever happens. The per-arm adjusted mean uses the algebraic
    identity Σ y_adj = Σy_a − θ·(Σx_a − n_a·mean_x).

    Scale: one corpus scan → per-user conditional sums (map-side
    combinable), one 1-row pooled-moment leg broadcast onto the
    |arms|-row table. The corpus never shuffles twice.
    """
    split = "2024-01-16"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("vu"),
    )
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < F.lit(split).cast("timestamp"),
                       F.col("vu")).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(F.col("ts") >= F.lit(split).cast("timestamp"),
                       F.col("vu")).otherwise(F.lit(0))
            ).alias("y"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("long"))
        .localCheckpoint(eager=False)  # feeds moments AND the arm agg
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = pu.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * d("x")).alias("sxx"),
        F.sum(d("x") * d("y")).alias("sxy"),
        F.sum(d("y") * d("y")).alias("syy"),
    )
    arm = pu.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(d("x")).alias("sxa"),
        F.sum(d("y")).alias("sya"),
    )
    j = arm.crossJoin(F.broadcast(mom))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    theta = num / den
    mean_x = F.col("sx").cast("double") / F.col("n").cast("double")
    mean_raw = (
        F.col("sya").cast("double") / F.col("n_users") / F.lit(10000.0)
    )
    mean_adj = (
        (
            F.col("sya").cast("double")
            - theta
            * (
                F.col("sxa").cast("double")
                - F.col("n_users") * mean_x
            )
        )
        / F.col("n_users")
        / F.lit(10000.0)
    )
    return j.select(
        "arm",
        "n_users",
        R4(mean_raw).alias("mean_raw"),
        R4(mean_adj).alias("mean_adj"),
        R4(theta).alias("theta"),
        R4(num * num / (den * deny)).alias("var_reduction"),
    )

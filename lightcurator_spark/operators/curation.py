"""Domain curation operators — SURVEY §2.11 D2–D5 + A9, wave W3.

The reference pipeline's stages (reconstruction-tagged, SURVEY §3.1)
distilled to relational programs over the generic corpus, using the
documented domain mapping (FIXTURES.md): ``user_id`` ≈ object_id,
``ts`` ≈ epoch, ``value`` ≈ magnitude, ``event_type`` ≈ band, and
``date(ts)`` ≈ frame/night.

- A9 sigma-clip: the SQL-expressible core of the reference's
  sigma-clipped background statistics (source-extraction stage).
- D2 epoch alignment: the relational meaning of "align frames to a
  reference image" — remove each frame's zero-point offset.
- D3 cross-match: J8's nearest-match with the domain ε.
- D4 light-curve assembly: per-object ordered series + summary.
- D5 curation report: multi-granularity rollups via GROUPING SETS.

Scale notes: group stats are computed once and broadcast back
(two-pass, no window-over-everything); the global mean is a 1-row
broadcast, never a single-partition window. GROUPING SETS is one
shuffle with Catalyst's Expand, not N passes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark.plans.registry import EAGER_CHECKPOINT, EAGER_ITERATES, query
from lightcurator_spark.operators.theta_joins import banded_theta_join
from lightcurator_spark.registry import load_table


def R4(c):
    """Bit-stable 4-dp rounding; see relational.R4."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


_A9_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n_kept,
       floor((avg(e.value)) * 10000 + 0.5) / 10000 AS clipped_mean
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE e.value >= s.mu - 3 * s.sd AND e.value <= s.mu + 3 * s.sd
GROUP BY e.event_type
"""


@query("a9_sigma_clip", oracle=_A9_ORACLE)
def a9_sigma_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: one-pass sigma-clipped mean — keep values within μ±3σ of
    their group, re-aggregate. Two aggregations + a broadcast join of
    the tiny stats table; the big table is scanned twice but never
    shuffled on a new key."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(
            (F.col("value") >= F.col("mu") - 3 * F.col("sd"))
            & (F.col("value") <= F.col("mu") + 3 * F.col("sd"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            R4(F.avg("value")).alias("clipped_mean"),
        )
    )


_D2_ORACLE = """
WITH night_stats AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS night, avg(value) AS night_mean
  FROM events GROUP BY 1
),
global_stats AS (SELECT avg(value) AS global_mean FROM events)
SELECT e.event_id, e.user_id,
       CAST(date_trunc('day', e.ts) AS DATE) AS night,
       floor((e.value - (n.night_mean - g.global_mean)) * 10000 + 0.5) / 10000
           AS value_aligned
FROM events e
JOIN night_stats n ON CAST(date_trunc('day', e.ts) AS DATE) = n.night
CROSS JOIN global_stats g
"""


@query("d2_epoch_alignment", oracle=_D2_ORACLE)
def d2_epoch_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: epoch alignment — subtract each frame's (night's) zero-point
    offset relative to the global reference level, the relational
    re-expression of the reference's frame-alignment stage. Per-frame
    means are a tiny broadcast; the global mean is a 1-row broadcast
    cross join (never a window over a single partition)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "night", F.col("ts").cast("date")
    )
    night_stats = ev.groupBy("night").agg(F.avg("value").alias("night_mean"))
    global_stats = ev.agg(F.avg("value").alias("global_mean"))
    return (
        ev.join(F.broadcast(night_stats), "night")
        .crossJoin(F.broadcast(global_stats))
        .select(
            "event_id",
            "user_id",
            "night",
            R4(
                F.col("value") - (F.col("night_mean") - F.col("global_mean"))
            ).alias("value_aligned"),
        )
    )


_D3_ORACLE = """
WITH means AS (
  SELECT user_id, event_type, avg(value) AS mv
  FROM events GROUP BY user_id, event_type
),
pairs AS (
  SELECT a.user_id AS object_id, b.user_id AS match_id,
         a.event_type AS band, abs(a.mv - b.mv) AS dist
  FROM means a JOIN means b
    ON a.event_type = b.event_type
   AND b.mv BETWEEN a.mv - 5.0 AND a.mv + 5.0
   AND a.user_id <> b.user_id
)
SELECT object_id, band, match_id,
       floor((dist) * 10000 + 0.5) / 10000 AS dist
FROM (
  SELECT object_id, band, match_id, dist,
         row_number() OVER (PARTITION BY object_id, band
                            ORDER BY dist, match_id) AS rn
  FROM pairs) WHERE rn = 1
"""


@query("d3_cross_match", oracle=_D3_ORACLE)
def d3_cross_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: cross-match — nearest neighbor within ε per (object, band),
    the reference's detection-to-object id assignment. Same bucketed
    band-join rewrite as J8 (SURVEY §4.3), with the band as an extra
    equi-key so matching never crosses bands."""
    ev = load_table(spark, sf_dir, "events")
    means = ev.groupBy("user_id", "event_type").agg(F.avg("value").alias("mv"))
    a = means.select(
        F.col("user_id").alias("object_id"),
        F.col("event_type").alias("band"),
        F.col("mv").alias("av"),
    )
    b = means.select(
        F.col("user_id").alias("match_id"),
        F.col("event_type").alias("band"),
        F.col("mv").alias("bv"),
    )
    eps = 5.0
    lb = a.withColumn("__bucket", F.floor(F.col("av") / eps).cast("long"))
    rb = b.withColumn("__rb", F.floor(F.col("bv") / eps).cast("long")).withColumn(
        "__bucket",
        F.explode(F.array(F.col("__rb") - 1, F.col("__rb"), F.col("__rb") + 1)),
    ).drop("__rb")
    pairs = (
        lb.join(rb, ["band", "__bucket"])
        .filter(
            (F.abs(F.col("av") - F.col("bv")) <= eps)
            & (F.col("object_id") != F.col("match_id"))
        )
        .drop("__bucket")
    )
    dist = F.abs(F.col("av") - F.col("bv"))
    w = Window.partitionBy("object_id", "band").orderBy(dist.asc(), F.col("match_id"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("object_id", "band", "match_id", R4(dist).alias("dist"))
    )


_D4_ORACLE = """
SELECT user_id,
       count(*) AS n_epochs,
       epoch_us(min(ts)) AS first_ts_us,
       epoch_us(max(ts)) AS last_ts_us,
       floor((min(value)) * 10000 + 0.5) / 10000 AS min_mag,
       floor((max(value)) * 10000 + 0.5) / 10000 AS max_mag,
       floor((max(value) - min(value)) * 10000 + 0.5) / 10000 AS amplitude,
       list(floor((value) * 10000 + 0.5) / 10000 ORDER BY ts, event_id) AS curve
FROM events
GROUP BY user_id
"""


@query("d4_lightcurve_assembly", oracle=_D4_ORACLE)
def d4_lightcurve_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: light-curve assembly — per object, the time-ordered magnitude
    series as an array value plus summary stats (epoch count, span,
    amplitude). The series is collected as (ts, event_id, value) structs,
    array_sort'ed (deterministic: ts+event_id is a unique prefix), then
    projected to values — reproducible under any task scheduling."""
    ev = load_table(spark, sf_dir, "events")
    curve_structs = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), R4(F.col("value")).alias("v")))
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_epochs"),
        F.unix_micros(F.min("ts")).alias("first_ts_us"),
        F.unix_micros(F.max("ts")).alias("last_ts_us"),
        R4(F.min("value")).alias("min_mag"),
        R4(F.max("value")).alias("max_mag"),
        R4(F.max("value") - F.min("value")).alias("amplitude"),
        F.transform(curve_structs, lambda x: x.v).alias("curve"),
    )


_D5_ORACLE = """
SELECT event_type AS band,
       CAST(date_trunc('day', ts) AS DATE) AS night,
       count(*) AS n,
       floor((avg(value)) * 10000 + 0.5) / 10000 AS mean_mag
FROM events
GROUP BY GROUPING SETS ((event_type, CAST(date_trunc('day', ts) AS DATE)),
                        (event_type), (CAST(date_trunc('day', ts) AS DATE)), ())
"""


@query("d5_curation_report", oracle=_D5_ORACLE)
def d5_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: curation report — per-(band × night), per-band, per-night and
    grand-total rollups in ONE pass (Catalyst Expand, single shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("night", F.col("ts").cast("date")).createOrReplaceTempView(
        "__d5_events"
    )
    return spark.sql(
        """
        SELECT event_type AS band, night, count(*) AS n,
               floor(avg(value) * 10000 + 0.5) / 10000 AS mean_mag
        FROM __d5_events
        GROUP BY GROUPING SETS ((event_type, night), (event_type), (night), ())
        """
    )


def _lomb_scargle(t, y, freqs):
    """Classic Lomb–Scargle normalized periodogram, pure NumPy,
    vectorized over the frequency grid (freqs × epochs broadcast).

    P(ω) = ½σ⁻²·[ (Σŷcosω(t−τ))²/Σcos²ω(t−τ) + (Σŷsinω(t−τ))²/Σsin²ω(t−τ) ]
    with tan(2ωτ) = Σsin2ωt / Σcos2ωt — the phase shift that makes the
    two terms independent (Scargle 1982, public formula).
    """
    import numpy as np

    y = y - y.mean()
    var = y.var()
    if var == 0 or len(t) < 3:
        return np.zeros_like(freqs)
    omega = 2.0 * np.pi * freqs[:, None]  # (F, 1)
    wt = omega * t[None, :]  # (F, N)
    tau = np.arctan2(np.sin(2 * wt).sum(axis=1), np.cos(2 * wt).sum(axis=1)) / (
        2.0 * omega[:, 0]
    )
    arg = omega * (t[None, :] - tau[:, None])
    c, s = np.cos(arg), np.sin(arg)
    yc = (y[None, :] * c).sum(axis=1)
    ys = (y[None, :] * s).sum(axis=1)
    cc = (c * c).sum(axis=1)
    ss = (s * s).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        p = 0.5 * (yc * yc / cc + ys * ys / ss) / (var * len(t))
    return np.nan_to_num(p)


@query(
    "d6_period_finding",
    oracle=None,
    note="rows-only: iterative spectral algorithm, not SQL-expressible; "
    "property test recovers a planted period from a synthetic sinusoid",
)
def d6_period_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: per-object period search — the reference's light-curve
    science payoff (variable-star periods), the op SURVEY §2.9 X2
    reserves the slot for. Per ``user_id``: Lomb–Scargle periodogram
    over a fixed deterministic log-spaced period grid (2 h – 10 d,
    256 steps), returning the best period, its normalized power, and a
    simple FAP-style significance proxy.

    Spark shape: ``groupBy(user_id).applyInPandas`` — one Arrow batch
    per object, NumPy kernel vectorized over (grid × epochs). Scale:
    objects partition horizontally; each group is one object's curve
    (thousands of epochs max), so worker memory is bounded and the
    stage is embarrassingly parallel — exactly the reference's
    ``multiprocessing.Pool`` fan-out, minus the single-machine cap.
    """
    import numpy as np
    import pandas as pd

    n_grid = 256
    periods_s = np.logspace(np.log10(2 * 3600.0), np.log10(10 * 86400.0), n_grid)
    freqs = 1.0 / periods_s

    def find_period(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf["t_s"].to_numpy(dtype="float64")
        y = pdf["value"].to_numpy(dtype="float64")
        order = np.argsort(t)
        t, y = t[order], y[order]
        power = _lomb_scargle(t - t[0], y, freqs)
        best = int(np.argmax(power))
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_epochs": [len(t)],
                "best_period_s": [float(periods_s[best])],
                "best_power": [float(power[best])],
                "mean_power": [float(power.mean())],
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").cast("double").alias("t_s"), "value"
    ).withColumn("t_s", F.col("t_s") / 1e6)
    return ev.groupBy("user_id").applyInPandas(
        find_period,
        "user_id long, n_epochs long, best_period_s double, "
        "best_power double, mean_power double",
    )


@query(
    "d6b_period_bootstrap_fap",
    oracle=None,
    note="rows-only: bootstrap significance of an iterative spectral "
    "algorithm, not SQL-expressible; property test plants a strong "
    "period (FAP -> 0) next to pure noise (FAP large), deterministic "
    "via per-object seeded permutations",
)
def d6b_period_bootstrap_fap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6b: bootstrap false-alarm probability for the D6 period search —
    the missing significance half of a real periodogram pipeline: a
    peak is only a detection if shuffled (period-destroyed) versions of
    the same curve rarely reach its power. Per object: B=64
    magnitude permutations (epochs fixed, values shuffled with a
    ``default_rng(user_id)`` seed — fully deterministic), max
    periodogram power of each, FAP = fraction of permuted maxima ≥
    the observed maximum.

    Spark shape: same ``groupBy(user_id).applyInPandas`` partition-per
    -object fan-out as D6; the kernel is one NumPy einsum over
    (B × grid × epochs) so Python cost stays per-object, not per-row.
    Scale: identical to D6 — horizontal in objects, bounded per-group
    memory (B·n_grid doubles), zero extra shuffles.
    """
    import numpy as np
    import pandas as pd

    n_grid = 128
    B = 64
    periods_s = np.logspace(np.log10(2 * 3600.0), np.log10(10 * 86400.0), n_grid)
    freqs = 1.0 / periods_s

    def boot_fap(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf["user_id"].iloc[0])
        t = pdf["t_s"].to_numpy(dtype="float64")
        y = pdf["value"].to_numpy(dtype="float64")
        order = np.argsort(t)
        t, y = t[order] - t.min(), y[order]
        obs = _lomb_scargle(t, y, freqs)
        best = int(np.argmax(obs))
        rng = np.random.default_rng(uid)
        hits = 0
        for _ in range(B):
            perm_max = _lomb_scargle(t, rng.permutation(y), freqs).max()
            if perm_max >= obs[best]:
                hits += 1
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_epochs": [len(t)],
                "best_period_s": [float(periods_s[best])],
                "best_power": [float(obs[best])],
                "fap": [hits / B],
            }
        )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            (F.unix_micros("ts").cast("double") / 1e6).alias("t_s"),
            "value",
        )
    )
    return ev.groupBy("user_id").applyInPandas(
        boot_fap,
        "user_id long, n_epochs long, best_period_s double, "
        "best_power double, fap double",
    )


_D15_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) / 1000000.0 AS t_s, value
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT user_id, avg(value) AS ybar, min(t_s) AS t0,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY user_id HAVING count(*) >= 8
),
proj AS (
  SELECT e.user_id, max(m.n) AS n_epochs,
         (2.0 / max(m.n)) * sum((e.value - m.ybar)
            * sin(2 * pi() * (e.t_s - m.t0) / 86400.0)) AS a,
         (2.0 / max(m.n)) * sum((e.value - m.ybar)
            * cos(2 * pi() * (e.t_s - m.t0) / 86400.0)) AS b
  FROM e JOIN m USING (user_id) GROUP BY e.user_id
)
SELECT user_id, n_epochs,
       floor(sqrt(a * a + b * b) * 10000 + 0.5) / 10000 AS amp_1d,
       floor(atan2(a, b) * 10000 + 0.5) / 10000 AS phase_1d
FROM proj
"""


@query("d15_harmonic_amplitude", oracle=_D15_ORACLE)
def d15_harmonic_amplitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15: single-harmonic amplitude/phase at a fixed trial period
    (24 h) — the classic DFT single-bin estimate: project the
    mean-subtracted magnitude series onto sin/cos at ω = 2π/86400 s
    (times taken relative to each object's first epoch so trig
    arguments stay small and reproducible across engines), amplitude =
    √(a²+b²), phase = atan2(a, b). This is the closed-form,
    fully-SQL-expressible companion to D6's grid search: where D6 finds
    WHICH period, D15 measures HOW STRONGLY a known candidate period
    modulates each curve — fully DuckDB-oracled, unlike the iterative
    periodogram.

    Scale: per-object means broadcast back onto the fact table (tiny
    build side), then one partial/final agg on user_id — the fact rows
    shuffle once; everything else is codegen'd JVM trig.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            (F.unix_micros("ts").cast("double") / 1e6).alias("t_s"),
            "value",
        )
    )
    m = (
        ev.groupBy("user_id")
        .agg(
            F.avg("value").alias("ybar"),
            F.min("t_s").alias("t0"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= 8)
    )
    theta = F.lit(2 * math.pi) * (F.col("t_s") - F.col("t0")) / F.lit(86400.0)
    dy = F.col("value") - F.col("ybar")
    proj = (
        ev.join(F.broadcast(m), "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_epochs"),
            ((F.lit(2.0) / F.max("n")) * F.sum(dy * F.sin(theta))).alias("a"),
            ((F.lit(2.0) / F.max("n")) * F.sum(dy * F.cos(theta))).alias("b"),
        )
    )
    amp = F.sqrt(F.col("a") * F.col("a") + F.col("b") * F.col("b"))
    return proj.select(
        "user_id",
        "n_epochs",
        R4(amp).alias("amp_1d"),
        R4(F.atan2(F.col("a"), F.col("b"))).alias("phase_1d"),
    )


_D7_ORACLE = """
WITH ev AS (SELECT *, CAST(ts AS DATE) AS night FROM events),
nstats AS (SELECT night, avg(value) AS night_mean FROM ev GROUP BY night),
gstats AS (SELECT avg(value) AS global_mean FROM ev),
calib AS (
  SELECT ev.user_id, ev.event_type, ev.ts,
         ev.value - (n.night_mean - g.global_mean) AS v
  FROM ev JOIN nstats n USING (night) CROSS JOIN gstats g
)
SELECT user_id, event_type,
       count(*) AS n_epochs,
       floor((avg(v)) * 10000 + 0.5) / 10000 AS mean_mag,
       floor((stddev_samp(v)) * 10000 + 0.5) / 10000 AS sd_mag,
       floor((max(v) - min(v)) * 10000 + 0.5) / 10000 AS amplitude,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_s
FROM calib
GROUP BY user_id, event_type
HAVING count(*) >= 5
"""


@query("d7_full_curation_pipeline", oracle=_D7_ORACLE)
def d7_full_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: the reference's batch chain as ONE declarative program —
    per-night zero-point alignment (D2) feeding per-object light-curve
    statistics (D4) with a quality cut, in a single Catalyst plan.
    What the reference runs as eager stages with materialized
    intermediates (align → photometry → curve stats) becomes one DAG:
    two tiny broadcast aggregates calibrate every epoch map-side, the
    per-object agg is partial/final, and nothing is materialized
    between 'stages'. This is the query a reference user runs nightly."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "night", F.col("ts").cast("date")
    )
    night_stats = ev.groupBy("night").agg(F.avg("value").alias("night_mean"))
    global_stats = ev.agg(F.avg("value").alias("global_mean"))
    calib = (
        ev.join(F.broadcast(night_stats), "night")
        .crossJoin(F.broadcast(global_stats))
        .withColumn("v", F.col("value") - (F.col("night_mean") - F.col("global_mean")))
    )
    return (
        calib.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_epochs"),
            R4(F.avg("v")).alias("mean_mag"),
            R4(F.stddev_samp("v")).alias("sd_mag"),
            R4(F.max("v") - F.min("v")).alias("amplitude"),
            (F.unix_seconds(F.max("ts")) - F.unix_seconds(F.min("ts")))
            .cast("long")
            .alias("span_s"),
        )
        .filter(F.col("n_epochs") >= 5)
    )


_D8_ORACLE = """
WITH span AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
  FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL '1 day')) AS DATE)
             AS night
  FROM span
),
nightly AS (
  SELECT user_id, CAST(ts AS DATE) AS night,
         count(*) AS n, avg(value) AS mean_v
  FROM events GROUP BY 1, 2
)
SELECT s.user_id, s.night,
       coalesce(n.n, 0) AS n_epochs,
       floor((coalesce(n.mean_v, 0.0)) * 10000 + 0.5) / 10000 AS mean_value,
       (n.user_id IS NULL) AS is_gap
FROM spine s LEFT JOIN nightly n
  ON s.user_id = n.user_id AND s.night = n.night
"""


@query("d8_gap_fill", oracle=_D8_ORACLE)
def d8_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: calendar gap-fill — the 'epochs with no detection → null
    magnitude' semantics (J3's provenance) as a first-class op: build
    each object's nightly date spine with ``sequence()`` (map-side
    generate, no shuffle), left-join the observed nightly stats, and
    flag the gaps. At scale the spine explode is O(span-days) per
    object — rows are generated next to their object's partition, not
    broadcast from a global calendar."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("night"),
    )
    nightly = (
        ev.withColumn("night", F.col("ts").cast("date"))
        .groupBy("user_id", "night")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_v"))
    )
    n = nightly.withColumnRenamed("user_id", "n_user")
    return (
        spine.join(
            n,
            (spine.user_id == n.n_user) & (spine.night == n.night),
            "left",
        )
        .select(
            spine.user_id,
            spine.night,
            F.coalesce(F.col("n"), F.lit(0)).alias("n_epochs"),
            (
                F.floor(F.coalesce(F.col("mean_v"), F.lit(0.0)) * 10000 + F.lit(0.5))
                / 10000
            ).alias("mean_value"),
            F.col("n_user").isNull().alias("is_gap"),
        )
    )


@query(
    "a9b_sigma_clip_converged",
    eager=EAGER_ITERATES,
    oracle=None,
    note="rows-only: iterative fixpoint (driver-side loop), the class of "
    "algorithm SURVEY's oracle contract exempts; property test checks "
    "against a NumPy fixpoint reference",
)
def a9b_sigma_clip_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9b: sigma-clipping iterated to CONVERGENCE — the reference's
    ``sigma_clipped_stats`` loops until no sample moves; A9 is the
    single-iteration SQL-expressible core, this is the full fixpoint.

    Iterative-algorithm pattern on Spark: a driver-side loop over a
    declarative body (group stats → broadcast back → refilter), with
    ``localCheckpoint`` truncating the growing lineage each round so
    plan size stays O(1) in iterations, and a count() action as the
    convergence test.

    Round bound: convergence depth grows with SAMPLE SIZE, not just
    distribution shape — each round clips the current extremes, and
    the expected maximum of N samples grows with N, so bigger corpora
    legitimately need more rounds (measured: 10 rounds at 10 k events,
    13 at 100 k — ≈3 rounds per decade; the r5 cap of 10 was exactly
    the sf0.01 requirement and CRASHED the sf0.1 sweep, TRAPS #18's
    scale-dependence lesson applied to iteration counts). The cap of
    40 covers ~10¹² rows with margin; exhausting it still raises
    rather than reporting unconverged stats as converged.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    kept = ev
    prev = kept.count()
    for _ in range(40):
        stats = kept.groupBy("event_type").agg(
            F.avg("value").alias("__mu"), F.stddev_samp("value").alias("__sd")
        )
        kept = (
            kept.join(F.broadcast(stats), "event_type")
            .filter(
                (F.col("value") >= F.col("__mu") - 3 * F.col("__sd"))
                & (F.col("value") <= F.col("__mu") + 3 * F.col("__sd"))
            )
            .drop("__mu", "__sd")
            .localCheckpoint()
        )
        n = kept.count()
        if n == prev:
            break
        prev = n
    else:
        # The query's name promises CONVERGED stats; if 10 rounds still
        # shed rows, reporting round-10 numbers as converged would be a
        # silent lie (the l28 ADVICE pattern, applied here in r5).
        raise RuntimeError(
            "a9b_sigma_clip_converged: sigma clipping still removing "
            "rows after 40 rounds — raise the cap or use the fixed-"
            "round a9_sigma_clip for pathological distributions"
        )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        (F.floor(F.avg("value") * 10000 + F.lit(0.5)) / 10000).alias("clipped_mean"),
    )


_D9_ORACLE = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS night, value FROM events
            WHERE user_id < 30),
nightly AS (
  SELECT user_id, night, avg(value) AS v FROM ev GROUP BY 1, 2
),
span AS (
  SELECT user_id, min(night) AS d0, max(night) AS d1 FROM nightly GROUP BY 1
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL '1 day')) AS DATE) AS night
  FROM span
),
joined AS (
  SELECT s.user_id, s.night, n.v FROM spine s
  LEFT JOIN nightly n ON s.user_id = n.user_id AND s.night = n.night
),
ctx AS (
  SELECT user_id, night, v,
         last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY night
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY night
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         max(CASE WHEN v IS NOT NULL THEN night END) OVER (
            PARTITION BY user_id ORDER BY night
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
         min(CASE WHEN v IS NOT NULL THEN night END) OVER (
            PARTITION BY user_id ORDER BY night
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM joined
)
SELECT user_id, night,
       floor((CASE
         WHEN v IS NOT NULL THEN v
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v)
              * date_diff('day', prev_d, night)
              / nullif(date_diff('day', prev_d, next_d), 0)
       END) * 10000 + 0.5) / 10000 AS v_interp,
       (v IS NULL) AS was_interpolated
FROM ctx
"""


@query("d9_interpolate", oracle=_D9_ORACLE)
def d9_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: resample to a uniform nightly grid with LINEAR interpolation
    — D8's spine plus value reconstruction: each gap night takes
    prev + (next − prev) · Δdays/span between its bracketing observed
    nights (edges clamp to the nearest observed value). Pure window
    composition — last/first IGNORE NULLS for the bracketing values,
    conditional running max/min for their dates — one partition
    exchange, no self-join, no UDF."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", F.col("ts").cast("date").alias("night"), "value")
    )
    nightly = ev.groupBy("user_id", "night").agg(F.avg("value").alias("v"))
    span = nightly.groupBy("user_id").agg(
        F.min("night").alias("d0"), F.max("night").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("night"),
    )
    n = nightly.withColumnRenamed("user_id", "nu").withColumnRenamed("night", "nn")
    joined = spine.join(
        n, (spine.user_id == n.nu) & (spine.night == n.nn), "left"
    ).select("user_id", "night", "v")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("night")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("night")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_night = F.when(F.col("v").isNotNull(), F.col("night"))
    ctx = joined.select(
        "user_id",
        "night",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("prev_v"),
        F.first("v", ignorenulls=True).over(wf).alias("next_v"),
        F.max(obs_night).over(wb).alias("prev_d"),
        F.min(obs_night).over(wf).alias("next_d"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * F.datediff("night", "prev_d")
            / F.nullif(F.datediff("next_d", "prev_d"), F.lit(0))
        )
    )
    return ctx.select(
        "user_id",
        "night",
        (F.floor(interp * 10000 + F.lit(0.5)) / 10000).alias("v_interp"),
        F.col("v").isNull().alias("was_interpolated"),
    )


_D10_ORACLE = """
WITH ev AS (
  SELECT user_id,
         (epoch_us(ts) % 86400000000) / 86400000000.0 AS phase,
         value
  FROM events WHERE user_id < 50
)
SELECT user_id,
       CAST(floor(phase * 10) AS INT) AS phase_bin,
       count(*) AS n,
       floor((avg(value)) * 10000 + 0.5) / 10000 AS mean_value,
       floor((stddev_samp(value)) * 10000 + 0.5) / 10000 AS sd_value
FROM ev
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@query("d10_phase_fold", oracle=_D10_ORACLE)
def d10_phase_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: phase folding — fold each light curve by a trial period
    (24 h here; in production the per-object best period from D6) and
    bin by phase: phase = (t mod P)/P, 10 bins, per-bin mean/σ. A
    sharp folded profile (low per-bin σ) confirms a D6 period — the
    classic variable-star verification. Map-side phase arithmetic on
    epoch-µs integers + one partial/final agg; the D6→D10 composition
    is a broadcast join of per-object periods in place of the literal."""
    period_us = 86_400_000_000  # 24 h trial period
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    phase = (F.unix_micros("ts") % period_us) / float(period_us)
    return (
        ev.select("user_id", phase.alias("phase"), "value")
        .groupBy("user_id", F.floor(F.col("phase") * 10).cast("int").alias("phase_bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.avg("value") * 10000 + F.lit(0.5)) / 10000).alias("mean_value"),
            (F.floor(F.stddev_samp("value") * 10000 + F.lit(0.5)) / 10000).alias(
                "sd_value"
            ),
        )
        .filter(F.col("n") >= 2)
    )


_M1_ORACLE = """
WITH tgt AS (
  SELECT user_id, count(*) AS n_epochs,
         max_by(value, event_id) AS last_value
  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id
),
src AS (
  SELECT user_id, count(*) AS n_epochs,
         max_by(value, event_id) AS last_value
  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY user_id
)
SELECT COALESCE(t.user_id, s.user_id) AS user_id,
       COALESCE(t.n_epochs, 0) + COALESCE(s.n_epochs, 0) AS n_epochs,
       floor((COALESCE(s.last_value, t.last_value)) * 10000 + 0.5) / 10000
         AS last_value,
       CASE WHEN t.user_id IS NULL THEN 'insert'
            WHEN s.user_id IS NULL THEN 'keep'
            ELSE 'update' END AS merge_action
FROM tgt t FULL JOIN src s ON t.user_id = s.user_id
"""


@query("m1_merge_upsert", oracle=_M1_ORACLE)
def m1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: MERGE INTO semantics (SCD-1 upsert) without a table format —
    the reference's nightly incremental flow (§3.1 path 2: extract one
    new frame, fold its detections into the existing light-curve DB)
    as a relational operator. Target = per-object state from epochs
    before the split; source = the new batch after it. Matched keys
    update (counts accumulate, last_value replaced), unmatched-source
    keys insert, unmatched-target keys survive — each row labeled with
    its merge action.

    Scale design: a single full-outer sort-merge join on the merge key;
    both sides are pre-aggregated partial/final, so the shuffle carries
    one row per object, not per epoch. With the target stored bucketed
    by the merge key (S7 layout), the target side needs no shuffle at
    all — the nightly cost is sized by the delta, the 100 TB property
    that makes incremental curation viable. last_value uses max_by on
    the unique event_id (arrival order), identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")

    def state(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_epochs"),
            F.expr("max_by(value, event_id)").alias("last_value"),
        )

    tgt = state(ev.filter(F.col("ts") < split)).alias("t")
    src = state(ev.filter(F.col("ts") >= split)).alias("s")
    return tgt.join(src, F.col("t.user_id") == F.col("s.user_id"), "full_outer").select(
        F.coalesce(F.col("t.user_id"), F.col("s.user_id")).alias("user_id"),
        (
            F.coalesce(F.col("t.n_epochs"), F.lit(0))
            + F.coalesce(F.col("s.n_epochs"), F.lit(0))
        ).alias("n_epochs"),
        (
            F.floor(
                F.coalesce(F.col("s.last_value"), F.col("t.last_value")) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("last_value"),
        F.when(F.col("t.user_id").isNull(), "insert")
        .when(F.col("s.user_id").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


_D11_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_epochs,
       floor(((max(us) - min(us)) / 1000000.0) * 10000 + 0.5) / 10000 AS span_s,
       floor(median((us - prev_us) / 1000000.0) * 10000 + 0.5) / 10000
         AS median_gap_s,
       floor(max((us - prev_us) / 1000000.0) * 10000 + 0.5) / 10000 AS max_gap_s
FROM e
GROUP BY user_id
"""


@query("d11_cadence_stats", oracle=_D11_ORACLE)
def d11_cadence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11: observing-cadence statistics — per object (user_id): epoch
    count, time span, and the median/max gap between consecutive
    epochs. The cadence profile decides whether gap-fill (D8) /
    resampling (D9) is meaningful for an object and is the standard
    pre-check before period finding (D6): a median gap longer than the
    trial period makes the periodogram aliased.

    Scale: one hash-partition exchange on user_id serves BOTH the lag
    window and the final groupBy (same key ⇒ Catalyst reuses the
    partitioning, no second shuffle); gaps are computed streaming
    within sorted partitions. Epochs exported as µs so Spark-µs vs
    DuckDB-ns precision cannot skew hashes (registry contract).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.select(
        "user_id",
        us.alias("us"),
        ((us - F.lag(us).over(w)) / F.lit(1000000.0)).alias("gap_s"),
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_epochs"),
        R4((F.max("us") - F.min("us")) / F.lit(1000000.0)).alias("span_s"),
        R4(F.median("gap_s")).alias("median_gap_s"),
        R4(F.max("gap_s")).alias("max_gap_s"),
    )


_D12_ORACLE = """
WITH pts AS (
  -- list_extract is 1-based (matching Spark's element_at); the bare
  -- embedding[i] subscript is a dialect trap: 1-based in DuckDB,
  -- 0-based in Spark SQL, so it would run on both surfaces with
  -- silently different semantics.
  SELECT vec_id, CAST(list_extract(embedding, 1) AS DOUBLE) AS x,
         CAST(list_extract(embedding, 2) AS DOUBLE) AS y
  FROM embeddings
),
a AS (SELECT vec_id AS det_id, x, y FROM pts WHERE vec_id % 2 = 0),
b AS (SELECT vec_id AS obj_id, x, y FROM pts WHERE vec_id % 2 = 1),
pairs AS (
  SELECT a.det_id, b.obj_id,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
  FROM a JOIN b
    ON b.x BETWEEN a.x - 0.05 AND a.x + 0.05
   AND b.y BETWEEN a.y - 0.05 AND a.y + 0.05
)
SELECT det_id, obj_id, floor(dist * 10000 + 0.5) / 10000 AS dist
FROM (
  SELECT det_id, obj_id, dist,
         row_number() OVER (PARTITION BY det_id ORDER BY dist, obj_id) AS rn
  FROM pairs
  WHERE dist <= 0.05
) WHERE rn = 1
"""


def zone_cone_crossmatch(a: DataFrame, b: DataFrame, eps: float) -> DataFrame:
    """Zones-algorithm nearest-neighbor cone match.

    ``a`` must carry (det_id, x, y); ``b`` (obj_id, bx, by). Returns
    each det matched to its nearest obj with Euclidean distance ≤ eps,
    ties broken by obj_id; columns (det_id, obj_id, dist), dist exact
    (caller rounds for presentation).

    Semantics gate: the box filter uses the SAME float comparisons as
    the brute-force oracle (``bx BETWEEN x-eps AND x+eps`` etc. then
    ``dist <= eps``), so the zone machinery can only ever change WHICH
    candidate pairs are generated, never which survive. Objects explode
    into **5** adjacent zones (±2, not ±1): exactly like the 1-D banded
    θ-join (theta_joins.banded_theta_join), IEEE rounding at the ε
    boundary can accept a pair (``fl(|y-by|) = eps``) whose exact zone
    ids differ by 2 — the hypothesis property test pins this with
    boundary-exact and denormal coordinates.
    """
    za = a.withColumn("__zone", F.floor(F.col("y") / eps).cast("long"))
    zb = (
        b.withColumn("__z", F.floor(F.col("by") / eps).cast("long"))
        .withColumn(
            "__zone",
            F.explode(
                F.array(
                    F.col("__z") - 2,
                    F.col("__z") - 1,
                    F.col("__z"),
                    F.col("__z") + 1,
                    F.col("__z") + 2,
                )
            ),
        )
        .drop("__z")
    )
    dist = F.sqrt(
        (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
        + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
    )
    pairs = (
        za.join(zb, "__zone")
        .filter(
            F.col("bx").between(F.col("x") - eps, F.col("x") + eps)
            & F.col("by").between(F.col("y") - eps, F.col("y") + eps)
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") <= eps)
    )
    w = Window.partitionBy("det_id").orderBy("dist", "obj_id")
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("det_id", "obj_id", "dist")
    )


@query("d12_cone_crossmatch_2d", oracle=_D12_ORACLE)
def d12_cone_crossmatch_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12: 2-D cone cross-match — the reference's actual ``cross_match``
    geometry (nearest sky neighbor within an angular radius; D3/J8 are
    its 1-D band-join analog). Detections = even vec_ids, objects = odd
    vec_ids, coordinates = first two embedding dims; match each
    detection to its nearest object within ε = 0.05, Euclidean, ties
    broken by obj_id.

    Spark-first scale shape — the **zones algorithm** (the SQL-engine
    replacement for astropy's k-d tree): partition the sky into
    ε-height declination zones, equi-join on zone (objects exploded to
    the ±2 adjacent zones, see ``zone_cone_crossmatch``), box-filter,
    then exact distance + rank-1. The join is a pure equi-join on a
    dense integer key — SMJ/SHJ at any scale, AQE-skew-splittable,
    never a cartesian; cost is O(candidates in adjacent zones), the
    2-D version of SURVEY §4.3's bucketed band join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    eps = 0.05
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    a = pts.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("det_id"), "x", "y"
    )
    b = pts.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("obj_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    matched = zone_cone_crossmatch(a, b, eps)
    return matched.select("det_id", "obj_id", R4(F.col("dist")).alias("dist"))


_D13_ORACLE = """
WITH ordered AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id
                          ORDER BY epoch_us(ts), event_id) AS prev_value
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_epochs,
         var_samp(value) AS variance,
         sum((value - prev_value) * (value - prev_value))
           / (count(*) - 1) AS mean_sq_succ_diff
  FROM ordered
  GROUP BY user_id
  HAVING count(*) >= 8 AND var_samp(value) > 0
)
SELECT user_id, n_epochs,
       floor((variance) * 10000 + 0.5) / 10000 AS variance,
       floor((mean_sq_succ_diff / variance) * 10000 + 0.5) / 10000 AS eta
FROM stats
"""


@query("d13_von_neumann_variability", oracle=_D13_ORACLE)
def d13_von_neumann_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13: von Neumann variability index — per object, the ratio
    η = mean squared successive difference / sample variance of the
    magnitude series (time-ordered). η ≈ 2 for white noise; η ≪ 2
    flags smooth trends/periodicity — the standard cheap variability
    screen run before period finding (D6) in survey pipelines.

    Scale: one hash exchange on user_id feeds the lag window; the
    groupBy on the same key reuses that partitioning (no second
    shuffle). State per object is O(1); null magnitudes are dropped
    before ordering so lag never pairs across a gap marker.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    ordered = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )
    d = F.col("value") - F.col("prev_value")
    stats = (
        ordered.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_epochs"),
            F.var_samp("value").alias("variance"),
            (F.sum(d * d) / (F.count(F.lit(1)) - 1)).alias("mean_sq_succ_diff"),
        )
        .filter((F.col("n_epochs") >= 8) & (F.col("variance") > 0))
    )
    return stats.select(
        "user_id",
        "n_epochs",
        R4(F.col("variance")).alias("variance"),
        R4(F.col("mean_sq_succ_diff") / F.col("variance")).alias("eta"),
    )


_A14_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med_v
  FROM events WHERE value IS NOT NULL GROUP BY event_type
),
mad AS (
  SELECT e.event_type, median(abs(e.value - m.med_v)) AS mad_v
  FROM events e JOIN med m ON e.event_type = m.event_type
  WHERE e.value IS NOT NULL GROUP BY e.event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       floor(m.med_v * 10000 + 0.5) / 10000 AS med_v,
       floor(d.mad_v * 10000 + 0.5) / 10000 AS mad_v,
       CAST(sum(CASE WHEN d.mad_v > 0
                      AND abs(0.6745 * (e.value - m.med_v) / d.mad_v) > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN mad d ON e.event_type = d.event_type
WHERE e.value IS NOT NULL
GROUP BY e.event_type, m.med_v, d.mad_v
"""


@query("a14_mad_outliers", oracle=_A14_ORACLE)
def a14_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: robust outlier census — modified z-score 0.6745·(x−med)/MAD
    per group, flagging |z| > 3.5 (Iglewicz–Hoaglin). The
    mean/σ-free sibling of A9's sigma clip: median and MAD are immune
    to the very outliers being hunted, which is why survey pipelines
    clip on MAD, not σ.

    Scale: two grouped exact medians (each a partial sort per group,
    no global sort) whose tiny per-group results broadcast back; the
    fact table is scanned, never shuffled on a new key. At 100 TB the
    exact medians swap for approx_percentile(0.5) with the same plan
    shape (A4's documented trade).

    MAD = 0 (a group where >50% of values equal the median) is guarded
    identically on both surfaces: such groups report zero outliers.
    Without the guard the engines silently diverge — Spark's non-ANSI
    x/0 yields NULL (non-outlier) while DuckDB's IEEE divide yields
    ±inf (outlier).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(F.median("value").alias("med_v"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med_v"))).alias("mad_v"))
    )
    z = F.abs(
        F.lit(0.6745) * (F.col("value") - F.col("med_v")) / F.col("mad_v")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_v", "mad_v")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when((F.col("mad_v") > 0) & (z > 3.5), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            R4(F.col("med_v")).alias("med_v"),
            R4(F.col("mad_v")).alias("mad_v"),
            "n_outliers",
        )
    )


_D14_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, value
  FROM events WHERE value IS NOT NULL
)
SELECT a.user_id,
       CAST(floor((b.us - a.us) / 3600000000.0) AS BIGINT) AS lag_hours,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(sum(CAST(floor((b.value - a.value) * (b.value - a.value) * 10000 + 0.5)
                      AS BIGINT)) / (count(*) * 10000.0) * 10000 + 0.5) / 10000
         AS sf_value
FROM e a JOIN e b ON a.user_id = b.user_id AND b.us > a.us
GROUP BY 1, 2
"""


@query("d14_structure_function", oracle=_D14_ORACLE)
def d14_structure_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D14: first-order structure function — per object, the mean
    squared magnitude difference of every epoch pair, binned by time
    lag (hour-granularity bins; integer-exact boundaries so floor()
    cannot diverge across engines). SF(τ) rising with τ ⇒ correlated
    variability (AGN/quasar signature); flat ⇒ measurement noise.

    Scale: ONE shuffle — epochs are collected into a per-object array
    (bounded by survey cadence), and all pair generation is map-side
    double posexplode over that array: pairs never cross the network
    (3.3 M pairs from 100 k rows stay inside their executor). Measured
    2.9× faster than the equivalent self-join form at sf0.1 (0.65 s vs
    1.9 s execution) — the self-join shuffles the fact table twice and
    the pair stream once; this shape shuffles epoch rows once, ever.
    For unbounded per-object histories, pre-bucket the collect by
    (user_id, month) to cap the array — same plan shape.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("us"), "value")
    )
    g = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("us", "value")).alias("pts")
    )
    e1 = g.select("user_id", "pts", F.posexplode("pts").alias("i", "p1"))
    e2 = e1.select(
        "user_id", "p1", F.posexplode("pts").alias("j", "p2")
    ).filter(F.col("p2.us") > F.col("p1.us"))
    d = F.col("p2.value") - F.col("p1.value")
    return (
        e2.groupBy(
            "user_id",
            F.floor((F.col("p2.us") - F.col("p1.us")) / F.lit(3600000000.0))
            .cast("long")
            .alias("lag_hours"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # squared diffs are quantized to 1e-4 integer units BEFORE the
            # sum: an exact bigint sum is order-insensitive, so the value
            # cannot flap with task scheduling or engine summation order
            # (89 k groups made last-ulp avg() differences a certainty).
            R4(
                F.sum(F.floor(d * d * 10000 + F.lit(0.5)).cast("long"))
                / (F.count(F.lit(1)) * F.lit(10000.0))
            ).alias("sf_value"),
        )
    )


_M2_ORACLE = """
WITH h AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderpriority) OVER w AS prev_p
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM h WHERE prev_p IS NULL OR prev_p <> o_orderpriority
)
SELECT o_custkey AS custkey,
       o_orderpriority AS priority,
       CAST(row_number() OVER w2 AS BIGINT) AS version,
       epoch_us(o_orderdate) AS valid_from_us,
       lead(epoch_us(o_orderdate)) OVER w2 AS valid_to_us,
       (lead(o_orderkey) OVER w2 IS NULL) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("m2_scd2_intervals", oracle=_M2_ORACLE)
def m2_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: slowly-changing-dimension type-2 history build — compress an
    event-ordered attribute stream (each customer's order priority over
    time) into versioned validity intervals: one row per attribute
    *change*, carrying [valid_from, valid_to) as epoch-us, a version
    number, and an is_current flag on the open interval. The companion
    to M1's SCD-1 upsert: M1 keeps only latest state, M2 keeps the full
    history a training-data snapshot or point-in-time join needs.

    Scale design: both passes are windows over the SAME
    (custkey | orderdate, orderkey) partitioning, so Catalyst plans a
    single sort + exchange reused by lag, row_number, and lead -- one
    shuffle total, no self-join (the naive SCD2 build joins the stream
    to itself on "next change", which at 100 TB is a second full
    shuffle plus skew on hot keys). Change-point filtering runs between
    the two window stages, so the second stage only sorts surviving
    change rows.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    h = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderpriority").over(w).alias("prev_p"),
    )
    changes = h.filter(
        F.col("prev_p").isNull() | (F.col("prev_p") != F.col("o_orderpriority"))
    )
    from_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.row_number().over(w).cast("long").alias("version"),
        from_us.alias("valid_from_us"),
        F.lead(from_us).over(w).alias("valid_to_us"),
        F.lead("o_orderkey").over(w).isNull().alias("is_current"),
    )


_M3_ORACLE = """
WITH h AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         lag(o_orderpriority) OVER w AS prev_p
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM h WHERE prev_p IS NULL OR prev_p <> o_orderpriority
),
iv AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         CAST(row_number() OVER w2 AS BIGINT) AS version,
         epoch_us(o_orderdate) AS valid_from_us,
         lead(epoch_us(o_orderdate)) OVER w2 AS valid_to_us
  FROM changes
  WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT e.event_id, e.user_id AS custkey, d.priority, d.version
FROM events e JOIN iv d
  ON e.user_id = d.custkey
 AND epoch_us(e.ts) >= d.valid_from_us
 AND (d.valid_to_us IS NULL OR epoch_us(e.ts) < d.valid_to_us)
"""


@query("m3_point_in_time_join", oracle=_M3_ORACLE)
def m3_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: point-in-time (as-of) join of a fact stream against the M2
    SCD2 dimension — "which dimension version was valid when this event
    happened", the feature-store primitive that makes training data
    leakage-free (joining current attributes onto historical events IS
    the leakage bug).

    Scale design — there is NO JOIN in the plan (plan-tested): because
    SCD2 intervals tile each key's timeline, the valid version at time
    t is simply the last interval start ≤ t, so the operator unions the
    (tiny) dimension-change stream into the fact stream and runs ONE
    carry-forward window (last_value ignoreNulls) per key, ordered by
    (time, is_dim desc) so a version starting exactly at t applies to
    events at t. One exchange on the key, zero join state, no skew
    amplification — versus the naive interval join, whose band
    predicate re-shuffles the fact AND explodes on hot keys. Events
    before a key's first interval (or with no dimension history) drop,
    matching the oracle's inner join.
    """
    iv = m2_scd2_intervals(spark, sf_dir).select(
        F.col("custkey").alias("k"),
        F.col("valid_from_us").alias("us"),
        F.lit(1).alias("is_dim"),
        "priority",
        "version",
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.unix_micros("ts").alias("us"),
        F.lit(0).alias("is_dim"),
        F.lit(None).cast("string").alias("priority"),
        F.lit(None).cast("long").alias("version"),
        "event_id",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("us", F.col("is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = iv.unionByName(ev).select(
        "k",
        "is_dim",
        "event_id",
        F.last("priority", ignorenulls=True).over(w).alias("cur_priority"),
        F.last("version", ignorenulls=True).over(w).alias("cur_version"),
    )
    return tagged.filter(
        (F.col("is_dim") == 0) & F.col("cur_priority").isNotNull()
    ).select(
        "event_id",
        F.col("k").alias("custkey"),
        F.col("cur_priority").alias("priority"),
        F.col("cur_version").alias("version"),
    )


# --------------------------------------------------------------------
# D20 — autocorrelation function at pinned lags
# --------------------------------------------------------------------

_D20_ORACLE = """
WITH o AS (
  SELECT user_id, value,
         lag(value, 1) OVER w AS l1,
         lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3
  FROM events WHERE value IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
m AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(value) AS sv, sum(value * value) AS sv2,
         sum(value * l1) AS r1,
         sum(CASE WHEN l1 IS NOT NULL THEN value END) AS t1,
         sum(l1) AS u1, CAST(count(l1) AS BIGINT) AS c1,
         sum(value * l2) AS r2,
         sum(CASE WHEN l2 IS NOT NULL THEN value END) AS t2,
         sum(l2) AS u2, CAST(count(l2) AS BIGINT) AS c2,
         sum(value * l3) AS r3,
         sum(CASE WHEN l3 IS NOT NULL THEN value END) AS t3,
         sum(l3) AS u3, CAST(count(l3) AS BIGINT) AS c3
  FROM o GROUP BY 1 HAVING count(*) >= 12
),
s AS (
  SELECT user_id, n,
         sv2 - sv * (sv / n) AS s0,
         r1 - (sv / n) * (t1 + u1) + c1 * (sv / n) * (sv / n) AS s1,
         r2 - (sv / n) * (t2 + u2) + c2 * (sv / n) * (sv / n) AS s2,
         r3 - (sv / n) * (t3 + u3) + c3 * (sv / n) * (sv / n) AS s3
  FROM m
)
SELECT user_id, n AS n_epochs,
       floor((s1 / s0) * 10000 + 0.5) / 10000 AS acf1,
       floor((s2 / s0) * 10000 + 0.5) / 10000 AS acf2,
       floor((s3 / s0) * 10000 + 0.5) / 10000 AS acf3
FROM s WHERE s0 > 1e-6
"""


@query("d20_acf_lags", oracle=_D20_ORACLE)
def d20_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20: sample autocorrelation at lags 1–3 per object — the
    order-domain complement to D13 (whose von Neumann η is a scaled
    1 − ACF(1)) and D14 (time-domain structure function): ACF at small
    integer lags is the standard screen for residual correlation after
    detrending and for rotation/pulsation shortlisting before a full
    D18 periodogram. r_k = Σ(dᵢ·dᵢ₋ₖ) / Σdᵢ², d = value − series mean;
    objects need ≥ 12 epochs and positive variance.

    Scale: the textbook two-pass form (mean first, then centered
    products) joins the stats table back to the rows — Catalyst plans
    that as a SECOND full scan+shuffle of events because the two
    lineages prune differently and never share the exchange. The
    moment decomposition eliminates the second pass: with lₖ = lag(v,k),
    Σ(vᵢ−μ)(vᵢ₋ₖ−μ) = Σv·lₖ − μ·(Σ'v + Σlₖ) + cₖ·μ² (primed sums over
    rows where the lag exists), so ONE lag window and ONE per-object
    moment agg — both clustering on user_id, a single exchange and a
    single sorted pass — produce all three lags. Both engines evaluate
    the identical decomposed expression (association order pinned);
    cancellation costs ~2 of 16 digits on these O(10) values, well
    inside the 4-dp round; the s0 > 1e-6 gate replaces s0 > 0 so a
    near-constant series cannot flip membership on summation-order
    sign jitter (the TRAPS #5 boundary discipline applied to a guard).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = ev.select(
        "user_id", "value", F.unix_micros("ts").alias("us"), "event_id"
    ).select(
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
    )
    v = F.col("value")

    def lag_moments(k: int):
        lk = F.col(f"l{k}")
        return [
            F.sum(v * lk).alias(f"r{k}"),
            F.sum(F.when(lk.isNotNull(), v)).alias(f"t{k}"),
            F.sum(lk).alias(f"u{k}"),
            F.count(lk).alias(f"c{k}"),
        ]

    m = (
        o.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sv"),
            F.sum(v * v).alias("sv2"),
            *lag_moments(1),
            *lag_moments(2),
            *lag_moments(3),
        )
        .filter(F.col("n") >= 12)
    )
    mu = F.col("sv") / F.col("n")

    def sk(k: int):
        return (
            F.col(f"r{k}")
            - mu * (F.col(f"t{k}") + F.col(f"u{k}"))
            + F.col(f"c{k}") * mu * mu
        )

    s = m.select(
        "user_id",
        F.col("n").alias("n_epochs"),
        (F.col("sv2") - F.col("sv") * mu).alias("s0"),
        sk(1).alias("s1"),
        sk(2).alias("s2"),
        sk(3).alias("s3"),
    )
    return s.filter(F.col("s0") > 1e-6).select(
        "user_id",
        "n_epochs",
        R4(F.col("s1") / F.col("s0")).alias("acf1"),
        R4(F.col("s2") / F.col("s0")).alias("acf2"),
        R4(F.col("s3") / F.col("s0")).alias("acf3"),
    )


# D25 — odd/even transit-depth vetting at the pinned 1-day period.
# Integer phase binning (ts_us % P, then *16 DIV P) and integer epoch
# parity — no float fmod anywhere (the D19/D21 discipline).
_D25_ORACLE = """
WITH b AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000) % 2 AS parity,
         ((epoch_us(ts) % 86400000000) * 16) // 86400000000 = 0 AS in_transit,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
per_user AS (
  SELECT event_type, count(*) AS n_all, sum(cents) AS sc_all FROM b GROUP BY 1
),
per_parity AS (
  SELECT event_type, parity, count(*) AS n_in, sum(cents) AS sc_in
  FROM b WHERE in_transit GROUP BY 1, 2
),
wide AS (
  SELECT event_type,
         max(CASE WHEN parity = 0 THEN n_in END) AS n_even,
         max(CASE WHEN parity = 0 THEN sc_in END) AS sc_even,
         max(CASE WHEN parity = 1 THEN n_in END) AS n_odd,
         max(CASE WHEN parity = 1 THEN sc_in END) AS sc_odd
  FROM per_parity GROUP BY 1
)
SELECT w.event_type, n_even, n_odd,
       floor((sc_all / CAST(n_all AS DOUBLE)
              - sc_even / CAST(n_even AS DOUBLE)) / CAST(100 AS DOUBLE)
             * 10000 + 0.5) / 10000 AS depth_even,
       floor((sc_all / CAST(n_all AS DOUBLE)
              - sc_odd / CAST(n_odd AS DOUBLE)) / CAST(100 AS DOUBLE)
             * 10000 + 0.5) / 10000 AS depth_odd
FROM wide w JOIN per_user u ON u.event_type = w.event_type
WHERE n_even >= 3 AND n_odd >= 3
"""


@query(
    "d25_odd_even_depth",
    oracle=_D25_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def d25_odd_even_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D25: odd/even transit-depth vetting — the classic follow-up to
    a BLS detection (D21): fold at the candidate period (the pinned
    1-day grid point), take the box at phase bin 0 of 16, split
    transits by EPOCH PARITY, and compare depths. A true planet dips
    equally on odd and even epochs; an eclipsing binary at twice the
    period shows alternating depths — this two-column answer is the
    discriminator every transit pipeline runs before promoting a
    candidate.

    Engine stability: phase bin and epoch are pure INTEGER arithmetic
    on epoch-µs (`% P`, `* 16 DIV P`, `DIV P % 2` — no float fmod, the
    D19/D21 discipline); per-cell sums are exact BIGINT cents; each
    depth is one float expression over those integers, R4 at export.
    Objects need ≥3 in-transit points per parity (identical gate both
    sides) so a one-point "depth" never ships.

    Series key: the registered query folds per event_type (5 series,
    structurally non-empty at every corpus scale — the u4 rule); the
    generic `api.odd_even_depth` facade keys on any column (per-object
    vetting on a real survey uses the object id).

    Scale: one scan → two partial/final aggs on (key) and (key,
    parity), pivoted by conditional max over ≤2 rows per user, joined
    user-keyed (both sides pre-reduced to per-user rows). Nothing
    corpus-sized past the first combine.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p = F.lit(86400000000)
    t = F.unix_micros("ts")
    b = ev.select(
        "event_type",
        # integer DIV end to end: double division near an epoch
        # boundary could round across it and disagree with the
        # oracle's integer // (the D19 no-float-fmod discipline)
        (F.expr("unix_micros(ts) DIV 86400000000") % 2).alias("parity"),
        (
            F.expr("((unix_micros(ts) % 86400000000) * 16) DIV 86400000000")
            == 0
        ).alias("in_transit"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # both legs derive from ONE (key, parity, in_transit) cell table
    # (lazily checkpointed) so the corpus is scanned once
    cells = b.groupBy("event_type", "parity", "in_transit").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc")
    ).localCheckpoint(eager=False)
    per_user = cells.groupBy("event_type").agg(
        F.sum("n").alias("n_all"), F.sum("sc").alias("sc_all")
    )
    per_parity = (
        cells.filter("in_transit")
        .groupBy("event_type", "parity")
        .agg(F.sum("n").alias("n_in"), F.sum("sc").alias("sc_in"))
    )
    wide = per_parity.groupBy("event_type").agg(
        F.max(F.when(F.col("parity") == 0, F.col("n_in"))).alias("n_even"),
        F.max(F.when(F.col("parity") == 0, F.col("sc_in"))).alias("sc_even"),
        F.max(F.when(F.col("parity") == 1, F.col("n_in"))).alias("n_odd"),
        F.max(F.when(F.col("parity") == 1, F.col("sc_in"))).alias("sc_odd"),
    )
    depth = lambda sc, n: R4(  # noqa: E731
        (
            F.col("sc_all") / F.col("n_all").cast("double")
            - sc / n.cast("double")
        )
        / F.lit(100).cast("double")
    )
    return (
        wide.join(per_user, "event_type")
        .filter((F.col("n_even") >= 3) & (F.col("n_odd") >= 3))
        .select(
            "event_type",
            "n_even",
            "n_odd",
            depth(F.col("sc_even"), F.col("n_even")).alias("depth_even"),
            depth(F.col("sc_odd"), F.col("n_odd")).alias("depth_odd"),
        )
    )


# --------------------------------------------------------------------
# D27 — seasonal-strength decomposition (hour-of-week profile)
# --------------------------------------------------------------------

_D27_ORACLE = """
WITH e AS (
  SELECT event_type,
         CAST(dayofweek(ts) AS BIGINT) * 24 + CAST(hour(ts) AS BIGINT)
           AS how,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
c AS (
  SELECT event_type, how,
         CAST(count(*) AS BIGINT) AS n,
         sum(u) AS s,
         sum(u * u) AS ss
  FROM e GROUP BY 1, 2
),
t AS (
  SELECT event_type,
         CAST(sum(n) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_cells,
         sum(CAST(ss AS DOUBLE)) AS sst_raw,
         sum(CAST(s AS DOUBLE)) AS st,
         sum(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) AS ssw
  FROM c GROUP BY 1
)
SELECT event_type, n, n_cells,
       floor((sst_raw - st * st / n) / 1e8 * 1e4 + 0.5) / 1e4 AS ss_total,
       floor(ssw / 1e8 * 1e4 + 0.5) / 1e4 AS ss_within,
       floor((1 - ssw / (sst_raw - st * st / n)) * 1e4 + 0.5) / 1e4
         AS seasonal_strength
FROM t WHERE sst_raw - st * st / n > 0
"""


@query("d27_seasonal_strength", oracle=_D27_ORACLE)
def d27_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D27: seasonal-strength decomposition — how much of each event
    type's value variance is explained by its hour-of-week profile?
    strength = 1 − SS_within / SS_total over the 168 (dow, hour)
    cells: ~0 says the weekly profile is flat (no seasonality), → 1
    says the calendar cell determines the value. The decomposition
    member of the series family (D16 removes a linear trend, D18/D19
    find periods, D27 quantifies the CALENDAR period everyone's data
    actually has) and the screen that decides whether a forecast
    needs seasonal terms at all.

    Exactness: the variance decomposition runs entirely on exact
    per-cell integer moments (n, Σu, Σu²) — SS_within = Σ_cells
    (ss_c − s_c²/n_c) and SS_total = ss − s²/n need NO per-row
    residual join (the textbook identity), so the whole statistic is
    two nested aggs with single deterministic float expressions over
    exact integers at each step, R4 on export.

    Scale: one scan → (type, hour-of-week) partial/final agg (≤
    5×168 cells) → per-type rollup. Nothing after the first agg
    touches corpus rows; the A5/A41 profile with a calendar key.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        (
            F.dayofweek("ts").cast("long") * 24 + F.hour("ts").cast("long")
        ).alias("how"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    c = ev.groupBy("event_type", "how").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("s"),
        F.sum(F.col("u") * F.col("u")).alias("ss"),
    )
    t = c.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("ss").cast("double")).alias("sst_raw"),
        F.sum(F.col("s").cast("double")).alias("st"),
        F.sum(
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("ssw"),
    )
    sst = F.col("sst_raw") - F.col("st") * F.col("st") / F.col("n")
    return t.filter(sst > 0).select(
        "event_type",
        "n",
        "n_cells",
        R4(sst / 1e8).alias("ss_total"),
        R4(F.col("ssw") / 1e8).alias("ss_within"),
        R4(1 - F.col("ssw") / sst).alias("seasonal_strength"),
    )


# --------------------------------------------------------------------
# D28 — burst census (consecutive above-threshold runs per object)
# --------------------------------------------------------------------

_D28_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS u
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT user_id, event_id, ts_us, u,
         CAST(count(*) OVER p AS BIGINT) AS n,
         sum(u) OVER p AS s,
         sum(u * u) OVER p AS ss
  FROM e WINDOW p AS (PARTITION BY user_id)
),
f AS (
  SELECT user_id, event_id, ts_us,
         (n >= 8
          AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) > 0
          AND u > CAST(s AS DOUBLE) / n
                  + 2 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                             / (n - 1))) AS hi
  FROM m
),
g AS (
  SELECT user_id, event_id, ts_us, hi,
         CASE WHEN lag(hi) OVER w IS DISTINCT FROM hi THEN 1 ELSE 0 END
           AS brk
  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
runs AS (
  SELECT user_id, hi,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM g
),
rl AS (
  SELECT user_id, run_id, CAST(count(*) AS BIGINT) AS len
  FROM runs WHERE hi GROUP BY 1, 2
)
SELECT f.user_id,
       CAST(count(*) FILTER (WHERE f.hi) AS BIGINT) AS n_flagged,
       coalesce(any_value(b.n_bursts), 0) AS n_bursts,
       coalesce(any_value(b.longest_burst), 0) AS longest_burst
FROM f
LEFT JOIN (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_bursts,
         max(len) AS longest_burst
  FROM rl WHERE len >= 2 GROUP BY 1
) b ON b.user_id = f.user_id
GROUP BY 1
"""


@query("d28_burst_census", oracle=_D28_ORACLE)
def d28_burst_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D28: burst census — per object, how many runs of ≥2 CONSECUTIVE
    epochs sit above its own mean + 2σ, and how long was the longest?
    The flare/outburst screen of the variability tier (D13 asks "is it
    variable", D22 "did the level shift once", D28 "does it SPIKE in
    sustained bursts") — and operationally, the error-storm detector
    (isolated blips are noise; consecutive flagged epochs are an
    incident). The ≥2-consecutive rule is what separates this from
    A9's point outlier census: a burst is a TEMPORAL structure, so
    the flags must be run-length encoded (W8/W21's break-cumsum
    device), not just counted.

    Exactness: the threshold derives from exact integer object
    moments (unordered count/sum windows over one partition — no
    join-back, TRAPS #19); the u > μ + 2σ flag compares identical
    float expressions on both engines (the W23/D21 boolean
    discipline); degenerate objects (n < 8, zero variance) flag
    nothing. Runs and lengths are exact integers.

    Scale: ONE exchange on user_id serves the moment windows, the
    ordered lag/cumsum windows, and the final census (shared
    partitioning); per-row state is O(1); output is object-sized.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("u"),
    )
    p = Window.partitionBy("user_id")
    m = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        "u",
        F.count(F.lit(1)).over(p).alias("n"),
        F.sum("u").over(p).alias("s"),
        F.sum(F.col("u") * F.col("u")).over(p).alias("ss"),
    )
    var_num = F.col("ss").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ) / F.col("n")
    hi = (
        (F.col("n") >= 8)
        & (var_num / (F.col("n") - 1) > 0)
        & (
            F.col("u")
            > F.col("s").cast("double") / F.col("n")
            + 2 * F.sqrt(var_num / (F.col("n") - 1))
        )
    )
    f = m.select("user_id", "event_id", "ts_us", hi.alias("hi"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    g = f.select(
        "user_id",
        "ts_us",
        "event_id",
        "hi",
        F.when(
            ~F.lag("hi").over(w).eqNullSafe(F.col("hi")), 1
        ).otherwise(0).alias("brk"),
    ).withColumn("run_id", F.sum("brk").over(wc))
    rl = (
        g.filter("hi")
        .groupBy("user_id", "run_id")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    bursts = rl.filter(F.col("len") >= 2).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_bursts"),
        F.max("len").alias("longest_burst"),
    )
    flags = f.groupBy("user_id").agg(
        F.count(F.when(F.col("hi"), 1)).alias("n_flagged")
    )
    return flags.join(bursts, "user_id", "left").select(
        "user_id",
        "n_flagged",
        F.coalesce(F.col("n_bursts"), F.lit(0)).alias("n_bursts"),
        F.coalesce(F.col("longest_burst"), F.lit(0)).alias("longest_burst"),
    )


# --------------------------------------------------------------------
# D29 — O−C timing residuals (period-error diagnosis)
# --------------------------------------------------------------------

_D29_P_US = 86_400_000_000  # 24 h trial period (D10's), integer µs

_D29_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t
  FROM events WHERE user_id < 50
),
t0 AS (SELECT user_id, min(t) AS t0 FROM e GROUP BY user_id),
oc AS (
  SELECT e.user_id,
         (2 * (t - t0) + {_D29_P_US}) // (2 * {_D29_P_US}) AS n,
         (t - t0) - ((2 * (t - t0) + {_D29_P_US}) // (2 * {_D29_P_US}))
           * {_D29_P_US} AS oc_us
  FROM e JOIN t0 USING (user_id)
),
m AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS k,
         CAST(max(n) AS BIGINT) AS n_cycles,
         sum(n) AS sx, sum(oc_us) AS sy,
         sum(n * oc_us) AS sxy, sum(n * n) AS sxx,
         sum(CAST(oc_us AS HUGEINT) * CAST(oc_us AS HUGEINT)) AS syy
  FROM oc GROUP BY user_id
)
SELECT user_id, k AS n_obs, n_cycles,
       floor((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             * 1e4 + 0.5) / 1e4 AS slope_us_per_cycle,
       floor(sqrt(CAST(syy AS DOUBLE) / k
                  - (CAST(sy AS DOUBLE) / k) * (CAST(sy AS DOUBLE) / k))
             * 1e4 + 0.5) / 1e4 AS oc_rms_us
FROM m
WHERE k >= 2 AND k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
"""


@query("d29_oc_timing_residuals", oracle=_D29_ORACLE)
def d29_oc_timing_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D29: O−C (observed minus computed) timing residuals — the
    period-REFINEMENT verb that closes the loop D6→D10 opens: given a
    trial period P (D10's 24 h literal; in production D6's per-object
    best), each observation's epoch number is the NEAREST cycle
    n = round((t−t0)/P) and its residual oc = (t−t0) − n·P. A wrong
    period shows as a LINEAR O−C trend whose slope IS the period
    error (P_true = P + slope, the classic eclipse-timing diagram);
    a period derivative shows as curvature; scatter is timing jitter.
    Output per object: observation/cycle counts, the OLS slope of
    oc-vs-n (µs/cycle, ML15's sufficient-statistics device), and the
    RMS residual.

    Exactness: timestamps are integer epoch-µs; the nearest-integer
    epoch is pure integer arithmetic n = (2·Δ + P) div (2·P) — no
    float rounding at cycle boundaries (both engines floor-divide
    integers; a float round() would disagree at exact half-cycles).
    Residuals are exact integer µs; the five OLS moments are exact
    (HUGEINT/DECIMAL for Σoc² — oc ≤ P/2 ≈ 4.3e10, squares 1.9e21
    exceed int64, the A29 bound discipline applied); slope and RMS
    are single float expressions R4. Degenerate objects (k < 2 or
    zero cycle-variance) are guarded out (TRAPS #22).

    Scale: t0 is a per-object partial/final min broadcast back by a
    key join (object-count-sized, AQE-broadcast at test scale); the
    epoch/residual map is map-side; the moments one partial/final
    agg. Nothing after the combine exceeds one row per object —
    D4's light-curve discipline.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("user_id", F.unix_micros("ts").alias("t"))
    )
    t0 = ev.groupBy("user_id").agg(F.min("t").alias("t0"))
    P = _D29_P_US
    d = F.col("t") - F.col("t0")
    oc = ev.join(t0, "user_id").select(
        "user_id",
        F.expr(f"(2 * (t - t0) + {P}) div (2 * {P})").alias("n"),
        (
            d
            - F.expr(f"(2 * (t - t0) + {P}) div (2 * {P})") * F.lit(P)
        ).alias("oc_us"),
    )
    dec = "decimal(38,0)"
    m = oc.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n").cast("long").alias("n_cycles"),
        F.sum("n").alias("sx"),
        F.sum("oc_us").alias("sy"),
        F.sum(F.col("n") * F.col("oc_us")).alias("sxy"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
        F.sum((F.col("oc_us").cast(dec) * F.col("oc_us").cast(dec))).alias(
            "syy"
        ),
    )
    k = F.col("k")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    rms = F.sqrt(syy / k - (sy / k) * (sy / k))
    return m.filter((k >= 2) & (k * sxx - sx * sx > 0)).select(
        "user_id",
        k.alias("n_obs"),
        "n_cycles",
        R4(slope).alias("slope_us_per_cycle"),
        R4(rms).alias("oc_rms_us"),
    )

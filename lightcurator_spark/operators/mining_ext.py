"""Round-6 mining/quality extensions: referential integrity, naive
Bayes classification, and source-distribution divergence.

Completes the DQ family with the cross-TABLE audit it lacked (DQ1
constraints, DQ2/DQ4 drift, DQ3 shape, DQ5 fan-out, DQ6 = foreign-key
integrity), adds the first supervised CLASSIFIER to the ML tier (ML1
k-means = unsupervised, ML2 ridge = regression, ML3 = multinomial
naive Bayes) and the information-theoretic member of the text family
(L37 KL divergence per source). ML3/L37 share one device that makes
log-likelihood sums hash-checkable: every log quantizes to integer
1e-4 units (floor(ln·1e4+0.5) — the R4 formula applied BEFORE the
sum, not after), so scores are exact BIGINT sums immune to
float-accumulation order, and float appears only in a final division.

No reference citation is possible (`/root/reference/` is empty —
SURVEY §0); the driver contract (BASELINE.json) plus these docstrings
are the binding spec.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark import api
from lightcurator_spark.plans.registry import EAGER_CHECKPOINT, query
from lightcurator_spark.registry import load_table


def R4(c):
    """Engine-stable 4-dp rounding (TRAPS.md #4): floor(x·1e4 + .5)/1e4."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


def LOGU(c):
    """Integer micro-log units: floor(ln(x)·1e4 + .5) as BIGINT.

    The ML3/L37 exactness device — quantizing each log BEFORE any sum
    turns log-likelihood accumulation into exact integer arithmetic
    (order-free, hash-stable across engines). Both engines floor the
    same double; a flip would need ln·1e4 to land within one libm ulp
    of an integer boundary, and unlike A28's log10-of-power-of-ten
    case these arguments are ratios of corpus counts with no
    structural boundary alignment.
    """
    return F.floor(F.log(c) * 10000 + F.lit(0.5)).cast("long")


# --------------------------------------------------------------------
# DQ6 — referential-integrity census (every FK edge, one audit)
# --------------------------------------------------------------------

# (edge name, child table, child key col, parent table, parent key col)
_DQ6_EDGES = [
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]

_DQ6_EDGE_SQL = """
  SELECT '{name}' AS edge,
         (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
         (SELECT CAST(count(*) AS BIGINT) FROM {child}
           WHERE {ckey} IS NULL) AS n_null_keys,
         COALESCE(sum(cnt), 0) AS n_orphan_rows,
         CAST(count(*) AS BIGINT) AS n_orphan_keys
  FROM (SELECT {ckey} AS k, CAST(count(*) AS BIGINT) AS cnt
        FROM {child} WHERE {ckey} IS NOT NULL GROUP BY 1) c
  WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pkey} = c.k)
"""

_DQ6_ORACLE = "\nUNION ALL\n".join(
    _DQ6_EDGE_SQL.format(name=n, child=c, ckey=ck, parent=p, pkey=pk)
    for (n, c, ck, p, pk) in _DQ6_EDGES
)


@query("dq6_referential_integrity", oracle=_DQ6_ORACLE)
def dq6_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ6: referential-integrity census — one row per foreign-key edge
    of the corpus schema with its orphan count: the cross-TABLE member
    of the DQ family (DQ1 in-row constraints, DQ2/DQ4 drift, DQ3
    shape, DQ5 join fan-out, DQ6 = key integrity). An orphan is a
    non-null child key with no matching parent row; null keys are
    counted separately (SQL three-valued logic makes a null key
    neither matched nor orphaned — the audit must not fold the two).
    A clean corpus reports 0 orphans on every edge — the PASS result
    is the deliverable (DQ1's rationale), and n_child/n_null still
    carry per-edge signal for the hash.

    Scale: each edge reduces the child to one row per DISTINCT key
    behind a partial agg (count-per-key, the DQ5 device) BEFORE the
    anti-join, so the anti-join never carries fact-table cardinality;
    dimension parents broadcast (plan-tested), the one fact-sized
    parent (orders) takes a shuffled anti-join that AQE can skew-split.
    Edges are independent legs of one union — at 100 TB they schedule
    as parallel stages, each 1 child scan + 1 parent scan.
    """
    out = None
    for name, child, ckey, parent, pkey in _DQ6_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        # child-side totals stay IN the lazy plan (a 1-row agg leg
        # crossJoined in, mirroring the oracle's scalar subqueries) —
        # eager .count() calls here would run 14 jobs at plan-build
        # time, violating the lazy contract and escaping any timing
        # of the returned DataFrame (review finding, round 6)
        base = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.count(F.when(F.col(ckey).isNull(), 1)).alias("n_null_keys"),
        )
        keys = (
            c.filter(F.col(ckey).isNotNull())
            .groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        orphans = keys.join(
            p.select(F.col(pkey).alias("k")), "k", "left_anti"
        ).agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_orphan_rows"),
            F.count(F.lit(1)).alias("n_orphan_keys"),
        )
        leg = base.crossJoin(orphans).select(
            F.lit(name).alias("edge"),
            "n_child",
            "n_null_keys",
            "n_orphan_rows",
            "n_orphan_keys",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


# --------------------------------------------------------------------
# ML3 — multinomial naive Bayes language classifier
# --------------------------------------------------------------------

_ML3_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents
),
tf AS (  -- per-document term frequencies
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, token
),
cls AS (  -- per-class token counts
  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
  FROM toks GROUP BY lang, token
),
tot AS (SELECT lang, sum(cnt) AS tot FROM cls GROUP BY lang),
vocab AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM toks),
prior AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY lang
),
ndocs AS (SELECT CAST(count(*) AS BIGINT) AS nd_all FROM documents),
lp AS (  -- integer micro-log likelihoods, Laplace alpha=1
  SELECT c.lang, c.token,
         CAST(floor(ln((c.cnt + 1.0) / (t.tot + v.v)) * 1e4 + 0.5)
              AS BIGINT) AS l
  FROM cls c JOIN tot t USING (lang) CROSS JOIN vocab v
),
l0 AS (  -- unseen-token likelihood per class
  SELECT t.lang,
         CAST(floor(ln(1.0 / (t.tot + v.v)) * 1e4 + 0.5) AS BIGINT) AS l0,
         CAST(floor(ln(p.nd / CAST(n.nd_all AS DOUBLE)) * 1e4 + 0.5)
              AS BIGINT) AS lprior
  FROM tot t CROSS JOIN vocab v
  JOIN prior p USING (lang) CROSS JOIN ndocs n
),
scores AS (
  SELECT tf.doc_id, l0.lang,
         l0.lprior + sum(tf.c * COALESCE(lp.l, l0.l0)) AS score
  FROM tf CROSS JOIN l0
  LEFT JOIN lp ON lp.lang = l0.lang AND lp.token = tf.token
  GROUP BY tf.doc_id, l0.lang, l0.lprior
),
pred AS (
  SELECT doc_id, lang AS predicted,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT d.lang AS actual, p.predicted,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p ON p.doc_id = d.doc_id AND p.rn = 1
GROUP BY d.lang, p.predicted
"""


@query("ml3_naive_bayes_langid", oracle=_ML3_ORACLE)
def ml3_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3: multinomial naive Bayes — the first supervised CLASSIFIER
    in the ML tier (ML1 k-means = unsupervised, ML2 = regression):
    fit token likelihoods per language on the labeled corpus (Laplace
    alpha=1), score every document, emit the confusion matrix
    (actual, predicted, n_docs) — the resubstitution fit that
    benchmarks the heuristic L6 lang-id. The whole argmax is exact
    integer arithmetic: each log-likelihood quantizes to micro-log
    units (LOGU) at BUILD time, so a document's class score is
    lprior + Σ c·L — an exact BIGINT immune to the float-sum-order
    problem that makes naive log-prob aggregation un-hashable; ties
    (possible after quantization) break to the smallest language code
    (ML1's R4-before-argmin discipline, here with no rounding left to
    do).

    Scale: class model = one token explode + (lang, token) partial
    agg (the L14 dictionary shape); scoring joins per-doc term
    frequencies against the model on the token key — the classic
    Zipf-skewed dictionary join (AQE skew-split / broadcast when the
    vocab fits); the 5-row class table broadcasts. Unseen (token,
    class) pairs coalesce to the per-class default rather than
    densifying the matrix — the model table stays |observed pairs|,
    never |vocab|x|classes|.

    r13 measured rejection: a single-lineage rewrite (lang riding tf
    as a group key, cls/tot/vocab re-aggregating tf's exchange via
    ReusedExchange, confusion matrix without the join-back) won under
    the bench profile (AQE-off/4 partitions: fresh 1.55 -> 1.08) but
    LOST under the cluster profile (AQE-on/128) at BOTH scales —
    1x 1.25 -> 1.92, 16x replica 4.42 -> 5.89 — because the model
    legs' old map-side combine shuffles only vocab-sized partials
    (31 tokens x 5 langs) while the reuse re-reads a doc-granular
    exchange three times. A bench-profile-only win is the class this
    repo refuses; reverted to this shape.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    cls = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cls.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = toks.agg(F.countDistinct("token").alias("v"))
    prior = d.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    # lazy 1-row agg leg (DQ6 pattern, round-7 advice fix): an eager
    # d.count() here would run a Spark job at plan-BUILD time, outside
    # the timed plan the bench and the oracle both pay for
    ndocs = d.agg(F.count(F.lit(1)).alias("nd_all"))
    lp = (
        cls.join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "token",
            LOGU((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v"))).alias("l"),
        )
    )
    l0 = (
        tot.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ndocs))
        .join(prior, "lang")
        .select(
            "lang",
            LOGU(F.lit(1.0) / (F.col("tot") + F.col("v"))).alias("l0"),
            LOGU(F.col("nd") / F.col("nd_all").cast("double")).alias("lprior"),
        )
    )
    scores = (
        tf.crossJoin(F.broadcast(l0))
        .join(lp, ["lang", "token"], "left")
        .groupBy("doc_id", "lang", "lprior")
        .agg(
            F.sum(
                F.col("c") * F.coalesce(F.col("l"), F.col("l0"))
            ).alias("ll")
        )
        .select("doc_id", "lang", (F.col("lprior") + F.col("ll")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted"))
    )
    return (
        d.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------
# L37 — per-source KL divergence from the corpus token distribution
# --------------------------------------------------------------------

_L37_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, token
),
corpus AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cc FROM toks GROUP BY token
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS v,
         sum(cc) AS n_all
  FROM corpus
),
q AS (  -- corpus log-probs in micro-log units
  SELECT c.token,
         CAST(floor(ln((c.cc + 1.0) / (g.n_all + g.v)) * 1e4 + 0.5)
              AS BIGINT) AS lq
  FROM corpus c CROSS JOIN g
),
sq AS (SELECT sum(lq) AS sq_all FROM q),
per AS (
  SELECT tf.source,
         sum(tf.c) AS n,
         CAST(count(*) AS BIGINT) AS v_present,
         sum((tf.c + 1)
             * (CAST(floor(ln(tf.c + 1.0) * 1e4 + 0.5) AS BIGINT) - q.lq))
           AS num_present,
         sum(q.lq) AS sq_present
  FROM tf JOIN q USING (token)
  GROUP BY tf.source
)
SELECT p.source,
       p.n AS n_tokens,
       p.v_present AS vocab_present,
       p.num_present
         - (p.n + g.v)
           * CAST(floor(ln(p.n + CAST(g.v AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
         - (s.sq_all - p.sq_present) AS kl_units,
       floor((p.num_present
              - (p.n + g.v)
                * CAST(floor(ln(p.n + CAST(g.v AS DOUBLE)) * 1e4 + 0.5)
                       AS BIGINT)
              - (s.sq_all - p.sq_present))
             / ((p.n + g.v) * 1e4) * 1e4 + 0.5) / 1e4 AS kl
FROM per p CROSS JOIN g CROSS JOIN sq s
"""


@query("l37_source_kl_divergence", oracle=_L37_ORACLE)
def l37_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L37: KL divergence of each source's token distribution from the
    corpus — the information-theoretic member of the text-curation
    family (L6 doc stats, L14 perplexity proxy, L16 mixing weights;
    L37 answers WHICH source is distributionally unlike the blend —
    the screen behind up/down-weighting decisions in pretraining
    mixes). Both distributions are Laplace-smoothed over the shared
    corpus vocabulary V, so D_KL(p_src || q_corpus) is finite and sums
    over all V tokens.

    The exactness device extends ML3's micro-log units to a FULL
    divergence: since sum over the vocab of (c+1) = n+V exactly, the
    dense sum decomposes into present-token terms plus two closed
    forms — (n+V)·L(n+V) for the normalizer and (SQ_all − SQ_present)
    for absent-token corpus logs, where SQ_all is one global scalar.
    kl_units is therefore an exact BIGINT computed from present
    tokens only (the table never densifies to |sources|x|vocab| —
    the same sparsity economics as ML3's model join), and the quoted
    kl is one final division, R4. Quantization bounds the estimate
    within ~1e-4 of true KL while both engines compute the identical
    integer.

    Scale: one token explode feeds both the per-source tf and the
    corpus dictionary (L14's reuse shape); the tf-dictionary join
    shuffles on the Zipf token key (AQE skew-split); scalars (V, N,
    SQ_all) travel as a 1-row broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    corpus = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cc"))
    g = corpus.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cc").alias("n_all")
    )
    q = corpus.crossJoin(F.broadcast(g)).select(
        "token",
        LOGU((F.col("cc") + 1.0) / (F.col("n_all") + F.col("v"))).alias("lq"),
    )
    sq = q.agg(F.sum("lq").alias("sq_all"))
    per = (
        tf.join(q, "token")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("v_present"),
            F.sum(
                (F.col("c") + 1)
                * (LOGU(F.col("c") + 1.0) - F.col("lq"))
            ).alias("num_present"),
            F.sum("lq").alias("sq_present"),
        )
    )
    ln_norm = F.floor(
        F.log(F.col("n") + F.col("v").cast("double")) * 10000 + F.lit(0.5)
    ).cast("long")
    kl_units = (
        F.col("num_present")
        - (F.col("n") + F.col("v")) * ln_norm
        - (F.col("sq_all") - F.col("sq_present"))
    )
    return (
        per.crossJoin(F.broadcast(g.select("v")))
        .crossJoin(F.broadcast(sq))
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.col("v_present").alias("vocab_present"),
            kl_units.alias("kl_units"),
            R4(kl_units / ((F.col("n") + F.col("v")) * F.lit(10000.0))).alias(
                "kl"
            ),
        )
    )


# --------------------------------------------------------------------
# ML8 — classification report (per-class precision/recall/F1)
# --------------------------------------------------------------------

_ML8_ORACLE = (
    "WITH cm AS (" + _ML3_ORACLE.replace(";", "") + """),
per AS (
  SELECT a.lang,
         COALESCE(tp.n, 0) AS tp,
         COALESCE(pred.n, 0) AS n_predicted,
         COALESCE(act.n, 0) AS n_actual
  FROM (SELECT DISTINCT actual AS lang FROM cm
        UNION SELECT DISTINCT predicted FROM cm) a
  LEFT JOIN (SELECT actual AS lang, sum(n_docs) AS n FROM cm
             WHERE actual = predicted GROUP BY actual) tp
    ON tp.lang = a.lang
  LEFT JOIN (SELECT predicted AS lang, sum(n_docs) AS n FROM cm
             GROUP BY predicted) pred ON pred.lang = a.lang
  LEFT JOIN (SELECT actual AS lang, sum(n_docs) AS n FROM cm
             GROUP BY actual) act ON act.lang = a.lang
)
SELECT lang, CAST(n_actual AS BIGINT) AS n_actual,
       CAST(n_predicted AS BIGINT) AS n_predicted,
       CAST(tp AS BIGINT) AS true_positives,
       CASE WHEN n_predicted > 0
            THEN floor(tp / CAST(n_predicted AS DOUBLE) * 1e4 + 0.5) / 1e4
            END AS precision,
       CASE WHEN n_actual > 0
            THEN floor(tp / CAST(n_actual AS DOUBLE) * 1e4 + 0.5) / 1e4
            END AS recall,
       CASE WHEN tp > 0
            THEN floor(2.0 * tp / (n_predicted + n_actual) * 1e4 + 0.5) / 1e4
            END AS f1
FROM per
"""
)


@query("ml8_classification_report", oracle=_ML8_ORACLE)
def ml8_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML8: per-class precision / recall / F1 over ML3's confusion
    matrix — the EVALUATION verb the classifier tier was missing (ML3
    and ML5 emit matrices; ML8 reduces one to the metrics a model
    card quotes). F1 uses the harmonic-mean identity 2·tp/(pred+act)
    — one division from three exact integers rather than the
    textbook 2PR/(P+R), which would divide two ALREADY-ROUNDED floats
    and propagate R4 error into the hash (the quotient-of-quotients
    trap). Degenerate classes export NULL through integer guards:
    never-predicted → NULL precision (undefined, not 0), tp = 0 →
    NULL F1 (TRAPS #22's division discipline). Predicted-but-never-
    actual classes are KEPT with n_actual = 0 and NULL recall (round-7
    advice fix): a false-positive-only class is exactly the row a
    model card must surface, not silently drop.

    Scale: the matrix is ≤ |classes|² rows — everything here is
    metadata-sized; the cost is ML3's fit, shared unchanged.
    """
    cm = ml3_naive_bayes_langid(spark, sf_dir)
    tp = (
        cm.filter(F.col("actual") == F.col("predicted"))
        .groupBy(F.col("actual").alias("lang"))
        .agg(F.sum("n_docs").alias("tp"))
    )
    pred = cm.groupBy(F.col("predicted").alias("lang")).agg(
        F.sum("n_docs").alias("n_predicted")
    )
    act = cm.groupBy(F.col("actual").alias("lang")).agg(
        F.sum("n_docs").alias("n_actual")
    )
    per = (
        act.join(pred, "lang", "full_outer")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return per.select(
        "lang",
        "n_actual",
        "n_predicted",
        F.col("tp").alias("true_positives"),
        F.when(
            F.col("n_predicted") > 0,
            R4(F.col("tp") / F.col("n_predicted").cast("double")),
        ).alias("precision"),
        F.when(
            F.col("n_actual") > 0,
            R4(F.col("tp") / F.col("n_actual").cast("double")),
        ).alias("recall"),
        F.when(
            F.col("tp") > 0,
            R4(
                2.0
                * F.col("tp")
                / (F.col("n_predicted") + F.col("n_actual")).cast("double")
            ),
        ).alias("f1"),
    )


# DQ7 — freshness / staleness audit. Segment grain = (event_type,
# user_id % 100): fine enough that real lag variance shows, coarse
# enough that every segment has traffic at sf0.001.
_DQ7_ORACLE = """
WITH seg AS (
  SELECT event_type, user_id % 100 AS user_bucket,
         count(*) AS n_events,
         max(epoch_us(ts)) AS last_seen_us
  FROM events
  GROUP BY 1, 2
),
g AS (SELECT max(epoch_us(ts)) AS wm_us FROM events)
SELECT event_type, user_bucket, n_events, last_seen_us,
       wm_us - last_seen_us AS lag_us,
       (wm_us - last_seen_us > 21600000000) AS is_stale
FROM seg CROSS JOIN g
"""


@query(
    "dq7_freshness_audit",
    oracle=_DQ7_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def dq7_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ7: data-freshness audit — per (event_type, user-bucket)
    segment, last-seen event time, lag behind the stream's global
    high-water mark, and a staleness flag (lag > 6 h). The check every
    ingestion SLA dashboard runs: "which upstream segments stopped
    emitting?".

    Plan shape: one partial-aggregated groupBy for the segment table;
    the global watermark is a 1-row aggregate leg cross-joined in
    (broadcast, never a driver scalar) — the whole audit is one scan
    of the stream table. At 100 TB the scan prunes to the (type,
    bucket, max(ts)) aggregate map-side; nothing else shuffles.

    Times export as epoch-µs BIGINTs (house rule: no raw timestamps
    in hashed output — Spark-µs vs DuckDB grain can't skew).
    """
    ev = load_table(spark, sf_dir, "events")
    # the watermark DERIVES from the segment cells (max of maxes) and
    # the cells lazily localCheckpoint so both consumers share ONE
    # corpus scan (leg-reuse audit: the ev.agg form re-scanned parquet)
    seg = ev.groupBy(
        "event_type", (F.col("user_id") % 100).alias("user_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.unix_micros("ts")).alias("last_seen_us"),
    ).localCheckpoint(eager=False)
    g = seg.agg(F.max("last_seen_us").alias("wm_us"))
    return seg.crossJoin(F.broadcast(g)).select(
        "event_type",
        "user_bucket",
        "n_events",
        "last_seen_us",
        (F.col("wm_us") - F.col("last_seen_us")).alias("lag_us"),
        (F.col("wm_us") - F.col("last_seen_us") > 21600000000).alias("is_stale"),
    )


# --------------------------------------------------------------------
# DQ8 — column-profile drift audit (before/after split)
# --------------------------------------------------------------------

_DQ8_ORACLE = """
WITH e AS (
  SELECT value, event_type, user_id,
         (ts < TIMESTAMP '2024-01-16') AS bef
  FROM events
),
a AS (
  SELECT
    CAST(count(*) FILTER (WHERE bef) AS BIGINT) AS nb,
    CAST(count(*) FILTER (WHERE NOT bef) AS BIGINT) AS na,
    CAST(count(*) FILTER (WHERE bef AND value IS NULL) AS BIGINT) AS vnull_b,
    CAST(count(*) FILTER (WHERE NOT bef AND value IS NULL) AS BIGINT) AS vnull_a,
    CAST(count(DISTINCT CASE WHEN bef THEN value END) AS BIGINT) AS vnd_b,
    CAST(count(DISTINCT CASE WHEN NOT bef THEN value END) AS BIGINT) AS vnd_a,
    CAST(count(DISTINCT CASE WHEN bef THEN event_type END) AS BIGINT) AS tnd_b,
    CAST(count(DISTINCT CASE WHEN NOT bef THEN event_type END) AS BIGINT) AS tnd_a,
    CAST(count(DISTINCT CASE WHEN bef THEN user_id END) AS BIGINT) AS und_b,
    CAST(count(DISTINCT CASE WHEN NOT bef THEN user_id END) AS BIGINT) AS und_a
  FROM e
),
p AS (
  SELECT 'value' AS col_name, nb, na, vnull_b AS null_b, vnull_a AS null_a,
         vnd_b AS nd_b, vnd_a AS nd_a FROM a
  UNION ALL
  SELECT 'event_type', nb, na, 0, 0, tnd_b, tnd_a FROM a
  UNION ALL
  SELECT 'user_id', nb, na, 0, 0, und_b, und_a FROM a
)
SELECT col_name, nb AS n_before, na AS n_after,
       null_b AS n_null_before, null_a AS n_null_after,
       nd_b AS n_distinct_before, nd_a AS n_distinct_after,
       floor((CAST(null_a AS DOUBLE) / na - CAST(null_b AS DOUBLE) / nb)
             * 1e4 + 0.5) / 1e4 AS null_rate_delta,
       CASE WHEN nd_b > 0
            THEN floor(CAST(nd_a AS DOUBLE) / nd_b * 1e4 + 0.5) / 1e4
       END AS distinct_ratio,
       (abs(CAST(null_a AS DOUBLE) / na - CAST(null_b AS DOUBLE) / nb) > 0.01
        OR nd_b = 0
        OR CAST(nd_a AS DOUBLE) / nd_b < 0.5
        OR CAST(nd_a AS DOUBLE) / nd_b > 2.0) AS is_drifted
FROM p
"""


@query("dq8_profile_drift_audit", oracle=_DQ8_ORACLE)
def dq8_profile_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ8: column-profile drift audit — DQ3's per-column profile
    (counts, null rate, distinct count) computed on BOTH sides of a
    time split and diffed, per column, with a drift flag. The
    structural sibling of DQ2's value-distribution PSI: DQ2 catches a
    column whose VALUES shifted, DQ8 catches a column whose SHAPE
    changed — null rate jumping (an upstream field went missing) or
    distinct cardinality collapsing/exploding (an enum merged, an id
    started duplicating) — the two failure classes a schema-on-read
    pipeline meets first.

    Shape: ONE scan, one aggregate row carrying all per-column
    metrics for both splits (count-distincts share the single
    Expand), then a 3-row stack — the DQ3 device extended with the
    before/after conditional. Flags: |Δ null rate| > 1 pp, or the
    distinct ratio leaving [0.5, 2.0] (nd_before = 0 flags
    unconditionally — a column that appeared from nothing is drift by
    definition, TRAPS #22 guard). All ratios are single float
    divisions of exact integers, R4 on export.

    Scale: the audit is metadata-sized after one partial/final agg;
    the count-distinct Expand multiplies the scan 7× map-side — at
    100 TB swap exact distincts for approx_count_distinct (A3's
    documented trade) without changing the report's shape.
    """
    split = F.lit("2024-01-16").cast("timestamp")
    e = load_table(spark, sf_dir, "events").select(
        "value", "event_type", "user_id", (F.col("ts") < split).alias("bef")
    )
    a = e.agg(
        F.count(F.when(F.col("bef"), 1)).alias("nb"),
        F.count(F.when(~F.col("bef"), 1)).alias("na"),
        F.count(
            F.when(F.col("bef") & F.col("value").isNull(), 1)
        ).alias("vnull_b"),
        F.count(
            F.when(~F.col("bef") & F.col("value").isNull(), 1)
        ).alias("vnull_a"),
        F.countDistinct(F.when(F.col("bef"), F.col("value"))).alias("vnd_b"),
        F.countDistinct(F.when(~F.col("bef"), F.col("value"))).alias("vnd_a"),
        F.countDistinct(
            F.when(F.col("bef"), F.col("event_type"))
        ).alias("tnd_b"),
        F.countDistinct(
            F.when(~F.col("bef"), F.col("event_type"))
        ).alias("tnd_a"),
        F.countDistinct(F.when(F.col("bef"), F.col("user_id"))).alias("und_b"),
        F.countDistinct(
            F.when(~F.col("bef"), F.col("user_id"))
        ).alias("und_a"),
    )
    p = a.selectExpr(
        "stack(3, "
        "'value', nb, na, vnull_b, vnull_a, vnd_b, vnd_a, "
        "'event_type', nb, na, CAST(0 AS BIGINT), CAST(0 AS BIGINT), tnd_b, tnd_a, "
        "'user_id', nb, na, CAST(0 AS BIGINT), CAST(0 AS BIGINT), und_b, und_a"
        ") AS (col_name, n_before, n_after, n_null_before, n_null_after, "
        "n_distinct_before, n_distinct_after)"
    )
    null_delta = (
        F.col("n_null_after").cast("double") / F.col("n_after")
        - F.col("n_null_before").cast("double") / F.col("n_before")
    )
    ratio = F.col("n_distinct_after").cast("double") / F.col(
        "n_distinct_before"
    )
    return p.select(
        "col_name",
        "n_before",
        "n_after",
        "n_null_before",
        "n_null_after",
        "n_distinct_before",
        "n_distinct_after",
        R4(null_delta).alias("null_rate_delta"),
        F.when(F.col("n_distinct_before") > 0, R4(ratio)).alias(
            "distinct_ratio"
        ),
        (
            (F.abs(null_delta) > 0.01)
            | (F.col("n_distinct_before") == 0)
            | (ratio < 0.5)
            | (ratio > 2.0)
        ).alias("is_drifted"),
    )


# --------------------------------------------------------------------
# ML11 — exact ROC-AUC via the rank statistic
# --------------------------------------------------------------------

_ML11_ORACLE = """
WITH v AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS bucket, value,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS pos,
         CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
           AS neg
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
r AS (
  SELECT bucket, pos, neg,
         sum(pos + neg) OVER (PARTITION BY bucket ORDER BY value
                              ROWS UNBOUNDED PRECEDING) - (pos + neg)
           AS cprev
  FROM v
),
u AS (
  SELECT bucket,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(neg) AS BIGINT) AS n_neg,
         CAST(sum(pos * (2 * cprev + pos + neg + 1)) AS BIGINT) AS ra2
  FROM r GROUP BY bucket
)
SELECT bucket, n_pos, n_neg,
       floor((CAST(ra2 - n_pos * (n_pos + 1) AS DOUBLE)
              / (2.0 * n_pos * n_neg)) * 1e4 + 0.5) / 1e4 AS auc,
       floor(((CAST(ra2 - n_pos * (n_pos + 1) AS DOUBLE)
               / (n_pos * n_neg)) - 1) * 1e4 + 0.5) / 1e4 AS gini
FROM u
WHERE n_pos > 0 AND n_neg > 0
"""


@query("ml11_roc_auc", oracle=_ML11_ORACLE)
def ml11_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML11: exact ROC-AUC per segment — does the value score separate
    purchases from non-purchases, and how well? AUC IS the
    Mann–Whitney U statistic normalized (P(score_pos > score_neg) +
    ½·P(tie)), so A26's integer doubled-rank device computes it
    EXACTLY: class counts per distinct score value, a strictly-below
    cumulative count, and the doubled rank-sum identity — ties get
    correct midranks with zero float ranking anywhere, and the only
    float is the final division. The ML-evaluation verb ML8's
    threshold-bound report can't give (precision/recall need a
    threshold; AUC ranks the SCORER across all of them), plus the
    Gini coefficient 2·AUC−1 the credit-scoring world reports.

    Scale: A26's exact profile — one scan, a (segment, value) partial/
    final agg, a cumulative window on the compressed value table
    (distinct scores, not rows), and a re-aggregation on the same key:
    1 scan, 2 exchanges, no join. Doubled rank-sums are BIGINT-exact
    to ~3·10⁹ rows per segment (decimal(38,0) past that, same plan).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.groupBy(
        (F.col("user_id") % 10).cast("long").alias("bucket"), "value"
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("pos"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias("neg"),
    )
    wcum = (
        Window.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.col("pos") + F.col("neg")
    r = v.select(
        "bucket", "pos", "neg", (F.sum(t).over(wcum) - t).alias("cprev")
    )
    u = (
        r.groupBy("bucket")
        .agg(
            F.sum("pos").alias("n_pos"),
            F.sum("neg").alias("n_neg"),
            F.sum(
                F.col("pos")
                * (2 * F.col("cprev") + F.col("pos") + F.col("neg") + 1)
            ).alias("ra2"),
        )
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
    )
    u2 = F.col("ra2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return u.select(
        "bucket",
        "n_pos",
        "n_neg",
        R4(
            u2.cast("double") / (2.0 * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
        R4(
            u2.cast("double") / (F.col("n_pos") * F.col("n_neg")) - 1
        ).alias("gini"),
    )


# --------------------------------------------------------------------
# ML12 — k-fold cross-validation from sufficient statistics
# --------------------------------------------------------------------

_ML12_ORACLE = """
WITH e AS (
  SELECT CAST(hour(ts) AS BIGINT) AS x,
         CAST(floor(value * 10 + 0.5) AS BIGINT) AS u,
         CAST((event_id * 2654435761) % 4294967296 % 5 AS BIGINT) AS fold
  FROM events WHERE value IS NOT NULL
),
cells AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(u) AS su, sum(x * u) AS sxu,
         sum(x * x) AS sxx, sum(u * u) AS suu
  FROM e GROUP BY 1
),
tot AS (
  SELECT sum(n) AS n, sum(sx) AS sx, sum(su) AS su, sum(sxu) AS sxu,
         sum(sxx) AS sxx, sum(suu) AS suu
  FROM cells
),
co AS (
  SELECT c.fold, t.n - c.n AS n_tr, c.n AS n_te,
         c.sx AS sx, c.su AS su, c.sxu AS sxu,
         c.sxx AS sxx, c.suu AS suu,
         t.sx - c.sx AS rsx, t.su - c.su AS rsu,
         (CAST(t.n - c.n AS DOUBLE) * (t.sxu - c.sxu)
            - CAST(t.sx - c.sx AS DOUBLE) * (t.su - c.su))
         / (CAST(t.n - c.n AS DOUBLE) * (t.sxx - c.sxx)
            - CAST(t.sx - c.sx AS DOUBLE) * (t.sx - c.sx)) AS b
  FROM cells c CROSS JOIN tot t
),
ab AS (
  SELECT fold, n_tr, n_te, sx, su, sxu, sxx, suu, b,
         (CAST(rsu AS DOUBLE) - b * CAST(rsx AS DOUBLE)) / n_tr AS a
  FROM co
)
SELECT fold, n_tr AS n_train, n_te AS n_test,
       floor(b * 1e4 + 0.5) / 1e4 AS slope,
       floor(a * 1e4 + 0.5) / 1e4 AS intercept,
       floor(sqrt((suu - 2 * a * su - 2 * b * sxu
                   + a * a * n_te + 2 * a * b * sx + b * b * sxx)
                  / n_te) * 1e4 + 0.5) / 1e4 AS rmse
FROM ab
"""


@query("ml12_kfold_cv", oracle=_ML12_ORACLE)
def ml12_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML12: 5-fold cross-validation of a 1-feature OLS model (value ~
    hour-of-day) computed ENTIRELY from sufficient statistics — the
    evaluation-protocol operator the ML tier was missing (ML2 fits,
    ML8 scores a fixed split; ML12 answers "does the fit generalize"
    with the rotation every AutoML loop runs). The trick that makes it
    one scan instead of k: both the training normal equations AND the
    held-out RMSE expand over (n, Σx, Σu, Σxu, Σx², Σu²) —
    Σ(u−a−bx)² = Σu² − 2aΣu − 2bΣxu + a²n + 2abΣx + b²Σx² — so the
    corpus reduces to 5 fold-cells once, train-side sums are
    total − fold (leave-one-out algebra), and every coefficient and
    error is closed-form per cell. NO per-fold rescan, NO
    second evaluation pass, NO model-to-row join.

    Determinism: folds assigned by Knuth multiplicative hashing on the
    unique event_id ((id·2654435761) mod 2³² mod 5 — exact integer
    arithmetic both engines, unlike engine-specific hash()); values
    quantize to 1 dp so Σu² stays within int64 at sf10 (bounds
    pre-analyzed: u ≤ 5e3 → Σu² ≤ 2.5e13/row-million); the sums are
    exact BIGINTs, so the double algebra downstream is bit-identical
    cross-engine (the ML2 device) and the whole result value-hashes.

    Scale: one partial/final agg to FIVE cells; everything after is
    driver-free arithmetic on a 5-row table with a broadcast totals
    leg. The 100 TB cost is the scan — the protocol is free.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 10 + F.lit(0.5)).cast("long").alias("u"),
        ((F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296) % 5)
        .cast("long")
        .alias("fold"),
    )
    cells = e.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("u").alias("su"),
        F.sum(F.col("x") * F.col("u")).alias("sxu"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
    )
    tot = cells.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("su").alias("tsu"),
        F.sum("sxu").alias("tsxu"),
        F.sum("sxx").alias("tsxx"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    n_tr = (F.col("tn") - F.col("n")).alias("n_train")
    trx = F.col("tsx") - F.col("sx")
    tru = F.col("tsu") - F.col("su")
    trxu = F.col("tsxu") - F.col("sxu")
    trxx = F.col("tsxx") - F.col("sxx")
    b = (
        (n_tr.cast("double") * trxu - trx.cast("double") * tru)
        / (n_tr.cast("double") * trxx - trx.cast("double") * trx)
    ).alias("b")
    co = j.select(
        "fold",
        n_tr,
        F.col("n").alias("n_test"),
        "sx",
        "su",
        "sxu",
        "sxx",
        "suu",
        trx.alias("rsx"),
        tru.alias("rsu"),
        b,
    ).withColumn(
        "a",
        (
            F.col("rsu").cast("double")
            - F.col("b") * F.col("rsx").cast("double")
        )
        / F.col("n_train"),
    )
    return co.select(
        "fold",
        "n_train",
        "n_test",
        R4(F.col("b")).alias("slope"),
        R4(F.col("a")).alias("intercept"),
        R4(
            F.sqrt(
                (
                    F.col("suu")
                    - 2 * F.col("a") * F.col("su")
                    - 2 * F.col("b") * F.col("sxu")
                    + F.col("a") * F.col("a") * F.col("n_test")
                    + 2 * F.col("a") * F.col("b") * F.col("sx")
                    + F.col("b") * F.col("b") * F.col("sxx")
                )
                / F.col("n_test")
            )
        ).alias("rmse"),
    )


# --------------------------------------------------------------------
# ML13 — exact precision/recall threshold sweep (best-F1 operating
# point per segment)
# --------------------------------------------------------------------

_ML13_ORACLE = """
WITH v AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS bucket, value,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS pos,
         CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
           AS neg
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT bucket, value,
         sum(pos) OVER (PARTITION BY bucket ORDER BY value DESC
                        ROWS UNBOUNDED PRECEDING) AS tp,
         sum(neg) OVER (PARTITION BY bucket ORDER BY value DESC
                        ROWS UNBOUNDED PRECEDING) AS fp,
         sum(pos) OVER (PARTITION BY bucket) AS p
  FROM v
),
f AS (
  SELECT bucket, value, tp, fp, p - tp AS fn,
         floor(2.0 * tp / (tp + fp + p) * 1e4 + 0.5) / 1e4 AS f1
  FROM c WHERE p > 0
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY bucket
                               ORDER BY f1 DESC, value ASC) AS rn
  FROM f
)
SELECT bucket,
       floor(value * 1e4 + 0.5) / 1e4 AS threshold,
       tp, fp, fn,
       floor(CAST(tp AS DOUBLE) / (tp + fp) * 1e4 + 0.5) / 1e4
         AS precision_,
       floor(CAST(tp AS DOUBLE) / (tp + fn) * 1e4 + 0.5) / 1e4 AS recall,
       f1
FROM best WHERE rn = 1
"""


@query("ml13_best_f1_sweep", oracle=_ML13_ORACLE)
def ml13_best_f1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML13: the exact precision/recall threshold sweep — pick, per
    segment, the score cutoff that maximizes F1 (the operating-point
    verb next to ML11's threshold-free AUC: AUC says whether the
    scorer ranks well, ML13 says WHERE to cut it for deployment, with
    the confusion counts at that cut). Every distinct score value is a
    candidate threshold (predict positive at score ≥ v); ML11's
    compressed score-cell table makes the whole curve one descending
    cumulative window — tp/fp at every cut in a single pass, fn = P −
    tp — so the sweep costs the same as computing ONE confusion
    matrix. F1 = 2tp/(tp+fp+P) from exact BIGINTs, R4-rounded BEFORE
    the argmax with ties to the smallest threshold (ML1/ML4's
    R4-before-extremum discipline — an unrounded argmax could pick
    different cells per engine on an ulp straddle).

    Scale: ML11's profile exactly — one scan, (segment, value)
    partial/final agg, two shared-spec windows on the compressed cell
    table, argmax = one rank per segment. No join, no corpus re-scan.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.groupBy(
        (F.col("user_id") % 10).cast("long").alias("bucket"), "value"
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("pos"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias("neg"),
    )
    wcum = (
        Window.partitionBy("bucket")
        .orderBy(F.col("value").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("bucket")
    c = v.select(
        "bucket",
        "value",
        F.sum("pos").over(wcum).alias("tp"),
        F.sum("neg").over(wcum).alias("fp"),
        F.sum("pos").over(wall).alias("p"),
    ).filter(F.col("p") > 0)
    f = c.select(
        "bucket",
        "value",
        "tp",
        "fp",
        (F.col("p") - F.col("tp")).alias("fn"),
        R4(2.0 * F.col("tp") / (F.col("tp") + F.col("fp") + F.col("p")))
        .alias("f1"),
    )
    wbest = Window.partitionBy("bucket").orderBy(
        F.col("f1").desc(), F.col("value").asc()
    )
    return (
        f.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "bucket",
            R4(F.col("value")).alias("threshold"),
            "tp",
            "fp",
            "fn",
            R4(F.col("tp").cast("double") / (F.col("tp") + F.col("fp")))
            .alias("precision_"),
            R4(F.col("tp").cast("double") / (F.col("tp") + F.col("fn")))
            .alias("recall"),
            "f1",
        )
    )


# --------------------------------------------------------------------
# ML14 — calibration reliability diagram + expected calibration error
# --------------------------------------------------------------------

_ML14_ORACLE = """
WITH s AS (
  SELECT CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 10000 AS BIGINT) AS bp,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
b AS (
  SELECT bp // 1000 AS bin,
         CAST(count(*) AS BIGINT) AS n,
         sum(bp) AS sbp,
         CAST(sum(y) AS BIGINT) AS k
  FROM s GROUP BY 1
),
t AS (SELECT sum(n) AS nt FROM b)
SELECT bin, n, k,
       floor(sbp / CAST(n AS DOUBLE) / 1e4 * 1e4 + 0.5) / 1e4 AS conf,
       floor(k / CAST(n AS DOUBLE) * 1e4 + 0.5) / 1e4 AS acc,
       floor(abs(sbp / CAST(n AS DOUBLE) / 1e4
                 - k / CAST(n AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS gap,
       floor(sum(CAST(n AS DOUBLE) / nt
                 * abs(sbp / CAST(n AS DOUBLE) / 1e4
                       - k / CAST(n AS DOUBLE))) OVER ()
             * 1e4 + 0.5) / 1e4 AS ece
FROM b CROSS JOIN t
"""


@query("ml14_calibration_ece", oracle=_ML14_ORACLE)
def ml14_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML14: reliability diagram + expected calibration error — the
    operating-point verb ML11/ML13 still lacked: AUC ranks, F1 picks
    a cutoff, ML14 asks whether the SCORES MEAN what they say (a
    0.7-score bucket should convert 70% of the time). Ten equal-width
    score bins; per bin the mean predicted score (confidence), the
    empirical positive rate (accuracy), their gap, and the n-weighted
    ECE = Σ (n_b/N)·|acc_b − conf_b| repeated per row (the census IS
    the diagram; ECE is its headline number).

    The scored model is the A37/A38 determinism device: score basis
    points = md5(event_id) mod 10⁴ — a pinned, engine-identical score
    column standing in for any real model's output (the verb is
    model-agnostic; swap the expression for a model score column and
    nothing else changes). A hash score is uncalibrated BY
    CONSTRUCTION (conf sweeps 0.05→0.95, acc stays at the purchase
    base rate) — so the diagram shows the exact failure shape the
    verb exists to catch, and the expected-gap structure is itself a
    correctness check. Counts and score sums are exact integers; conf
    acc gap ece are single divisions R4.

    Scale: one scan → 10-cell partial/final agg; the ECE window runs
    over the 10-row cell table (TRAPS #17 cell escape), the total a
    broadcast scalar. Nothing after the first combine is corpus-sized.
    """
    s = load_table(spark, sf_dir, "events").select(
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % 10000
        ).alias("bp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = s.groupBy(F.expr("bp div 1000").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bp").alias("sbp"),
        F.sum("y").cast("long").alias("k"),
    )
    wall = Window.partitionBy()
    conf = F.col("sbp") / F.col("n").cast("double") / 1e4
    acc = F.col("k") / F.col("n").cast("double")
    return b.select(
        "bin",
        "n",
        "k",
        R4(conf).alias("conf"),
        R4(acc).alias("acc"),
        R4(F.abs(conf - acc)).alias("gap"),
        R4(
            F.sum(
                F.col("n").cast("double")
                / F.sum("n").over(wall)
                * F.abs(conf - acc)
            ).over(wall)
        ).alias("ece"),
    )


# --------------------------------------------------------------------
# ML15 — grouped OLS census ("many models" per-segment regression)
# --------------------------------------------------------------------

_ML15_ORACLE = """
WITH e AS (
  SELECT event_type AS g,
         CAST(extract(hour FROM ts) AS BIGINT) AS x,
         CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy,
         sum(x * x) AS sxx
  FROM e GROUP BY g
)
SELECT g AS segment, n,
       floor((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
             / 1e4 * 1e4 + 0.5) / 1e4 AS slope,
       floor((CAST(sy AS DOUBLE)
              - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * sx) / n / 1e4 * 1e4 + 0.5) / 1e4 AS intercept
FROM m
WHERE n >= 2 AND n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx > 0
"""


@query("ml15_grouped_ols_census", oracle=_ML15_ORACLE)
def ml15_grouped_ols_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML15: grouped OLS census — ONE regression PER SEGMENT in a
    single pass (the "many models" pattern: a 100 TB corpus rarely
    wants one global fit, it wants one per segment/tenant/source):
    per event type, slope and intercept of value-vs-hour-of-day from
    the closed-form normal equations over sufficient statistics
    (n, Σx, Σy, Σxy, Σx²). ML2 fits ONE model via the same algebra;
    ML12 cross-validates one; ML15 fans the device out to a model
    PER GROUP with zero extra passes — the per-key twin of W18's
    rolling slope (windows vs segments).

    Exactness: x = hour ∈ [0, 23] exact integer, y exact 1e-4 units;
    all five sufficient statistics are exact BIGINT sums (bounds: Σxy
    ≤ 23·5·10⁶·6·10⁵ ≈ 7·10¹³ at sf0.1 — int64 headroom through
    sf100, the A29 bound discipline); slope/intercept are single
    float expressions over exact integers, R4 in value units.
    Degenerate segments (n < 2 or zero x-variance) are guarded out
    (TRAPS #22).

    Scale: one scan → one partial/final agg to k segment rows; the
    model math runs ON the k-row cell table. A segment column with
    corpus-scale cardinality (per-user models) rides the same plan —
    the census stays one agg, models never join back to facts.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("g"),
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("y"),
    )
    m = e.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return m.filter((n >= 2) & (n * sxx - sx * sx > 0)).select(
        F.col("g").alias("segment"),
        "n",
        R4(slope / 1e4).alias("slope"),
        R4(intercept / 1e4).alias("intercept"),
    )


# --------------------------------------------------------------------
# DQ9 — candidate-key discovery (uniqueness census over audited columns)
# --------------------------------------------------------------------

# (table, column) pairs under audit — the dimension tables' plausible
# identifiers; extending the audit is adding a row here.
_DQ9_COLS = [
    ("customer", "c_custkey"),
    ("customer", "c_name"),
    ("customer", "c_nationkey"),
    ("customer", "c_mktsegment"),
    ("supplier", "s_suppkey"),
    ("supplier", "s_name"),
    ("part", "p_partkey"),
    ("part", "p_brand"),
    ("nation", "n_nationkey"),
    ("nation", "n_name"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
]

_DQ9_COL_SQL = """
  SELECT '{table}.{col}' AS column_id,
         (SELECT CAST(count(*) AS BIGINT) FROM {table}) AS n_rows,
         CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
         (SELECT CAST(count(*) AS BIGINT) FROM {table}
           WHERE {col} IS NULL) AS n_null,
         floor(count(DISTINCT {col})
               / CAST((SELECT count(*) FROM {table}) AS DOUBLE)
               * 1e4 + 0.5) / 1e4 AS uniqueness,
         count(DISTINCT {col}) = (SELECT count(*) FROM {table})
           AND (SELECT count(*) FROM {table} WHERE {col} IS NULL) = 0
           AS is_candidate_key
  FROM {table}
"""

_DQ9_ORACLE = "\nUNION ALL\n".join(
    _DQ9_COL_SQL.format(table=t, col=c) for (t, c) in _DQ9_COLS
)


@query("dq9_candidate_key_discovery", oracle=_DQ9_ORACLE)
def dq9_candidate_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ9: candidate-key discovery — which audited columns could
    serve as a primary key? One row per (table, column) under audit
    with exact distinct/null counts, the uniqueness ratio, and the
    candidate-key verdict (distinct = rows AND zero nulls). The
    profiling verb that FEEDS DQ6: referential integrity audits
    declared keys, DQ9 discovers whether the declaration holds —
    run it before trusting any join key, dedup key (L1), or merge
    key (S23). Composes with DQ3's shape profile (DQ3 = value
    distributions, DQ9 = identity structure).

    Null semantics pinned: COUNT(DISTINCT col) ignores NULLs in both
    engines, so a column of 1 500 rows with one NULL and 1 499
    distinct values shows uniqueness ≈ 0.9993 and fails the key test
    on the null clause, not the distinct clause — the two failure
    modes are separately visible (DQ6's three-valued-logic
    discipline).

    Scale: one census over the union of every audited table's
    ``(column_id, value)`` cells (``api.platform.key_cells``: one scan
    per table, an explode to one cell per audited column, the value a
    typed ``(bigint, string)`` pair), then ``api.platform.key_census``:
    ``groupBy(column_id, value)`` collapses equal values and
    ``groupBy(column_id)`` counts them. Two
    shuffles for the whole audit, however many tables or columns it
    covers, and no multi-distinct Expand per table. A column of an
    empty table still reports one row (zero counts, NULL uniqueness).
    """
    per_table: dict[str, list[str]] = {}
    for t, c in _DQ9_COLS:
        per_table.setdefault(t, []).append(c)
    cells = [
        api.platform.key_cells(load_table(spark, sf_dir, t), cols, t)
        for t, cols in per_table.items()
    ]
    out = api.platform.key_census(
        functools.reduce(DataFrame.unionAll, cells),
        [f"{t}.{c}" for t, c in _DQ9_COLS],
    )
    return out.withColumn("uniqueness", R4(F.col("uniqueness")))


# --------------------------------------------------------------------
# ML16 — average precision (PR-AUC) per segment, tie-stable
# --------------------------------------------------------------------

_ML16_ORACLE = """
WITH v AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS bucket, value,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS pos,
         CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
           AS neg
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT bucket, pos, neg,
         sum(pos) OVER (PARTITION BY bucket ORDER BY value DESC
                        ROWS UNBOUNDED PRECEDING) AS tp_end,
         sum(pos + neg) OVER (PARTITION BY bucket ORDER BY value DESC
                              ROWS UNBOUNDED PRECEDING) AS n_end
  FROM v
),
t AS (
  SELECT bucket,
         sum((2 * pos * tp_end * 100000000 + n_end) // (2 * n_end))
           AS ap_units,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(neg) AS BIGINT) AS n_neg
  FROM c GROUP BY bucket
)
SELECT bucket, n_pos, n_neg,
       floor(CAST(ap_units AS DOUBLE) / n_pos / 100000000 * 1e4 + 0.5)
         / 1e4 AS avg_precision
FROM t WHERE n_pos > 0
"""


@query("ml16_average_precision", oracle=_ML16_ORACLE)
def ml16_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML16: average precision (area under the precision–recall curve)
    per segment — ML11's ROC-AUC twin for the IMBALANCED regime: AUC
    stays near chance-insensitive when positives are rare, AP tracks
    the precision an alert queue actually experiences (the retrieval/
    anomaly-detection headline metric).

    Tie handling is pinned, not inherited: scores quantize into
    distinct-value BLOCKS (the ML11 cell device), each block
    contributes pos_block · precision-at-block-END — the
    deterministic pessimistic-within-block estimator (a tied block is
    scored as if its positives arrive last), immune to row-order
    nondeterminism that makes naive per-row AP unhashable across
    engines.

    Exactness: tp_end and n_end are exact BIGINT cumulative sums over
    cells; each block term quantizes to integer 1e-8 units via pure
    integer arithmetic — (2·pos·tp_end·1e8 + n_end) div (2·n_end) is
    floor(x+0.5) with zero float anywhere — so ap_units is an exact
    integer sum (order-free, the ML3/L37 device) and float appears
    only in the final export division. BIGINT headroom to ~10⁷ rows
    per segment (pos·tp_end·1e8); decimal(38,0) is the documented
    swap past that, same plan.

    Scale: ML11's profile verbatim — one scan, a (segment, value)
    partial/final agg, cumulative windows on the compressed cell
    table partitioned by segment, one re-aggregation: 1 scan, 2
    exchanges, no join.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.groupBy(
        (F.col("user_id") % 10).cast("long").alias("bucket"), "value"
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("pos"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias("neg"),
    )
    wc = (
        Window.partitionBy("bucket")
        .orderBy(F.col("value").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = v.select(
        "bucket",
        "pos",
        "neg",
        F.sum("pos").over(wc).alias("tp_end"),
        F.sum(F.col("pos") + F.col("neg")).over(wc).alias("n_end"),
    )
    t = c.groupBy("bucket").agg(
        F.sum(
            F.expr(
                "(2 * pos * tp_end * 100000000 + n_end) div (2 * n_end)"
            )
        ).alias("ap_units"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
    )
    return t.filter(F.col("n_pos") > 0).select(
        "bucket",
        "n_pos",
        "n_neg",
        R4(
            F.col("ap_units").cast("double") / F.col("n_pos") / 1e8
        ).alias("avg_precision"),
    )


# --------------------------------------------------------------------
# DQ10 — header/detail reconciliation audit (orders vs lineitem)
# --------------------------------------------------------------------

_DQ10_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
           AS recomputed_u
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o.o_orderstatus AS status,
         CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 10000
           AS book_u,
         li.recomputed_u
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE recomputed_u IS NULL) AS BIGINT)
         AS n_no_detail,
       CAST(count(*) FILTER (WHERE recomputed_u = book_u) AS BIGINT)
         AS n_reconciled,
       CAST(count(*) FILTER (WHERE recomputed_u IS NOT NULL
                               AND recomputed_u <> book_u) AS BIGINT)
         AS n_mismatch,
       floor(sum(book_u) / 1e6 * 1e4 + 0.5) / 1e4 AS book_total,
       floor(sum(recomputed_u) / 1e6 * 1e4 + 0.5) / 1e4
         AS recomputed_total,
       floor(max(abs(recomputed_u - book_u)) / 1e6 * 1e4 + 0.5) / 1e4
         AS max_abs_delta
FROM j GROUP BY status
"""


@query("dq10_order_reconciliation", oracle=_DQ10_ORACLE)
def dq10_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ10: header/detail reconciliation — does each order's booked
    total equal the total recomputed from its lines at
    Σ extendedprice·(1+tax)·(1−discount)? The cross-table AUDIT the
    DQ family lacked: DQ6 checks keys EXIST, DQ10 checks the money
    AGREES — the first report a finance/billing pipeline runs, and
    (on this synthetic corpus) a census that pins the honest answer:
    totals were generated independently of lines, so every detailed
    order mismatches and 257 orders have no lines at all. The census
    reports both classes instead of asserting an equality the data
    doesn't hold.

    Exactness: money is EXACT INTEGERS end-to-end — each 2-dp factor
    scales to integer cents (floor(x·100+0.5)), the per-line product
    ep_c·(100+tax_c)·(100−disc_c) is an exact integer in 1e-6-dollar
    units, book totals scale to the same units, and every
    comparison/delta/aggregate is integer arithmetic; floats appear
    only in the four R4 dollar exports. BIGINT headroom: ~1.2e11 per
    line, ~9e18 total at ~10⁷ lines/status — decimal(38,0) is the
    documented swap past that.

    Scale: one lineitem scan → partial/final agg on l_orderkey (the
    natural key, no skew), one equi-join to orders (AQE picks the
    strategy), one partial/final agg to |status| census rows. No
    window, no driver state.
    """
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            * (100 + F.floor(F.col("l_tax") * 100 + F.lit(0.5)).cast("long"))
            * (
                100
                - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
            )
        ).alias("recomputed_u")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("status"),
        (
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            * 10000
        ).alias("book_u"),
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    d = F.col("recomputed_u") - F.col("book_u")
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("recomputed_u").isNull(), 1)).alias(
            "n_no_detail"
        ),
        F.count(F.when(F.col("recomputed_u") == F.col("book_u"), 1)).alias(
            "n_reconciled"
        ),
        F.count(
            F.when(
                F.col("recomputed_u").isNotNull()
                & (F.col("recomputed_u") != F.col("book_u")),
                1,
            )
        ).alias("n_mismatch"),
        R4(F.sum("book_u") / 1e6).alias("book_total"),
        R4(F.sum("recomputed_u") / 1e6).alias("recomputed_total"),
        R4(F.max(F.abs(d)) / 1e6).alias("max_abs_delta"),
    )


# --------------------------------------------------------------------
# L47 — pairwise Jensen–Shannon divergence between sources
# --------------------------------------------------------------------

_L47_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
ns AS (SELECT source, sum(c) AS n FROM tf GROUP BY 1),
g AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM toks),
pr AS (
  SELECT a.source AS sa, b.source AS sb,
         a.n + g.v AS na, b.n + g.v AS nb, g.v AS v
  FROM ns a, ns b, g WHERE a.source < b.source
),
uni AS (
  SELECT pr.sa, pr.sb, pr.na, pr.nb, pr.v, t.token,
         sum(CASE WHEN t.source = pr.sa THEN t.c ELSE 0 END) AS ca,
         sum(CASE WHEN t.source = pr.sb THEN t.c ELSE 0 END) AS cb
  FROM tf t JOIN pr ON t.source = pr.sa OR t.source = pr.sb
  GROUP BY 1, 2, 3, 4, 5, 6
),
term AS (
  SELECT sa, sb, na, nb, v,
         CAST(count(*) AS BIGINT) AS u_cnt,
         sum((ca + 1) * (6931
              + CAST(floor(ln(ca + 1.0) * 1e4 + 0.5) AS BIGINT)
              + CAST(floor(ln(CAST(nb AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
              - CAST(floor(ln(CAST((ca + 1) * nb + (cb + 1) * na AS DOUBLE))
                           * 1e4 + 0.5) AS BIGINT))) AS p_pres,
         sum((cb + 1) * (6931
              + CAST(floor(ln(cb + 1.0) * 1e4 + 0.5) AS BIGINT)
              + CAST(floor(ln(CAST(na AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
              - CAST(floor(ln(CAST((ca + 1) * nb + (cb + 1) * na AS DOUBLE))
                           * 1e4 + 0.5) AS BIGINT))) AS q_pres
  FROM uni GROUP BY 1, 2, 3, 4, 5
),
kl AS (
  SELECT sa, sb, u_cnt,
         (p_pres + (v - u_cnt)
            * (6931
               + CAST(floor(ln(CAST(nb AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
               - CAST(floor(ln(CAST(na + nb AS DOUBLE)) * 1e4 + 0.5)
                      AS BIGINT)))
           / (na * 1e4) AS kl_pm,
         (q_pres + (v - u_cnt)
            * (6931
               + CAST(floor(ln(CAST(na AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)
               - CAST(floor(ln(CAST(na + nb AS DOUBLE)) * 1e4 + 0.5)
                      AS BIGINT)))
           / (nb * 1e4) AS kl_qm
  FROM term
)
SELECT sa AS source_a, sb AS source_b, u_cnt AS n_union_tokens,
       floor(kl_pm * 1e4 + 0.5) / 1e4 AS kl_pm,
       floor(kl_qm * 1e4 + 0.5) / 1e4 AS kl_qm,
       floor((kl_pm + kl_qm) / 2 * 1e4 + 0.5) / 1e4 AS jsd
FROM kl
"""


@query("l47_source_jsd", oracle=_L47_ORACLE)
def l47_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L47: pairwise Jensen–Shannon divergence between source token
    distributions — the SYMMETRIC, bounded (≤ ln 2) distance the
    mixing tier lacked: L37 measures each source against the corpus
    blend (asymmetric KL, unbounded), L39 measures n-gram SET overlap
    (membership, not mass); L47 is the source-vs-source
    DISTRIBUTIONAL distance matrix behind "collapse these two crawls,
    they're the same thing" / "keep both, they're complementary"
    mixture decisions (and the standard corpus-similarity metric in
    data-mixture papers precisely because it's symmetric and finite).

    JSD(p,q) = ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2, both Laplace-
    smoothed over the shared vocab V. Exactness — L37's integer
    micro-log device survives the MIXTURE log because every argument
    stays integral: ln(2p/(p+q)) = ln2 + ln(ca+1) + ln(nb′) − ln(D)
    with D = (ca+1)·nb′ + (cb+1)·na′ an exact BIGINT (na′ = na+V), so
    each present-token term is (ca+1)·[integer log units] and the two
    divergence numerators are exact BIGINT sums; tokens absent from
    BOTH sources share one closed-form constant term (weight 1,
    D = na′+nb′) applied (V − |union|) times — the table never
    densifies to pairs×V. ln2 is pinned as the literal 6931 units on
    both engines. Float appears only in the final divisions, R4.

    Scale: the pair matrix is k(k−1)/2 for k sources — k is a
    CURATED, bounded set (20 here), so the honest cost is tf
    replicated ~k times through a broadcast pair join, NOT a corpus
    blowup; per-pair union rows shuffle on (pair, token). The oracle
    uses an OR-join (quadratic, oracle-side only — the L9
    precedent); the engine side is two equi-joins + one union.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    ns = tf.groupBy("source").agg(F.sum("c").alias("n"))
    v = toks.agg(F.countDistinct("token").alias("v"))
    a, b = ns.alias("a"), ns.alias("b")
    pr = (
        a.crossJoin(b)
        .filter(F.col("a.source") < F.col("b.source"))
        .crossJoin(F.broadcast(v))
        .select(
            F.col("a.source").alias("sa"),
            F.col("b.source").alias("sb"),
            (F.col("a.n") + F.col("v")).alias("na"),
            (F.col("b.n") + F.col("v")).alias("nb"),
            "v",
        )
    )
    e1 = tf.join(F.broadcast(pr), tf.source == F.col("sa")).select(
        "sa", "sb", "token", F.col("c").alias("ca"), F.lit(0).alias("cb")
    )
    e2 = tf.join(F.broadcast(pr), tf.source == F.col("sb")).select(
        "sa", "sb", "token", F.lit(0).alias("ca"), F.col("c").alias("cb")
    )
    uni = (
        e1.unionByName(e2)
        .groupBy("sa", "sb", "token")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
        .join(F.broadcast(pr), ["sa", "sb"])
    )
    d = (F.col("ca") + 1) * F.col("nb") + (F.col("cb") + 1) * F.col("na")
    term = uni.groupBy("sa", "sb", "na", "nb", "v").agg(
        F.count(F.lit(1)).alias("u_cnt"),
        F.sum(
            (F.col("ca") + 1)
            * (
                F.lit(6931)
                + LOGU(F.col("ca") + 1)
                + LOGU(F.col("nb"))
                - LOGU(d)
            )
        ).alias("p_pres"),
        F.sum(
            (F.col("cb") + 1)
            * (
                F.lit(6931)
                + LOGU(F.col("cb") + 1)
                + LOGU(F.col("na"))
                - LOGU(d)
            )
        ).alias("q_pres"),
    )
    absent = F.col("v") - F.col("u_cnt")
    kl_pm = (
        F.col("p_pres")
        + absent * (F.lit(6931) + LOGU(F.col("nb")) - LOGU(F.col("na") + F.col("nb")))
    ) / (F.col("na") * 1e4)
    kl_qm = (
        F.col("q_pres")
        + absent * (F.lit(6931) + LOGU(F.col("na")) - LOGU(F.col("na") + F.col("nb")))
    ) / (F.col("nb") * 1e4)
    return term.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("u_cnt").alias("n_union_tokens"),
        R4(kl_pm).alias("kl_pm"),
        R4(kl_qm).alias("kl_qm"),
        R4((kl_pm + kl_qm) / 2).alias("jsd"),
    )


# --------------------------------------------------------------------
# ML17 — chi-square feature selection (token × class)
# --------------------------------------------------------------------

_ML17_ORACLE = """
WITH td AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
cls AS (SELECT doc_id, lang FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
nc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_class
       FROM documents GROUP BY lang),
a AS (
  SELECT td.token, cls.lang, CAST(count(*) AS BIGINT) AS a
  FROM td JOIN cls USING (doc_id)
  GROUP BY 1, 2
),
dft AS (SELECT token, sum(a) AS df FROM a GROUP BY token),
x AS (
  SELECT a.token, a.lang, a.a,
         dft.df - a.a AS b,
         nc.n_class - a.a AS c,
         n.n_docs - dft.df - nc.n_class + a.a AS d,
         dft.df, nc.n_class, n.n_docs
  FROM a JOIN dft USING (token) JOIN nc USING (lang) CROSS JOIN n
)
SELECT token, lang, a AS n_docs_with,
       floor(CAST(n_docs AS DOUBLE)
             * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
             * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
             / (CAST(df AS DOUBLE) * (n_docs - df)
                * n_class * (n_docs - n_class))
             * 1e4 + 0.5) / 1e4 AS chi2
FROM x
WHERE df > 0 AND df < n_docs AND n_class > 0 AND n_class < n_docs
"""


@query("ml17_chi2_feature_selection", oracle=_ML17_ORACLE)
def ml17_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML17: χ² feature selection — which tokens are DISCRIMINATIVE
    for which language? The feature-ranking verb between the text
    tier and the ML tier: ML3's naive Bayes consumes all tokens; χ²
    ranks them first (drop tokens independent of the class, keep the
    discriminators). Presence/absence contingency per (token, class),
    χ² = N(AD−BC)²/((A+B)(C+D)(A+C)(B+D)) over exact distinct-doc
    counts; degenerate margins are excluded on both sides (TRAPS #22).
    """
    docs = load_table(spark, sf_dir, "documents")
    return api.chi2_feature_selection(docs, "doc_id", "text", "lang").select(
        "token",
        F.col("class").alias("lang"),
        "n_docs_with",
        R4(F.col("chi2")).alias("chi2"),
    )


# --------------------------------------------------------------------
# DQ11 — double-fire audit (near-duplicate event detection)
# --------------------------------------------------------------------

_DQ11_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) // 60000000 AS m
  FROM events
),
cand AS (
  SELECT a.event_id AS ea, b.event_id AS eb, a.event_type
  FROM e a JOIN e b
    ON b.user_id = a.user_id AND b.event_type = a.event_type
   AND b.m - a.m IN (0, 1) AND b.event_id > a.event_id
),
dup AS (
  SELECT DISTINCT event_type, eb AS dup_id FROM cand
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(dup.dup_id) AS BIGINT) AS n_suspect,
       floor(CAST(count(dup.dup_id) AS DOUBLE) / count(*) * 1e4 + 0.5)
         / 1e4 AS suspect_rate
FROM e LEFT JOIN dup
  ON dup.event_type = e.event_type AND dup.dup_id = e.event_id
GROUP BY e.event_type
"""


@query("dq11_double_fire_audit", oracle=_DQ11_ORACLE)
def dq11_double_fire_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ11: double-fire audit — events that repeat the SAME (user,
    type) retry key within ~a minute are retry artifacts (webhook
    double-delivery, client resubmit, at-least-once ingestion), the
    highest-frequency real-world data bug the DQ tier didn't cover:
    DQ6 checks keys exist, DQ10 checks money reconciles, DQ11 checks
    events aren't COUNTED TWICE. The later event of a matching pair
    is the suspect (the first is presumed legitimate); the census
    reports suspect counts and rates per stream.

    Semantics pinned: the retry key is (user, type) ONLY — value
    does NOT participate (r9 advice fix: the docstring previously
    claimed a cent-quantized value key the join never had; a
    value-keyed variant would be the generic facade with an extra
    key_col). Candidate pairs match the key with the later event in
    the same or the NEXT minute bucket (the D3/D12 two-bucket
    device: a Δ≤1-bucket window needs only adjacent-bucket probes,
    never a full range self-join — boundary-straddling pairs are
    caught by the +1 bucket). Suspects are DISTINCT-ed so an event
    double-counted by two earlier twins flags once. Exact integers
    end-to-end; one float rate at export.

    Scale: the self-join keys on (user, type, bucket) — high
    cardinality, uniform, and the equi-join prunes to same-key
    collisions only (no band join, no window over the corpus); the
    census is one partial/final agg. At 100 TB this is the shape of
    every idempotency audit: bucket-bounded equi-join + distinct.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_timestamp(ts) div 60").alias("m"),
    )
    a = e.alias("a")
    b = e.alias("b")
    cand = a.join(
        b,
        (F.col("b.user_id") == F.col("a.user_id"))
        & (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.m") - F.col("a.m")).isin(0, 1)
        & (F.col("b.event_id") > F.col("a.event_id")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("b.event_id").alias("dup_id"),
    )
    dup = cand.distinct()
    j = e.join(
        dup,
        (dup.event_type == e.event_type) & (dup.dup_id == e.event_id),
        "left",
    )
    return j.groupBy(e.event_type).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.col("dup_id")).alias("n_suspect"),
        R4(
            F.count(F.col("dup_id")).cast("double") / F.count(F.lit(1))
        ).alias("suspect_rate"),
    )


# --------------------------------------------------------------------
# ML18 — cumulative gains / lift table (decile ranking report)
# --------------------------------------------------------------------

_ML18_ORACLE = """
WITH v AS (
  SELECT value,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS pos,
         CAST(count(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
           AS neg
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
c AS (
  SELECT pos, neg,
         sum(pos + neg) OVER (ORDER BY value DESC
                              ROWS UNBOUNDED PRECEDING)
           - (pos + neg) AS cb,
         sum(pos) OVER () AS tp,
         sum(pos + neg) OVER () AS tn
  FROM v
),
d AS (
  SELECT 10 * cb // tn AS decile, pos, neg, tp, tn
  FROM c
),
g AS (
  SELECT decile, CAST(any_value(tp) AS BIGINT) AS tp,
         CAST(sum(pos + neg) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM d GROUP BY decile
),
cum AS (
  SELECT decile, n, n_pos, tp,
         sum(n_pos) OVER (ORDER BY decile
                          ROWS UNBOUNDED PRECEDING) AS cum_pos,
         sum(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_n,
         sum(n) OVER () AS tot_n
  FROM g
)
SELECT decile, n, n_pos,
       floor(CAST(cum_pos AS DOUBLE) / tp * 1e4 + 0.5) / 1e4
         AS cum_capture,
       floor((CAST(cum_pos AS DOUBLE) / tp)
             / (CAST(cum_n AS DOUBLE) / tot_n) * 1e4 + 0.5) / 1e4
         AS cum_lift
FROM cum WHERE tp > 0
"""


@query("ml18_gains_table", oracle=_ML18_ORACLE)
def ml18_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML18: cumulative gains / lift table — the campaign-targeting
    readout beside ML11's AUC and ML16's AP: rank the population by
    score, cut into deciles, report what fraction of all positives
    the top-k deciles CAPTURE and the lift over random targeting —
    the table a marketing/collections team actually reads ("mail the
    top 3 deciles, get 52% of responders at 1.7× lift").

    Tie handling pinned: scores collapse to distinct-value cells
    (the ML11 device); a cell's decile is its STARTING cumulative
    rank's decile (10·cum_before div N — pure INTEGER division on
    both engines: a CAST-of-true-division would floor on Spark and
    ROUND half-even on DuckDB, silently shifting every boundary —
    caught live), so a tied block never splits across engines. Cum captures/lifts are
    rationals of exact BIGINTs, one float division each, R4.

    Scale: one scan → (value) cell agg; the ranking window runs over
    DISTINCT quantized scores (domain-bounded — ml4/a45's audited
    sweep class), then a ≤10-row decile table carries the cumulative
    report. No join against the fact.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("pos"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias("neg"),
    )
    wdesc = (
        Window.orderBy(F.col("value").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    t = F.col("pos") + F.col("neg")
    c = v.select(
        "pos",
        "neg",
        (F.sum(t).over(wdesc) - t).alias("cb"),
        F.sum("pos").over(wall).alias("tp"),
        F.sum(t).over(wall).alias("tn"),
    )
    d = c.select(
        F.expr("(10 * cb) div tn").alias("decile"),
        "pos",
        "neg",
        "tp",
    )
    g = d.groupBy("decile").agg(
        F.any_value("tp").alias("tp"),
        F.sum(F.col("pos") + F.col("neg")).alias("n"),
        F.sum("pos").alias("n_pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = g.select(
        "decile",
        "n",
        "n_pos",
        "tp",
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(Window.partitionBy()).alias("tot_n"),
    )
    return cum.filter(F.col("tp") > 0).select(
        "decile",
        "n",
        "n_pos",
        R4(F.col("cum_pos").cast("double") / F.col("tp")).alias(
            "cum_capture"
        ),
        R4(
            (F.col("cum_pos").cast("double") / F.col("tp"))
            / (F.col("cum_n").cast("double") / F.col("tot_n"))
        ).alias("cum_lift"),
    )


# --------------------------------------------------------------------
# ML19 — Cohen's kappa (tag-vs-prediction chance-corrected agreement)
# --------------------------------------------------------------------

_ML19_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents
),
scored AS (
  SELECT doc_id, any_value(lang) AS lt,
         count(*) FILTER (WHERE token IN
           ('the','and','of','to','in','is','that')) AS en_hits,
         count(*) FILTER (WHERE token IN
           ('el','la','de','que','y','en','los')) AS es_hits,
         count(*) FILTER (WHERE token IN
           ('der','die','und','das','ist','von','den')) AS de_hits,
         count(*) FILTER (WHERE token IN
           ('le','la','de','et','les','des','un')) AS fr_hits
  FROM tok GROUP BY doc_id
),
pred AS (
  SELECT lt,
         CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0
                THEN 'und'
              WHEN en_hits >= greatest(es_hits, de_hits, fr_hits)
                THEN 'en'
              WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
              WHEN de_hits >= fr_hits THEN 'de'
              ELSE 'fr' END AS lp
  FROM scored
),
cell AS (
  SELECT lt, lp, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
),
rt AS (SELECT lt AS cat, sum(n) AS r FROM cell GROUP BY 1),
ct AS (SELECT lp AS cat, sum(n) AS c FROM cell GROUP BY 1),
m AS (
  SELECT coalesce(rt.cat, ct.cat) AS cat,
         coalesce(r, 0) AS r, coalesce(c, 0) AS c
  FROM rt FULL OUTER JOIN ct ON rt.cat = ct.cat
),
tot AS (
  SELECT (SELECT sum(n) FROM cell) AS n,
         (SELECT sum(n) FROM cell WHERE lt = lp) AS agree,
         (SELECT sum(r * c) FROM m) AS pe_num
)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS n_agree,
       floor(CAST(agree AS DOUBLE) / n * 1e4 + 0.5) / 1e4 AS po,
       floor(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n) * 1e4 + 0.5)
         / 1e4 AS pe,
       floor((CAST(agree AS DOUBLE) / n
              - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))
             / (1 - CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n))
             * 1e4 + 0.5) / 1e4 AS kappa
FROM tot
WHERE CAST(pe_num AS DOUBLE) < CAST(n AS DOUBLE) * n
"""


@query("ml19_cohens_kappa", oracle=_ML19_ORACLE)
def ml19_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML19: Cohen's κ between the corpus's DECLARED language tag and
    L6c's stopword-vote prediction — the chance-corrected scalar that
    L45's confusion matrix lacks: raw agreement (pₒ) flatters any
    predictor when one class dominates; κ = (pₒ − pₑ)/(1 − pₑ)
    discounts the agreement two independent raters would reach by
    marginal chance (pₑ = Σ row·col / n²). The standard inter-rater
    metric for "can we trust the metadata tag" decisions — κ near 0
    here is the honest readout on this synthetic corpus (shared
    31-token vocab ⇒ the stopword vote predicts 'en'/'und'
    regardless of tag, exactly what L45's cells show in detail).

    Exactness: confusion cells and both marginal vectors are exact
    BIGINTs over the pinned deterministic predictor (tie order en ≥
    es ≥ de ≥ fr, zero hits ⇒ 'und' — L45's CASE verbatim); pₒ, pₑ
    and κ are single float expressions over them, R4; κ undefined at
    pₑ = 1 excluded (TRAPS #22).

    Scale: one scan → per-doc conditional agg → |langs|² cells;
    marginals re-aggregate the CELL table (TRAPS #19); the final
    fold is over ≤36 cells. No window over corpus rows.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    hits = lambda ws: F.count(F.when(F.col("token").isin(*ws), 1))  # noqa: E731
    # lang rides as a group key (functionally dependent on doc_id) —
    # a string any_value() buffer forces SortAggregate over the
    # exploded token table (r12 optimization; same rows)
    scored = toks.groupBy("doc_id", F.col("lang").alias("lt")).agg(
        hits(["the", "and", "of", "to", "in", "is", "that"]).alias("en_h"),
        hits(["el", "la", "de", "que", "y", "en", "los"]).alias("es_h"),
        hits(["der", "die", "und", "das", "ist", "von", "den"]).alias(
            "de_h"
        ),
        hits(["le", "la", "de", "et", "les", "des", "un"]).alias("fr_h"),
    )
    mx = F.greatest("en_h", "es_h", "de_h", "fr_h")
    pred = scored.select(
        "lt",
        F.when(mx == 0, "und")
        .when(F.col("en_h") >= F.greatest("es_h", "de_h", "fr_h"), "en")
        .when(F.col("es_h") >= F.greatest("de_h", "fr_h"), "es")
        .when(F.col("de_h") >= F.col("fr_h"), "de")
        .otherwise("fr")
        .alias("lp"),
    )
    cell = pred.groupBy("lt", "lp").agg(F.count(F.lit(1)).alias("n"))
    rt = cell.groupBy(F.col("lt").alias("cat")).agg(F.sum("n").alias("r"))
    ct = cell.groupBy(F.col("lp").alias("cat")).agg(F.sum("n").alias("c"))
    m = rt.join(ct, "cat", "full_outer").select(
        F.coalesce("r", F.lit(0)).alias("r"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    tot = (
        cell.agg(
            F.sum("n").alias("n"),
            F.sum(F.when(F.col("lt") == F.col("lp"), F.col("n"))).alias(
                "agree"
            ),
        )
        .crossJoin(
            F.broadcast(m.agg(F.sum(F.col("r") * F.col("c")).alias("pe_num")))
        )
    )
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pe = F.col("pe_num").cast("double") / (n * n)
    return tot.filter(F.col("pe_num").cast("double") < n * n).select(
        F.col("n").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        R4(po).alias("po"),
        R4(pe).alias("pe"),
        R4((po - pe) / (1 - pe)).alias("kappa"),
    )


# --------------------------------------------------------------------
# ML20 — NDCG@5 of the BM25 retrieval (graded ranking quality)
# --------------------------------------------------------------------

# floor(1e8 / log2(rank+1) + 0.5), rank = 1..5 — pinned integer DCG
# weights shared verbatim by both engines (the micro-units device
# applied to the one transcendental the metric needs)
_DCG_W = [100000000, 63092975, 50000000, 43067656, 38685281]


def _ml20_oracle() -> str:
    from lightcurator_spark.operators.text_analysis import (
        _BM25_QUERY_TERMS,
        _L40_ORACLE,
    )

    qt_vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERY_TERMS)
    w_vals = ", ".join(f"({i + 1}, {w})" for i, w in enumerate(_DCG_W))
    return f"""
WITH ranked AS ({_L40_ORACLE}),
qt(query_id, term) AS (VALUES {qt_vals}),
w(rn, wu) AS (VALUES {w_vals}),
dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
rel AS (
  SELECT qt.query_id, dt.doc_id,
         CAST(count(DISTINCT qt.term) AS BIGINT) AS rel
  FROM qt JOIN dt ON dt.token = qt.term
  GROUP BY 1, 2
),
dcg AS (
  SELECT r.query_id,
         sum(coalesce(rel.rel, 0) * w.wu) AS dcg_units
  FROM ranked r
  JOIN w ON w.rn = r.rn
  LEFT JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
  GROUP BY 1
),
ideal AS (
  SELECT query_id, rel,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, doc_id) AS rn
  FROM rel
),
idcg AS (
  SELECT i.query_id, sum(i.rel * w.wu) AS idcg_units
  FROM ideal i JOIN w ON w.rn = i.rn
  WHERE i.rn <= 5
  GROUP BY 1
)
SELECT d.query_id,
       CAST(d.dcg_units AS BIGINT) AS dcg_units,
       CAST(i.idcg_units AS BIGINT) AS idcg_units,
       floor(CAST(d.dcg_units AS DOUBLE) / i.idcg_units * 1e4 + 0.5) / 1e4
         AS ndcg_at_5
FROM dcg d JOIN idcg i USING (query_id)
WHERE i.idcg_units > 0
"""


@query("ml20_ndcg_at_k", oracle=_ml20_oracle())
def ml20_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML20: NDCG@5 of L40's BM25 ranking — the GRADED ranking metric
    completing the evaluation tier (ML11 ranks a binary scorer, ML16
    its imbalanced twin, ML18 its decile report; retrieval quality
    needs graded relevance and rank discounting, and NDCG is the
    metric IR leaderboards actually publish). Relevance is pinned and
    label-free: rel(q, d) = number of the query's DISTINCT terms
    present in the doc (0..|terms|) — the deterministic lexical
    grade a decontamination pipeline can compute at corpus scale
    without human labels; ideal ranking sorts by (rel DESC, doc_id).

    Exactness: the 1/log₂(rank+1) discounts are the ONLY
    transcendental and are pinned as five shared integer 1e-8-unit
    literals (the micro-units device applied to constants), so
    DCG/IDCG are exact BIGINT sums over integer grades; float enters
    at the single export division, R4.

    Scale: L40's retrieval plan (token-keyed tf/df shuffles) + one
    distinct-presence join for grades + two ≤(queries×5)-row
    aggregations; the ideal ranking windows over per-query RELEVANT
    docs only (term-postings-bounded, never the corpus).
    """
    from lightcurator_spark.operators.text_analysis import (
        _BM25_QUERY_TERMS,
        l40_bm25_retrieval,
    )

    ranked = l40_bm25_retrieval(spark, sf_dir)
    qt = spark.createDataFrame(
        _BM25_QUERY_TERMS, "query_id int, term string"
    )
    w = spark.createDataFrame(
        [(i + 1, wu) for i, wu in enumerate(_DCG_W)], "rn int, wu long"
    )
    dt = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    rel = (
        dt.join(F.broadcast(qt), dt.token == qt.term)
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("rel"))
    )
    dcg = (
        ranked.join(F.broadcast(w), "rn")
        .join(
            rel.withColumnsRenamed(
                {"query_id": "rq", "doc_id": "rd"}
            ),
            (F.col("query_id") == F.col("rq"))
            & (F.col("doc_id") == F.col("rd")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("rel"), F.lit(0)) * F.col("wu")).alias(
                "dcg_units"
            )
        )
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), "doc_id"
    )
    idcg = (
        rel.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= 5)
        .join(F.broadcast(w), "rn")
        .groupBy("query_id")
        .agg(F.sum(F.col("rel") * F.col("wu")).alias("idcg_units"))
    )
    return (
        dcg.join(idcg, "query_id")
        .filter(F.col("idcg_units") > 0)
        .select(
            "query_id",
            "dcg_units",
            "idcg_units",
            R4(
                F.col("dcg_units").cast("double") / F.col("idcg_units")
            ).alias("ndcg_at_5"),
        )
    )


_DQ12_ORACLE = """
WITH rows_ AS (
  SELECT event_type,
         ((CAST(event_id AS BIGINT) * 2654435761
           + CAST(user_id AS BIGINT) * 40503
           + CAST(floor(value * 10000 + 0.5) AS BIGINT) * 2246822519)
          % 2305843009213693951
          + 2305843009213693951) % 2305843009213693951 AS lin
  FROM events
), hashed AS (
  SELECT event_type,
         (CAST(lin AS HUGEINT) * CAST(lin AS HUGEINT))
           % 2305843009213693951 AS h
  FROM rows_
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h) % 2305843009213693951 AS BIGINT) AS fingerprint
FROM hashed GROUP BY event_type
"""


_DQ12_M = 2_305_843_009_213_693_951  # 2^61 - 1 (Mersenne prime)


def dq12_fingerprint(df: DataFrame, segment: str = "event_type") -> DataFrame:
    """The DQ12 fingerprint kernel, factored out so the property tests
    can drive it over constructed tables. Expects integer columns
    ``event_id, user_id, value_u`` plus the segment column.

    Per row: ``lin = (a·eid + b·uid + c·val) mod M`` (positive), then
    the NONLINEAR mix ``h = lin² mod M``. Squaring introduces the
    cross terms ``2ab·eid·uid + 2ac·eid·val + 2bc·uid·val`` that
    couple the columns WITHIN a row, so the commutative sum of row
    hashes depends on the row-level alignment of column values — not
    merely on per-column sums, the r11-confirmed defect of the linear
    form (cross-row value swaps and compensating ±1 tampers collided
    with probability 1; see tests/test_dq12_fingerprint.py for the
    pinned counterexamples).

    Exactness: ``lin < 2^61`` needs 19 digits, so ``lin²`` (< 2^122 ≈
    5.3e36) is computed in decimal(38,0) — exact on Spark, HUGEINT on
    DuckDB, no engine divergence. The per-segment SUM also accumulates
    in decimal(38,0): summing 2^61-magnitude hashes in a 64-bit long
    silently wraps past ~2^2 rows of headroom ×2^61 (non-ANSI) or
    throws (ANSI); decimal(38,0) is exact to ~4e19 rows per segment
    (r11 ADVICE medium item).
    """
    lin = (
        (
            F.col("event_id") * F.lit(2_654_435_761)
            + F.col("user_id") * F.lit(40_503)
            + F.col("value_u") * F.lit(2_246_822_519)
        )
        % _DQ12_M
        + _DQ12_M
    ) % _DQ12_M
    lin_d = lin.cast("decimal(38,0)")
    h = (lin_d * lin_d) % F.lit(_DQ12_M).cast("decimal(38,0)")
    return df.groupBy(segment).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(h) % _DQ12_M).cast("long").alias("fingerprint"),
    )


@query(
    "dq12_table_fingerprint",
    eager="fingerprints demo TxLogTables and their clone, and checks them with collects",
    oracle=_DQ12_ORACLE,
    note="the hashed result is the per-segment order-invariant table "
    "fingerprint (NONLINEAR row hashes — square of the mixed integer "
    "combination mod the Mersenne prime 2^61−1 — summed exactly in "
    "decimal(38,0); pure integer arithmetic on both engines); the "
    "query ALSO round-trips the table through a txlog clone and "
    "asserts invariance, plus 1-row / cross-row-swap / compensating "
    "±1 tampers each CHANGE the print — the misalignment classes the "
    "r11 linear form provably missed",
)
def dq12_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ12: order-invariant table fingerprint — the
    migration/replication verification verb: after any copy (a txlog
    clone, a cross-region replication, an engine migration), prove
    the two tables hold the SAME ROWS without collecting or sorting
    either side. Each row maps to an integer hash — the SQUARE of a
    Knuth/LCG polynomial over its integer-normalized columns, mod the
    Mersenne prime 2^61−1 — and the fingerprint is the SUM of row
    hashes mod the same prime: addition is commutative and
    associative, so partition count, row order, and merge order
    provably cannot move it; two tables agree on (count, fingerprint)
    per segment iff (up to hash collision) they hold identical
    multisets. The square is load-bearing: a LINEAR row hash makes
    the sum a function of per-column SUMS alone, so cross-row value
    swaps and compensating +1/−1 tampers — exactly the
    join-misalignment replication bugs this verb exists to catch —
    collide with probability 1 (the r11 verdict's live repro).
    Squaring couples the columns within each row via cross terms, so
    those tampers move the print (asserted live below and pinned in
    tests/test_dq12_fingerprint.py). This is content verification
    where DQ10 reconciles BUSINESS sums.

    Demonstrated live in-query: the events corpus is committed to a
    txlog table and cloned zero-copy; the clone's fingerprint is
    asserted equal to the source's per segment (the clone carries the
    same bytes), and three tamper classes on further copies — a 1-row
    +1, a cross-row value SWAP (column sums unchanged), and a
    compensating +1/−1 pair (column sums unchanged) — are each
    asserted to CHANGE the fingerprint.

    Scale: one scan → partial/final decimal sums per segment; the
    comparison exchanges (segments × 16 bytes) between sites — the
    cheapest possible cross-cluster equality proof at 100 TB. The
    decimal(38,0) accumulator keeps the sum exact to ~4e19 rows per
    segment, where a BIGINT sum wraps almost immediately at these
    hash magnitudes.
    """
    import shutil

    from lightcurator_spark.sources.txlog import TxLogTable, clone_from

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("value_u"),
    )
    fingerprint = dq12_fingerprint

    base = os.path.join(_SCRATCH_DQ12, "src")
    shutil.rmtree(os.path.dirname(base), ignore_errors=True)
    t = TxLogTable(base)
    t.commit(ev.repartition(8), stats_cols=["event_id"])
    cl = clone_from(t, os.path.join(os.path.dirname(base), "clone"))
    src_fp = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in fingerprint(t.read_snapshot(spark)).collect()
    }
    cl_fp = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in fingerprint(cl.read_snapshot(spark)).collect()
    }
    if src_fp != cl_fp:
        raise AssertionError(
            "a zero-copy clone must fingerprint identically to its source"
        )
    # sensitivity #1: a single tampered row must move its segment's print
    tam_fp = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in fingerprint(
            ev.withColumn(
                "value_u",
                F.when(
                    F.col("event_id") == 0, F.col("value_u") + 1
                ).otherwise(F.col("value_u")),
            )
        ).collect()
    }
    if tam_fp == src_fp:
        raise AssertionError("a 1-row tamper must change the fingerprint")
    # sensitivity #2 and #3: the misalignment classes a linear hash
    # misses. Pick two rows in ONE segment with different value_u
    # (driver-side: 2 scalar rows, not a data collect) and build
    # (a) the swap copy — value_u exchanged between the rows — and
    # (b) the compensating copy — +1 on one, −1 on the other. Both
    # preserve every per-column sum AND per-segment row count.
    sample = ev.orderBy("event_id").limit(64).collect()
    by_seg: dict = {}
    pair = None
    for r in sample:
        prev = by_seg.setdefault(r["event_type"], r)
        if prev["value_u"] != r["value_u"]:
            pair = (prev, r)
            break
    if pair is None:
        raise AssertionError("no swappable pair in the first 64 rows")
    ida, idb = pair[0]["event_id"], pair[1]["event_id"]
    va, vb = pair[0]["value_u"], pair[1]["value_u"]
    swap_fp = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in fingerprint(
            ev.withColumn(
                "value_u",
                F.when(F.col("event_id") == ida, F.lit(vb))
                .when(F.col("event_id") == idb, F.lit(va))
                .otherwise(F.col("value_u")),
            )
        ).collect()
    }
    if swap_fp == src_fp:
        raise AssertionError(
            "a cross-row value swap (column sums unchanged) must change "
            "the fingerprint — the linear-hash collision class"
        )
    comp_fp = {
        r["event_type"]: (r["n_rows"], r["fingerprint"])
        for r in fingerprint(
            ev.withColumn(
                "value_u",
                F.when(F.col("event_id") == ida, F.col("value_u") + 1)
                .when(F.col("event_id") == idb, F.col("value_u") - 1)
                .otherwise(F.col("value_u")),
            )
        ).collect()
    }
    if comp_fp == src_fp:
        raise AssertionError(
            "a compensating +1/-1 tamper (column sums unchanged) must "
            "change the fingerprint"
        )
    return fingerprint(ev)


from lightcurator_spark.scratch import SCRATCH_ROOT as _SCRATCH_MINING

_SCRATCH_DQ12 = os.path.join(_SCRATCH_MINING, "dq12_fp")


# --------------------------------------------------------------------
# DQ13 — incrementally-maintained table fingerprint (DQ12 × CDF)
# --------------------------------------------------------------------

_DQ13_ORACLE = """
WITH state AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value_u
  FROM events
  WHERE event_type IN ('purchase', 'click', 'view')
    AND NOT (event_type = 'view' AND user_id % 5 = 0)
),
rows_ AS (
  SELECT event_type,
         ((CAST(event_id AS BIGINT) * 2654435761
           + CAST(user_id AS BIGINT) * 40503
           + value_u * 2246822519)
          % 2305843009213693951
          + 2305843009213693951) % 2305843009213693951 AS lin
  FROM state
), hashed AS (
  SELECT event_type,
         (CAST(lin AS HUGEINT) * CAST(lin AS HUGEINT))
           % 2305843009213693951 AS h
  FROM rows_
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h) % 2305843009213693951 AS BIGINT) AS fingerprint
FROM hashed GROUP BY event_type
"""


@query(
    "dq13_incremental_fingerprint",
    eager="commits to a demo TxLogTable and collects each version's fingerprint",
    oracle=_DQ13_ORACLE,
    note="the hashed result is the per-segment DQ12 fingerprint of a "
    "txlog table's FINAL state, maintained INCREMENTALLY through the "
    "change feed (print += Σh(inserts) − Σh(deletes) mod M per "
    "version — additivity is exactly what the commutative-sum design "
    "buys) and asserted equal to the from-scratch recomputation at "
    "EVERY version, across an append and a MoR delete",
)
def dq13_incremental_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DQ13: DQ12's fingerprint kept fresh WITHOUT rescanning — the
    composition that makes content verification affordable as a
    standing property rather than a quarterly audit: because the
    fingerprint is a SUM of (nonlinear) row hashes mod M, it is
    ADDITIVE — maintaining it through S20e's change feed costs
    O(changed rows) per commit: print' = print + Σh(inserted) −
    Σh(deleted) (mod M), n' = n + inserts − deletes. A replica can
    therefore publish (segment, n, print) continuously and any
    consumer can verify a 100 TB table's content after every commit
    for the price of the commit's own delta.

    Demonstrated live: a txlog table seeds with purchases+clicks
    (v0), appends views (v1), then MoR-deletes a view slice (v2 —
    deletion vectors, no file rewritten); the incremental print is
    folded version by version from read_changes and asserted equal
    to the from-scratch DQ12 fingerprint at EVERY version. The
    returned (hash-oracled) result is the final state's fingerprint,
    equal to the source-of-record reconstruction.

    Scale: per commit, one scan of the CHANGED files only (the change
    feed's contract) → per-segment hash sums; the table is never
    rescanned after v0.
    """
    import shutil

    from lightcurator_spark.sources.txlog import TxLogTable

    M = _DQ12_M
    path = os.path.join(_SCRATCH_MINING, "dq13_fp")
    shutil.rmtree(path, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("value_u"),
    )
    t = TxLogTable(path)
    t.commit(ev.filter(F.col("event_type").isin("purchase", "click")))
    t.commit(ev.filter(F.col("event_type") == "view"))
    t.delete_mor(
        spark,
        (F.col("event_type") == "view") & (F.col("user_id") % 5 == 0),
        "event_id",
    )

    def fp(df: DataFrame) -> dict:
        return {
            r["event_type"]: (r["n_rows"], r["fingerprint"])
            for r in dq12_fingerprint(df).collect()
        }

    # seed from v0, then fold the feed forward — never rescan
    inc = fp(t.read_snapshot(spark, 0))
    latest = t._next_version() - 1
    for v in range(1, latest + 1):
        ch = t.read_changes(spark, v - 1, v).select(
            "event_id", "user_id", "event_type", "value_u", "change_type"
        )
        for kind, sign in (("insert", 1), ("delete", -1)):
            for seg, (n, f) in fp(
                ch.filter(F.col("change_type") == kind).drop("change_type")
            ).items():
                n0, f0 = inc.get(seg, (0, 0))
                inc[seg] = (n0 + sign * n, (f0 + sign * f) % M)
        inc = {s: nf for s, nf in inc.items() if nf[0] > 0}
        full = fp(t.read_snapshot(spark, v))
        if inc != full:
            raise AssertionError(
                f"incremental fingerprint diverged at v{v}: "
                f"{inc} != {full}"
            )
    return dq12_fingerprint(t.read_snapshot(spark))

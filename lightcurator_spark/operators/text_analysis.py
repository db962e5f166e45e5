"""Text analysis & quality filtering — SURVEY §2.7 F8–F10, §2.10 L6/L8.

Per-document statistics, corpus term statistics (tf/df), language-ID
heuristics, token counting, and the composable quality-filter pipeline
of an LLM-data curation flow — all as JVM-side built-ins (split /
explode / aggregate), no Python UDFs.

Scale notes: token explode multiplies rows ×~50; everything downstream
is partial-aggregated before the shuffle (Catalyst does map-side
combine for all the groupBys here). Term statistics shuffle on the
token — a Zipf-skewed key; AQE skew handling + the fact that the
aggregate is algebraic (count/sum) keeps hot tokens cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark import api
from lightcurator_spark.api.dedup import gram_keys, shingles_raw
from lightcurator_spark.plans.registry import EAGER_CHECKPOINT, query
from lightcurator_spark.registry import load_table


def R4(c):
    """Bit-stable 4-dp rounding; see relational.R4."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


@query(
    "f8_explode_tokens",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE doc_id < 10)
    SELECT doc_id,
           CAST(generate_subscripts(t, 1) - 1 AS INT) AS pos,
           unnest(t) AS token
    FROM toks
    """,
)
def f8_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: posexplode — array→rows with position (shingling primitive)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@query(
    "f9_map_ops",
    oracle="""
    SELECT event_id,
           map_keys(MAP(['type', 'uid'], [event_type, CAST(user_id AS VARCHAR)])) AS ks,
           map_values(MAP(['type', 'uid'], [event_type, CAST(user_id AS VARCHAR)])) AS vs,
           MAP(['type', 'uid'], [event_type, CAST(user_id AS VARCHAR)])['type'][1] AS type_val
    FROM events WHERE event_id < 100
    """,
)
def f9_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: map construction/keys/values/element access (FITS-header dict
    analog). Fixed key order keeps both engines' key arrays identical."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    m = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    return ev.select(
        "event_id",
        F.map_keys(m).alias("ks"),
        F.map_values(m).alias("vs"),
        m.getItem("type").alias("type_val"),
    )


@query(
    "f10_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    """,
)
def f10_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: JSON extraction from the semi-structured props column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
        (k.cast("long") % 10).alias("k_mod"),
    )


_L6_DOC_ORACLE = """
WITH toks AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS t
              FROM documents)
SELECT doc_id, lang,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
       floor((len(list_distinct(t)) * 1.0 / len(t)) * 10000 + 0.5) / 10000 AS ttr,
       floor((n_chars * 1.0 / len(t)) * 10000 + 0.5) / 10000 AS chars_per_token,
       floor((list_aggregate(list_transform(t, x -> CAST(length(x) AS DOUBLE)), 'sum')
              / len(t)) * 10000 + 0.5) / 10000 AS avg_token_len
FROM toks
"""


@query("l6_doc_stats", oracle=_L6_DOC_ORACLE)
def l6_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6a: per-document text statistics — token count, type-token
    ratio, chars/token, mean token length. Pure array built-ins; no
    explode (stays one row per doc, no row multiplication)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n_tok = F.size(t)
    n_typ = F.size(F.array_distinct(t))
    return d.select(
        "doc_id",
        "lang",
        n_tok.cast("long").alias("n_tokens"),
        n_typ.cast("long").alias("n_types"),
        R4(n_typ / n_tok).alias("ttr"),
        R4(F.col("n_chars") / n_tok).alias("chars_per_token"),
        R4(
            F.expr(
                "aggregate(split(text, ' '), CAST(0.0 AS DOUBLE),"
                " (acc, x) -> acc + CAST(length(x) AS DOUBLE))"
            )
            / n_tok
        ).alias("avg_token_len"),
    )


_L6_TERM_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
),
stats AS (
  SELECT lang, token,
         count(*) AS tf,
         count(DISTINCT doc_id) AS df
  FROM tok GROUP BY lang, token
),
ranked AS (
  SELECT lang, token, tf, df,
         row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rn
  FROM stats
)
SELECT lang, token, tf, df, rn FROM ranked WHERE rn <= 10
"""


@query("l6_term_stats", oracle=_L6_TERM_ORACLE)
def l6_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6b: corpus term statistics — term frequency + document frequency
    per language, top-10 terms per language (deterministic tie-break).
    Explode → algebraic agg (map-side combined) → rank filter."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    stats = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("token"))
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "token", "tf", "df", "rn")
    )


_L8_ORACLE = """
WITH flags AS (
  SELECT doc_id, lang, n_chars,
         (n_chars BETWEEN 100 AND 2000) AS len_ok,
         (lang IN ('en', 'es', 'de', 'fr')) AS lang_ok,
         (len(string_split(text, ' ')) >= 30) AS tokens_ok,
         (count(*) OVER (PARTITION BY md5(text)) = 1) AS not_dup
  FROM documents
)
SELECT doc_id, lang, len_ok, lang_ok, tokens_ok, not_dup,
       (len_ok AND lang_ok AND tokens_ok AND not_dup) AS passes
FROM flags
"""


@query("l8_quality_filter", oracle=_L8_ORACLE)
def l8_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: composable quality-filter pipeline — length bounds, language
    allowlist, minimum token count, exact-dup flag, combined verdict.
    Each predicate is an independent boolean column so survival can be
    attributed per-filter downstream (A8-style conditional aggs)."""
    d = load_table(spark, sf_dir, "documents")
    w_dup = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    flags = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").between(100, 2000).alias("len_ok"),
        F.col("lang").isin("en", "es", "de", "fr").alias("lang_ok"),
        (F.size(F.split("text", " ")) >= 30).alias("tokens_ok"),
        (F.count(F.lit(1)).over(w_dup) == 1).alias("not_dup"),
    )
    return flags.withColumn(
        "passes",
        F.col("len_ok") & F.col("lang_ok") & F.col("tokens_ok") & F.col("not_dup"),
    )


_L6_LANGID_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
),
scored AS (
  SELECT doc_id, any_value(lang) AS lang_true,
         count(*) FILTER (WHERE token IN ('the','and','of','to','in','is','that')) AS en_hits,
         count(*) FILTER (WHERE token IN ('el','la','de','que','y','en','los')) AS es_hits,
         count(*) FILTER (WHERE token IN ('der','die','und','das','ist','von','den')) AS de_hits,
         count(*) FILTER (WHERE token IN ('le','la','de','et','les','des','un')) AS fr_hits,
         count(*) AS n
  FROM tok GROUP BY doc_id
)
SELECT doc_id, lang_true,
       CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'und'
            WHEN en_hits >= greatest(es_hits, de_hits, fr_hits) THEN 'en'
            WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
            WHEN de_hits >= fr_hits THEN 'de'
            ELSE 'fr' END AS lang_pred,
       floor((greatest(en_hits, es_hits, de_hits, fr_hits) * 1.0 / n) * 10000 + 0.5) / 10000
           AS stopword_ratio
FROM scored
"""


@query("l6_lang_id", oracle=_L6_LANGID_ORACLE)
def l6_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6c: language-ID heuristic — stopword-hit voting with a fixed
    precedence order (en > es > de > fr) so ties are deterministic.
    A real deployment swaps the stopword lists for character-n-gram
    profiles; the relational shape (explode → conditional agg → argmax)
    is identical."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    stop = {
        "en": ["the", "and", "of", "to", "in", "is", "that"],
        "es": ["el", "la", "de", "que", "y", "en", "los"],
        "de": ["der", "die", "und", "das", "ist", "von", "den"],
        "fr": ["le", "la", "de", "et", "les", "des", "un"],
    }
    hits = {
        lg: F.count(F.when(F.col("token").isin(words), 1)).alias(f"{lg}_hits")
        for lg, words in stop.items()
    }
    # lang is functionally dependent on doc_id, so it rides as a GROUP
    # KEY, not an any_value() aggregate: a var-width string in the agg
    # BUFFER forces SortAggregate (full sort of the exploded token
    # table before both phases); as a key the plan stays HashAggregate
    # with map-side partials (r12 optimization; same rows).
    scored = tok.groupBy("doc_id", F.col("lang").alias("lang_true")).agg(
        *hits.values(),
        F.count(F.lit(1)).alias("n"),
    )
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in stop])
    pred = (
        F.when(best == 0, "und")
        .when(F.col("en_hits") >= F.greatest("es_hits", "de_hits", "fr_hits"), "en")
        .when(F.col("es_hits") >= F.greatest("de_hits", "fr_hits"), "es")
        .when(F.col("de_hits") >= F.col("fr_hits"), "de")
        .otherwise("fr")
    )
    return scored.select(
        "doc_id",
        "lang_true",
        pred.alias("lang_pred"),
        R4(best / F.col("n")).alias("stopword_ratio"),
    )


@query(
    "l6_regex_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
               AS n_tokens_bpeish,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numeric
    FROM documents
    """,
)
def l6_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6d: BPE-ish regex token counting — alpha runs, digit runs, and
    symbol singletons as separate tokens (the GPT-style pre-tokenizer
    shape), counted per document without exploding."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).cast(
            "long"
        ).alias("n_tokens_bpeish"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).cast("long").alias(
            "n_alpha"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0)).cast("long").alias(
            "n_numeric"
        ),
    )


_L6_TFIDF_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents)
SELECT doc_id, token, tfidf, rn FROM (
  SELECT tf.doc_id, tf.token,
         floor((tf.tf * ln(CAST(n.nd AS DOUBLE) / df.df)) * 10000 + 0.5) / 10000
             AS tfidf,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY floor((tf.tf * ln(CAST(n.nd AS DOUBLE) / df.df)) * 10000 + 0.5)
                        / 10000 DESC,
                    tf.token) AS rn
  FROM tf JOIN df USING (token) CROSS JOIN n
) WHERE rn <= 5
"""


@query("l6_tfidf", oracle=_L6_TFIDF_ORACLE)
def l6_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6e: tf-idf top-5 terms per document. Corpus size N is a 1-row
    aggregate cross-joined (broadcast) rather than a driver-side scalar,
    so the whole plan stays declarative; document frequencies join back
    to term frequencies on the token key; ranking uses the ROUNDED
    score + token tie-break so ordering is engine-stable."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", R4(F.col("tf") * F.log(F.col("nd") / F.col("df"))))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tfidf", "rn")
    )


@query(
    "l8b_survival_funnel",
    oracle="""
    WITH flags AS (
      SELECT (n_chars BETWEEN 100 AND 2000) AS len_ok,
             (lang IN ('en', 'es', 'de', 'fr')) AS lang_ok,
             (len(string_split(text, ' ')) >= 30) AS tokens_ok
      FROM documents
    )
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
           CAST(sum(CASE WHEN len_ok AND lang_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_len_lang,
           CAST(sum(CASE WHEN len_ok AND lang_ok AND tokens_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_all
    FROM flags
    """,
)
def l8b_survival_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8b: filter survival funnel — how many documents survive each
    successive quality gate, in ONE pass (conditional aggregation over
    the flag columns, no repeated scans). The number every data-curation
    run reports before a training job consumes the output."""
    d = load_table(spark, sf_dir, "documents")
    len_ok = F.col("n_chars").between(100, 2000)
    lang_ok = F.col("lang").isin("en", "es", "de", "fr")
    tokens_ok = F.size(F.split("text", " ")) >= 30
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(len_ok, 1).otherwise(0)).alias("pass_len"),
        F.sum(F.when(len_ok & lang_ok, 1).otherwise(0)).alias("pass_len_lang"),
        F.sum(F.when(len_ok & lang_ok & tokens_ok, 1).otherwise(0)).alias("pass_all"),
    )


_L10_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens
  FROM documents
),
starts AS (
  SELECT doc_id, tokens, unnest(generate_series(0, len(tokens) - 1, 24)) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start // 24 AS BIGINT) AS chunk_idx,
       CAST(len(tokens[start + 1 : start + 32]) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(tokens[start + 1 : start + 32], ' ')) AS chunk_md5
FROM starts
"""


@query("l10_chunk_documents", oracle=_L10_ORACLE)
def l10_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10: sliding-window document chunking — the pretraining/RAG
    chunker: 32-token windows every 24 tokens (8-token overlap), each
    chunk fingerprinted for downstream exact-dedup (L1 composes on the
    output). Window/stride chosen so every sf's shortest doc still
    emits ≥1 chunk (start=0 always exists: sequence(0, n-1, 24) ∋ 0
    for n ≥ 1)."""
    docs = load_table(spark, sf_dir, "documents")
    return api.chunk_tokens(docs, "doc_id", "text", window=32, stride=24).select(
        "doc_id", "chunk_idx", "n_chunk_tokens", F.md5("chunk_text").alias("chunk_md5")
    )


_L6_NORM_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS tokens
  FROM documents
),
norm AS (
  SELECT doc_id, lang,
         len(tokens) AS n_tokens,
         len(list_filter(tokens, t -> t NOT IN ('a', 'the'))) AS n_content_tokens
  FROM toks
)
SELECT doc_id, lang, n_tokens, n_content_tokens,
       floor((CAST(n_content_tokens AS DOUBLE) / n_tokens) * 10000 + 0.5) / 10000
         AS retained_ratio
FROM norm
WHERE n_tokens > 0
"""


@query("l6_stopword_filter", oracle=_L6_NORM_ORACLE)
def l6_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 extension: stopword-removal normalization — the token-level
    cleaning pass of an LLM-data pipeline, computed with higher-order
    array built-ins (filter on the token array, no explode, no
    shuffle): per doc, token counts before/after stopword removal and
    the retained ratio (a quality signal — near-zero means boilerplate).
    Purely map-side; composes with L8's filter pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    content = F.filter(tokens, lambda t: ~t.isin("a", "the"))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.size(tokens).cast("long").alias("n_tokens"),
            F.size(content).cast("long").alias("n_content_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "retained_ratio",
            R4(F.col("n_content_tokens").cast("double") / F.col("n_tokens")),
        )
    )


_F10B_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n,
       floor((avg(CAST(json_extract_string(props, '$.k') AS BIGINT)))
             * 10000 + 0.5) / 10000 AS avg_k,
       floor((avg(value)) * 10000 + 0.5) / 10000 AS avg_value
FROM events
GROUP BY 1
ORDER BY 1
"""


@query("f10b_variant_json", oracle=_F10B_ORACLE)
def f10b_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10b: VariantType semi-structured path (Spark 4.x) — props is
    parsed ONCE into a variant value (`parse_json`), then typed paths
    are extracted with `variant_get`. Against per-path
    `get_json_object` (F10, re-parses the string per extraction),
    variant parses each row once into a binary-encoded form — the
    shape that wins when many paths are read from wide JSON at 100 TB.
    Aggregates per k-decile prove the extraction is typed end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        ev.withColumn("v", F.parse_json("props"))
        .select((k % 10).alias("k_bucket"), k.alias("k"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            R4(F.avg("k")).alias("avg_k"),
            R4(F.avg("value")).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


_L12_ORACLE = """
WITH grams AS (
  SELECT doc_id,
         len(string_split(text, ' ')) - 2 AS n_grams,
         count(*) AS n_total,
         count(DISTINCT gram) AS n_distinct
  FROM (
    SELECT doc_id, text,
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS gram
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)
  )
  GROUP BY doc_id, text
)
SELECT doc_id, n_total AS n_trigrams,
       floor((1.0 - n_distinct * 1.0 / n_total) * 10000 + 0.5) / 10000
         AS dup_trigram_ratio
FROM grams
WHERE n_total > 0
"""


@query("l12_repetition_stats", oracle=_L12_ORACLE)
def l12_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12: Gopher-style repetition signal — the fraction of duplicate
    3-gram shingles per document (1 − distinct/total). High values mark
    boilerplate/template text, the classic pre-training quality cut
    alongside L8's length/lang gates. Map-side explode → one shuffle on
    doc_id carrying (gram) pairs; count and count-distinct share the
    single aggregation. Linear in corpus bytes — a document never
    crosses partitions."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0)),"
                " i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.countDistinct("gram").alias("nd"),
        )
        .filter(F.col("n_trigrams") > 0)
        .select(
            "doc_id",
            "n_trigrams",
            R4(F.lit(1.0) - F.col("nd") / F.col("n_trigrams")).alias(
                "dup_trigram_ratio"
            ),
        )
    )


_L13_ORACLE = """
WITH bounds AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT lang, count(*) AS n_kept,
       floor((avg(n_chars)) * 10000 + 0.5) / 10000 AS avg_chars
FROM documents CROSS JOIN bounds
WHERE n_chars >= lo AND n_chars <= hi
GROUP BY lang
ORDER BY lang
"""


@query("l13_length_percentile_filter", oracle=_L13_ORACLE)
def l13_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L13: distribution-relative length gate — keep documents between
    the corpus's own 5th and 95th n_chars percentiles (absolute bounds
    like L8's rot as the corpus drifts; percentile gates self-calibrate
    per snapshot). The bounds are a scalar aggregate over the ONE
    pruned column (`n_chars`), broadcast back over the full-width rows
    — the oracle's CROSS JOIN bounds shape verbatim. The earlier
    unpartitioned-window form dragged every full-width document row
    through a single partition to compute the same two numbers; the
    scalar agg reduces partial/final and costs one extra narrow column
    scan instead (`test_l13_percentile_gate_has_no_global_window`). The
    100 TB form swaps in approx_percentile on the same shape (A4
    demonstrates both)."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.percentile("n_chars", F.array(F.lit(0.05), F.lit(0.95))).alias("__b")
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("n_chars") >= F.col("__b")[0])
            & (F.col("n_chars") <= F.col("__b")[1])
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            R4(F.avg("n_chars")).alias("avg_chars"),
        )
        .orderBy("lang")
    )


_L14_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
p AS (SELECT token, cnt / (SELECT sum(cnt) FROM tf) AS p FROM tf)
SELECT doc_id, count(*) AS n_tokens,
       floor((avg(ln(p))) * 10000 + 0.5) / 10000 AS avg_logprob
FROM toks JOIN p USING (token)
GROUP BY doc_id
ORDER BY doc_id
"""


@query("l14_unigram_logprob", oracle=_L14_ORACLE)
def l14_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L14: unigram log-probability quality score — the SQL-expressible
    core of a perplexity filter: score each document by the mean log
    corpus-probability of its tokens; documents dominated by rare
    tokens score low and get gated by a percentile cut (L13's shape).

    Plan at scale: one token explode feeds BOTH the corpus unigram
    table (groupBy token, map-side combined) and the scoring join; the
    normalizing total is a scalar agg over the tf result broadcast back
    (the q11/q15 ReuseExchange pattern — never a single-partition
    window). The token→probability join is the classic dictionary
    join: shuffle on the Zipf-skewed token key, AQE skew-split handles
    hot tokens, and when the vocabulary fits the broadcast threshold
    AQE converts it to a broadcast join at runtime."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("total"))
    p = tf.crossJoin(F.broadcast(total)).select(
        "token", (F.col("cnt") / F.col("total")).alias("p")
    )
    return (
        toks.join(p, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            R4(F.avg(F.log("p"))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


_L15_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, lang, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id, source, lang,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(t[i:i+3], ' '))) AS g
  FROM toks
),
ev AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
contam AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (g) WHERE source <> 'src0'
)
SELECT lang,
       count(*) AS n_train,
       count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM contam))
         AS n_contaminated,
       count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM contam))
         AS n_clean
FROM documents
WHERE source <> 'src0'
GROUP BY lang
ORDER BY lang
"""


@query("l15_decontaminate", oracle=_L15_ORACLE)
def l15_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L15: training-set decontamination — flag training documents that
    share any 4-token shingle with the held-out evaluation split
    (source='src0' stands in for the benchmark set). 4-gram overlap is
    the standard n-gram decontamination rule; 4 is calibrated to this
    corpus (3-grams mark ~everything, 5-grams ~nothing — 49/475
    contaminated at sf0.01, 2405/4750 at sf0.1).

    Plan at scale: benchmark sets are tiny relative to the training
    corpus, so the DISTINCT eval-shingle set broadcasts and the
    containment test is a broadcast LEFT SEMI against the train-side
    shingle explode — the train corpus never shuffles
    (`test_l15_eval_shingles_broadcast`). Per-lang survival counts then
    need one partial-aggregated shuffle of doc-level flags."""
    d = load_table(spark, sf_dir, "documents")
    # shingles_raw on BOTH sides (r13): the semi-join stream side needs
    # no dedup (membership only) and the build side re-distincts on the
    # bare gram anyway — the map-side array_distinct would be pure
    # overhead the optimizer cannot drop (it dropped the old separate
    # .distinct() under the semi join; measured l15 1.49 -> 0.9 s).
    ev_sh = shingles_raw(d.filter(F.col("source") == "src0"), 4).select("shingle")
    train = d.filter(F.col("source") != "src0")
    contam = (
        shingles_raw(train, 4)
        .join(F.broadcast(ev_sh.distinct()), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("is_contam").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("is_contam")).alias("n_clean"),
        )
        .orderBy("lang")
    )


_L16_ORACLE = """
WITH weighted AS (
  SELECT lang,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS bucket,
         CASE lang WHEN 'en' THEN 100 WHEN 'fr' THEN 50 WHEN 'de' THEN 50
                   WHEN 'es' THEN 25 ELSE 10 END AS pct
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       count(*) FILTER (WHERE bucket < pct) AS n_kept,
       floor((count(*) FILTER (WHERE bucket < pct) * 1.0 / count(*)) * 10000
             + 0.5) / 10000 AS kept_frac
FROM weighted
GROUP BY lang
ORDER BY lang
"""


@query("l16_source_mixing", oracle=_L16_ORACLE)
def l16_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L16: deterministic data mixing — per-language sampling rates
    (rebalance a multilingual corpus: keep all en, half fr/de, a
    quarter es, a tenth of the rest) applied via a CONTENT-KEYED hash
    bucket, `md5(doc_id) % 100 < rate`, not an engine-seeded RNG.

    Determinism is the point: the same document keeps or drops on every
    engine, every run, every partitioning — so mixtures are
    reproducible across pipeline reruns and auditable by an external
    system (the DuckDB oracle recomputes the SAME sample, which
    engine-seeded `sampleBy` (P6) can only property-test). Plan at
    scale: pure map-side filter (no shuffle until the survival agg);
    md5 keeps both engines' hex parse identical — Spark `conv(…,16,10)`
    ≡ DuckDB `('0x'||…)::BIGINT`, verified on this corpus."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    pct = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang").isin("fr", "de"), 50)
        .when(F.col("lang") == "es", 25)
        .otherwise(10)
    )
    kept = F.sum(F.when(F.col("bucket") < F.col("pct"), 1).otherwise(0))
    return (
        d.select("lang", bucket.alias("bucket"), pct.alias("pct"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            R4(kept / F.count(F.lit(1))).alias("kept_frac"),
        )
        .orderBy("lang")
    )


_L17_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       CAST(len(list_filter(t, x -> x IN ('key', 'hash', 'value')))
            AS BIGINT) AS n_masked,
       md5(array_to_string(
             list_transform(t, x -> CASE WHEN x IN ('key', 'hash', 'value')
                                         THEN '<MASK>' ELSE x END),
             ' ')) AS masked_md5
FROM toks
"""


@query("l17_denylist_redaction", oracle=_L17_ORACLE)
def l17_denylist_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L17: token redaction — replace denylisted tokens with `<MASK>`
    and report per-doc mask counts plus an md5 fingerprint of the
    redacted text. This is the PII-scrubbing plumbing of an LLM data
    pipeline (in production the predicate is an email/phone/ID regex;
    this corpus has no digits, so a token denylist exercises the
    identical path). Token-array transform instead of regexp_replace:
    no cross-engine regex-dialect risk, and no overlapping-match
    subtleties at token boundaries.

    Scale: pure map-side (split → transform → join → md5), zero
    shuffle, linear in corpus bytes; fingerprints feed L1 exact dedup
    downstream so redaction and dedup pipeline without materializing
    intermediate text.
    """
    deny = ("key", "hash", "value")
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    masked = F.transform(
        t, lambda x: F.when(x.isin(*deny), F.lit("<MASK>")).otherwise(x)
    )
    return d.select(
        "doc_id",
        F.size(F.filter(t, lambda x: x.isin(*deny))).cast("long").alias("n_masked"),
        F.md5(F.array_join(masked, " ")).alias("masked_md5"),
    )


_L19_ORACLE = """
WITH q AS (
  SELECT lang, n_chars,
         CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
              AS INT) AS quartile
  FROM documents
)
SELECT lang, quartile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars
FROM q
GROUP BY lang, quartile
"""


@query("l19_curriculum_binning", oracle=_L19_ORACLE)
def l19_curriculum_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L19: curriculum binning — per-language length quartiles via
    `ntile(4)`, with per-bin census (count, min/max/avg chars). The
    mixing counterpart to L16: L16 decides HOW MUCH of each slice to
    keep, L19 assigns WHICH difficulty bucket each kept doc trains in
    (length as the canonical curriculum proxy). Tie-break on
    (n_chars, doc_id) makes the quartile assignment a total order —
    identical on every engine, which is what lets ntile be oracled.

    Scale: one hash exchange on lang for the window, and the
    follow-on groupBy(lang, quartile) reuses that partitioning
    (sub-key of the window key ⇒ no second shuffle of the fact).
    ntile needs the whole partition sorted — fine when partitions are
    languages (bounded count); for a per-corpus global curriculum use
    L13's percentile-threshold shape instead of a global window.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        d.select("lang", "n_chars", F.ntile(4).over(w).alias("quartile"))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            R4(F.avg("n_chars")).alias("avg_chars"),
        )
    )


_L23_ORACLE = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\b(key|hash|value)\b'))
            AS BIGINT) AS n_masked,
       md5(regexp_replace(text, '\b(key|hash|value)\b', '<MASK>', 'g'))
         AS masked_md5
FROM documents
"""


@query("l23_regex_redaction", oracle=_L23_ORACLE)
def l23_regex_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L23: regex redaction — the true-regex twin of L17's token
    denylist. Production PII scrubbing is regex-shaped (emails,
    phones, key material); L17 sidesteps regex via token transforms,
    L23 exercises the real path: word-boundary alternation, global
    replace, per-doc match count, fingerprint of the redacted text.
    The pattern stays inside the RE2 ∩ java.util.regex shared subset
    (literal alternation + \\b) so both engines read it identically —
    the same dialect discipline the oracle contract applies to SQL.

    Scale: pure map-side (two regex passes over the text column,
    whole-stage codegen), zero shuffle, linear in corpus bytes —
    the same shape as L17, so swapping token-lists for regexes in a
    running pipeline changes no plan."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"\b(key|hash|value)\b"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("long")
        .alias("n_masked"),
        F.md5(F.regexp_replace("text", pat, "<MASK>")).alias("masked_md5"),
    )


_L24_ORACLE = """
WITH train AS (SELECT * FROM documents WHERE source <> 'src0'),
toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(t[i:i+3], ' '))) AS g
  FROM toks
),
ev AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
contam AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (g) WHERE source <> 'src0'
),
fl AS (
  SELECT t.lang,
         row_number() OVER (PARTITION BY md5(t.text) ORDER BY t.doc_id) AS rn,
         (t.doc_id IN (SELECT doc_id FROM contam)) AS is_contam,
         CAST(('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 AS bucket,
         CASE t.lang WHEN 'en' THEN 100 WHEN 'fr' THEN 50 WHEN 'de' THEN 50
                     WHEN 'es' THEN 25 ELSE 10 END AS pct,
         len(string_split(t.text, ' ')) AS nt
  FROM train t
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_dedup,
       CAST(count(*) FILTER (WHERE rn = 1 AND NOT is_contam) AS BIGINT)
         AS n_clean,
       CAST(count(*) FILTER (WHERE rn = 1 AND NOT is_contam AND bucket < pct)
            AS BIGINT) AS n_mixed,
       CAST(COALESCE(sum(CASE WHEN rn = 1 AND NOT is_contam AND bucket < pct
                              THEN (nt - 1) // 24 + 1 END), 0) AS BIGINT)
         AS n_chunks
FROM fl
GROUP BY lang
ORDER BY lang
"""


@query("l24_full_llm_pipeline", oracle=_L24_ORACLE)
def l24_full_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L24: the full LLM training-data pipeline as ONE Catalyst DAG —
    the l-family capstone, exactly what D7 is to the curation ops:
    exact dedup (L1) → n-gram decontamination against the eval split
    (L15) → deterministic per-language mixing (L16) → token chunking
    (L10), with per-language survival counts at every stage (L8b's
    funnel made end-to-end). No intermediate materialization: each doc
    carries its stage flags (dup rank, contamination, mix bucket,
    chunk count) through a single aggregation.

    Plan at scale: the dedup rank is one window on md5(text) (hash-
    partitionable); contamination is the L15 broadcast LEFT SEMI (the
    train corpus never shuffles for it); mixing and chunk counting are
    pure map-side arithmetic — so the whole pipeline costs the dedup
    exchange plus one partial-aggregated census shuffle. This is the
    nightly job shape: at 100 TB, stage flags beat stage
    materializations by an order of magnitude in I/O.
    """
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("source") != "src0")
    # shingles_raw on both sides — the l15 rationale (r13)
    ev_sh = shingles_raw(d.filter(F.col("source") == "src0"), 4).select("shingle")
    contam = (
        shingles_raw(train, 4)
        .join(F.broadcast(ev_sh.distinct()), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    pct = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang").isin("fr", "de"), 50)
        .when(F.col("lang") == "es", 25)
        .otherwise(10)
    )
    nt = F.size(F.split("text", " "))
    fl = (
        train.withColumn("rn", F.row_number().over(w))
        .join(contam, "doc_id", "left")
        .select(
            "lang",
            "rn",
            F.col("is_contam").isNotNull().alias("is_contam"),
            bucket.alias("bucket"),
            pct.alias("pct"),
            nt.alias("nt"),
        )
    )
    keep_dedup = F.col("rn") == 1
    keep_clean = keep_dedup & ~F.col("is_contam")
    keep_mixed = keep_clean & (F.col("bucket") < F.col("pct"))
    return (
        fl.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count_if(keep_dedup).alias("n_dedup"),
            F.count_if(keep_clean).alias("n_clean"),
            F.count_if(keep_mixed).alias("n_mixed"),
            F.coalesce(
                F.sum(
                    F.when(
                        keep_mixed,
                        F.floor((F.col("nt") - 1) / 24).cast("long") + 1,
                    )
                ),
                F.lit(0),
            ).alias("n_chunks"),
        )
        .orderBy("lang")
    )


_L27_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
uc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
),
un AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM uc
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(2, len(t) + 1),
                               i -> array_to_string(t[i-1:i], ' '))) AS bigram
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bigram
),
scored AS (
  SELECT g.doc_id,
         ln(8e-1 * (CAST(b.cb AS DOUBLE) / CAST(u1.c AS DOUBLE))
            + 2e-1 * (CAST(u2.c AS DOUBLE) / CAST(un.n AS DOUBLE))) AS lp
  FROM bg g
  JOIN bc b ON b.bigram = g.bigram
  JOIN uc u1 ON u1.w = string_split(g.bigram, ' ')[1]
  JOIN uc u2 ON u2.w = string_split(g.bigram, ' ')[2]
  CROSS JOIN un
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       floor(avg(lp) * 10000 + 0.5) / 10000 AS avg_bigram_logprob
FROM scored GROUP BY doc_id
"""


@query("l27_bigram_logprob", oracle=_L27_ORACLE)
def l27_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L27: interpolated bigram language-model scoring — the step up
    from L14's unigram proxy toward the KenLM-style perplexity filters
    production corpora are gated on: per-document mean of
    ln(0.8·P(w₂|w₁) + 0.2·P(w₂)), LM estimated from the corpus itself
    (every observed bigram has count ≥ 1, so the interpolation's
    backoff term is exercised without zero-prob edge cases). Both
    engines divide the same exact integer counts and ln() the same
    doubles; only the per-doc avg's summation order differs (~1e-13 on
    4-dp-rounded O(1) values)."""
    docs = load_table(spark, sf_dir, "documents")
    out = api.bigram_logprob(docs, "doc_id", "text", lam=0.8)
    return out.select(
        "doc_id", "n_bigrams", R4(F.col("avg_bigram_logprob")).alias("avg_bigram_logprob")
    )


_L29_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(t[i:i+3], ' '))) AS g
  FROM toks
),
e AS (SELECT doc_id AS eval_doc, g FROM sh WHERE source = 'src0'),
tr AS (SELECT doc_id AS train_doc, g FROM sh WHERE source <> 'src0')
SELECT tr.train_doc, e.eval_doc,
       CAST(count(*) AS BIGINT) AS n_shared_grams
FROM tr JOIN e USING (g)
GROUP BY tr.train_doc, e.eval_doc
"""


@query("l29_contamination_report", oracle=_L29_ORACLE)
def l29_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L29: contamination attribution — the audit artifact L15's
    drop-decision discards: for every (train doc, eval doc) pair that
    shares at least one distinct 4-gram, the shared-gram evidence
    count. A decontamination pipeline needs this to REVIEW its kills
    (was the overlap one boilerplate phrase or wholesale copying?) and
    to fix the eval set when leakage runs the other way.

    Scale: same join discipline as L15 — the eval side's distinct
    grams broadcast (eval sets are small by definition); the train
    side never shuffles for the probe; output is bounded by actual
    evidence pairs, and the gram-level join is the L15 plan with the
    aggregation keyed by (train, eval) instead of collapsing to a
    boolean. Hot boilerplate grams are the skew risk — the documented
    mitigation is dropping top-df grams (stop-gram list) before the
    join, exactly like L25's rarest-first prefix logic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("t"))
    grams = toks.filter(F.size("t") >= 4).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.slice("t", 1, F.size("t") - 3),
                lambda w, i: F.concat_ws(
                    " ",
                    w,
                    F.element_at("t", i + 2),
                    F.element_at("t", i + 3),
                    F.element_at("t", i + 4),
                ),
            )
        ).alias("g"),
    ).distinct()
    ev = grams.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("eval_doc"), "g"
    )
    tr = grams.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


# --------------------------------------------------------------------
# L30 — sequence packing into fixed token-budget bins
# --------------------------------------------------------------------

_L30_BUDGET = 64
_L30_SHARD = 100

_L30_ORACLE = f"""
WITH t AS (
  SELECT source,
         doc_id // {_L30_SHARD} AS shard,
         doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents
),
c AS (
  SELECT source, shard, doc_id, toks,
         COALESCE(sum(toks) OVER (PARTITION BY source, shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM t
)
SELECT source,
       CAST(shard AS BIGINT) AS shard,
       cb // {_L30_BUDGET} AS bin_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY source, shard, cb // {_L30_BUDGET}
"""


@query("l30_sequence_packing", oracle=_L30_ORACLE)
def l30_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L30: sequence packing — assign documents to fixed token-budget
    context bins, the pretraining prep step between curation and
    tokenization (pack many short documents into one training sequence
    to stop padding from dominating the batch), then census each bin.
    Offset packing in doc_id order within (source, shard = doc_id div
    100); all arithmetic is integer, so bin assignment is hash-exact
    across engines. The bin census aggregates on the window's own
    (source, shard) clustering — one exchange."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).cast("long").alias("toks")
    )
    packed = api.pack_sequences(
        d, "source", "doc_id", "toks", budget=_L30_BUDGET, shard_width=_L30_SHARD
    )
    return packed.groupBy("source", "shard", "bin_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_L30B_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT source,
         doc_id // {_L30_SHARD} AS shard,
         doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         CAST(row_number() OVER (PARTITION BY source, doc_id // {_L30_SHARD}
                                 ORDER BY doc_id) AS BIGINT) AS rn
  FROM documents
),
r(source, shard, rn, doc_id, toks, bin, fill) AS (
  SELECT source, shard, rn, doc_id, toks, CAST(0 AS BIGINT) AS bin, toks AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.shard, t.rn, t.doc_id, t.toks,
         CASE WHEN r.fill + t.toks <= {_L30_BUDGET}
              THEN r.bin ELSE r.bin + 1 END,
         CASE WHEN r.fill + t.toks <= {_L30_BUDGET}
              THEN r.fill + t.toks ELSE t.toks END
  FROM r JOIN t ON t.source = r.source AND t.shard = r.shard
               AND t.rn = r.rn + 1
)
SELECT source,
       CAST(shard AS BIGINT) AS shard,
       bin AS bin_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM r GROUP BY source, shard, bin
"""


@query("l30b_next_fit_packing", oracle=_L30B_ORACLE)
def l30b_next_fit_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L30b: strict next-fit sequence packing — the EXACT variant of
    L30's offset packing: a document joins the current bin only if it
    fits (fill + toks ≤ budget), else it opens a new bin, so no bin
    exceeds the budget unless a single document alone does. The bin
    decision is inherently sequential state (cumulative fill RESETS on
    overflow — not a prefix sum), so the Spark side runs a per-shard
    state machine inside ``mapInPandas`` over boundary-sliced groups
    (a21's kernel pattern), and the ORACLE expresses the same
    recurrence as a DuckDB recursive CTE stepping rn → rn+1 per
    (source, shard) — the G2/L28 technique: iterative/sequential logic
    still gets a full cross-engine value hash, because every quantity
    is an integer.

    Scale: shards bound the sequential extent by construction
    (≤ shard-width docs each) and carry no cross-shard state, so the
    kernel parallelizes across shards exactly like L30's window; ONE
    exchange (the composite-key repartition), bins emitted directly
    from the kernel — no post-shuffle.
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source",
        F.expr(f"doc_id div {_L30_SHARD}").alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )

    def pack(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        pdf = pdf.sort_values(["source", "shard", "doc_id"], kind="stable")
        out = {
            "source": [], "shard": [], "bin_idx": [], "n_docs": [],
            "total_tokens": [], "first_doc": [], "last_doc": [],
        }
        cur_key = None
        bin_idx = fill = n = tot = first = last = 0

        def flush(key):
            if key is not None and n:
                out["source"].append(key[0])
                out["shard"].append(key[1])
                out["bin_idx"].append(bin_idx)
                out["n_docs"].append(n)
                out["total_tokens"].append(tot)
                out["first_doc"].append(first)
                out["last_doc"].append(last)

        for src, shard, doc_id, toks in zip(
            pdf["source"], pdf["shard"], pdf["doc_id"], pdf["toks"]
        ):
            key = (src, int(shard))
            if key != cur_key:
                flush(cur_key)
                cur_key, bin_idx, fill = key, 0, 0
                n = tot = 0
            if n and fill + toks > _L30_BUDGET:
                flush(cur_key)
                bin_idx += 1
                fill = n = tot = 0
            if n == 0:
                first = int(doc_id)
            fill += int(toks)
            tot += int(toks)
            n += 1
            last = int(doc_id)
        flush(cur_key)
        yield pd.DataFrame(out)

    par = spark.sparkContext.defaultParallelism
    return t.repartition(par, "source", "shard").mapInPandas(
        pack,
        "source string, shard long, bin_idx long, n_docs long, "
        "total_tokens long, first_doc long, last_doc long",
    )


# --------------------------------------------------------------------
# L32 — Zipf rank-frequency slope per source
# --------------------------------------------------------------------

_L32_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2
),
ranked AS (
  SELECT source, token, cnt,
         row_number() OVER (PARTITION BY source
                            ORDER BY cnt DESC, token) AS rnk
  FROM tf
),
top AS (
  SELECT source, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM ranked WHERE rnk <= 20
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM top GROUP BY 1
)
SELECT source, n AS n_terms,
       floor(((n * sxy - sx * sy) / (n * sxx - sx * sx))
             * 10000 + 0.5) / 10000 AS zipf_slope
FROM m
"""


@query("l32_zipf_slope", oracle=_L32_ORACLE)
def l32_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L32: Zipf rank-frequency slope per source — the corpus-health
    diagnostic that catches what L6's counts and A22's entropy miss:
    natural text follows freq ∝ rank^(−s) with s ≈ 1, so the OLS slope
    of ln(freq) on ln(rank) over each source's top-20 terms flags
    machine-generated / template / boilerplate-flooded sources (slope
    near 0: uniform vocabulary; steeply below −1: a few tokens
    dominate). The standard pretraining-mix screen run per source
    shard before L16 mixing."""
    d = load_table(spark, sf_dir, "documents")
    return api.zipf_slope(d, "source", "text", top_k=20).select(
        "source", "n_terms", R4(F.col("zipf_slope")).alias("zipf_slope")
    )


# --------------------------------------------------------------------
# L38 — n-gram novelty score (first-occurrence attribution)
# --------------------------------------------------------------------

_L38_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> array_to_string(t[i:i+2], ' '))) AS g
  FROM toks WHERE len(t) >= 3
),
first AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (WHERE f.first_doc = sh.doc_id) AS BIGINT)
         AS n_novel,
       floor(count(*) FILTER (WHERE f.first_doc = sh.doc_id)
             / CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS novelty
FROM sh JOIN first f USING (g)
GROUP BY sh.doc_id
"""


@query("l38_ngram_novelty", oracle=_L38_ORACLE)
def l38_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L38: n-gram novelty score — what fraction of a document's
    distinct 3-grams has never appeared in any EARLIER document
    (doc_id as arrival order)? The dataset-freshness member of the
    text-curation family: L11/L34 measure duplication against the
    whole corpus, L38 measures marginal contribution at ingest time —
    the statistic behind "is this crawl snapshot still adding
    anything" dedup-budget decisions. Docs shorter than 3 tokens have
    no grams and no row (TRAPS #20); every other doc appears even at
    novelty 0."""
    d = load_table(spark, sf_dir, "documents")
    return api.ngram_novelty(d, "doc_id", "text", n=3).select(
        "doc_id", "n_grams", "n_novel", R4(F.col("novelty")).alias("novelty")
    )


# --------------------------------------------------------------------
# L39 — cross-source overlap matrix (contamination, generalized)
# --------------------------------------------------------------------

_L39_ORACLE = """
WITH toks AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(generate_series(1, len(t) - 3),
                               i -> array_to_string(t[i:i+3], ' '))) AS g
  FROM toks WHERE len(t) >= 4
),
v AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.source_a, p.source_b, p.n_shared,
       floor(p.n_shared / CAST(least(va.vocab, vb.vocab) AS DOUBLE)
             * 1e4 + 0.5) / 1e4 AS overlap_coef
FROM pairs p
JOIN v va ON va.source = p.source_a
JOIN v vb ON vb.source = p.source_b
"""


@query("l39_source_overlap_matrix", oracle=_L39_ORACLE)
def l39_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L39: cross-source overlap matrix — L15's eval-vs-train
    contamination check generalized to EVERY source pair: distinct
    4-token shingles shared between each pair, normalized by the
    smaller side's shingle vocabulary (the overlap coefficient — 1.0
    means one source's content is a subset of the other's, the
    mirror-site signature that Jaccard underreports when sizes
    differ). The audit a mixing policy (L16) should consult before
    treating sources as independent. Counts exact; one division, R4.
    Pairs sharing nothing emit no row — absence IS the clean verdict
    (sparse output, DQ6's rationale inverted).

    Scale (the L11 one-lineage device): ONE gram lineage, keyed once.
    Grams build map-side as 128-bit keys (gram_keys) with the source
    attached (no doc→source join-back, no
    (source, shingle) distinct exchange — within-doc dedup is
    array_distinct in the map expression), then ONE shingle-keyed
    exchange aggregates each gram's distinct source set
    (collect_set — map-side partial sets, so the shuffle carries
    per-task-deduped source lists, never raw gram rows twice as the
    old self-join did). Pairs AND the vocab diagonal both explode
    MAP-SIDE from each gram's sorted source array (x ≤ y: the
    self-pair (a, a) counts the gram iff a contains it, i.e. the
    diagonal IS the vocab — one aggregation produces the whole
    matrix). Fan-out per gram is k + C(k, 2) with k ≤ |sources|
    (measured at sf0.1: 303 k lanes over 211 k grams, max k = 6,
    bounded by the source count at any corpus size). The vocab
    diagonal attaches through two windows over the ≤ s² matrix rows,
    so the corpus lineage is derived once.
    """
    d = load_table(spark, sf_dir, "documents")
    gs = gram_keys(d, "source", 4)
    # sorted distinct source array per gram → (x, y) with x <= y
    # enumerates each unordered pair once, self-pairs included (the
    # diagonal = per-source vocab), map-side (the q26 pair device)
    pair_expr = F.expr(
        "flatten(transform(ss, (x, i) ->"
        " transform(slice(ss, i + 1, size(ss)),"
        " y -> struct(x AS source_a, y AS source_b))))"
    )
    cells = (
        gs.groupBy("h1", "h2")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .select(F.explode(pair_expr).alias("pr"))
        .select("pr.source_a", "pr.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # vocab attaches via two windows over the ≤ s² matrix rows (the
    # diagonal value within each row/column group) — no join back, no
    # second derivation of the corpus lineage, no checkpoint. Each
    # window shuffles only the matrix (bounded by the source count).
    diag = F.max(
        F.when(F.col("source_a") == F.col("source_b"), F.col("n"))
    )
    return (
        cells.withColumn(
            "va", diag.over(Window.partitionBy("source_a"))
        )
        .withColumn("vb", diag.over(Window.partitionBy("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.col("n").alias("n_shared"),
            R4(
                F.col("n") / F.least("va", "vb").cast("double")
            ).alias("overlap_coef"),
        )
    )


# L40: BM25 retrieval. Query set is a fixed literal (4 queries × 2-3
# terms) shared verbatim with the oracle; terms absent from the corpus
# drop out of the inner join on both sides identically.
_BM25_QUERY_TERMS = [
    (1, "spark"), (1, "query"),
    (2, "hash"), (2, "join"), (2, "merge"),
    (3, "stream"), (3, "window"), (3, "batch"),
    (4, "filter"), (4, "scan"),
]

_L40_ORACLE = f"""
WITH qt(query_id, term) AS (
  VALUES {", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERY_TERMS)}
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*) AS nd, avg(CAST(dl AS DOUBLE)) AS avgdl
          FROM dl CROSS JOIN (SELECT count(*) FROM documents)),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
term_score AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(floor(
           ln(1 + (stats.nd - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
           * 10000 + 0.5) AS BIGINT) AS units
  FROM qt
  JOIN tf ON tf.token = qt.term
  JOIN dfreq ON dfreq.token = qt.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT query_id, doc_id, sum(units) AS score_units
  FROM term_score GROUP BY 1, 2
)
SELECT query_id, doc_id,
       CAST(score_units AS DOUBLE) / 10000 AS bm25,
       rn
FROM (
  SELECT query_id, doc_id, score_units,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_units DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


@query("l40_bm25_retrieval", oracle=_L40_ORACLE)
def l40_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L40: BM25 top-5 retrieval (k1=1.2, b=0.75) for a fixed query set
    — the classic lexical retrieval scorer a training-data pipeline
    uses for decontamination lookups and RAG-corpus indexing."""
    d = load_table(spark, sf_dir, "documents")
    qt = spark.createDataFrame(_BM25_QUERY_TERMS, "query_id INT, term STRING")
    return api.bm25_retrieve(d, "doc_id", "text", qt, k=5, k1=1.2, b=0.75)


# L41: DSIR-style data-selection importance weights (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# rank raw documents by how target-like they are under a pair of
# Laplace-smoothed unigram LMs. Target domain = lang='en' docs.
_L41_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
raw_cnt AS (SELECT token, count(*) AS cr FROM tok GROUP BY 1),
tgt_cnt AS (SELECT token, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS tr,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS tt,
         CAST(count(DISTINCT token) AS DOUBLE) AS v
  FROM tok
),
unit AS (
  SELECT tf.doc_id,
         tf.tf * CAST(floor(
           (ln((coalesce(tgt_cnt.ct, 0) + 1.0) / (tot.tt + tot.v))
            - ln((raw_cnt.cr + 1.0) / (tot.tr + tot.v))) * 1e6 + 0.5
         ) AS BIGINT) AS units
  FROM tf
  JOIN raw_cnt USING (token)
  LEFT JOIN tgt_cnt USING (token)
  CROSS JOIN tot
)
SELECT doc_id, lang, n_chars,
       floor(CAST(units AS DOUBLE) / 100 + 0.5) / 10000 AS log_ir_weight
FROM (SELECT doc_id, sum(units) AS units FROM unit GROUP BY 1)
JOIN documents USING (doc_id)
"""


@query("l41_dsir_importance", oracle=_L41_ORACLE)
def l41_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L41: DSIR importance weights — per-document log p_target(x) −
    log p_raw(x) under Laplace-smoothed unigram LMs, the published
    importance-resampling score for selecting pretraining data that
    matches a target domain (here: the 'en' slice), joined back to the
    document's lang and length. The oracle rounds the integer 1e-6
    units, so they are recovered exactly (|units| ≪ 2^50) before the
    one divide."""
    d = load_table(spark, sf_dir, "documents")
    w = api.dsir_weights(d, "doc_id", "text", F.col("lang") == "en")
    units = F.round(F.col("log_ir_weight") * 1e6).cast("long")
    return w.join(d.select("doc_id", "lang", "n_chars"), "doc_id").select(
        "doc_id",
        "lang",
        "n_chars",
        (F.floor(units.cast("double") / 100 + F.lit(0.5)) / 10000).alias(
            "log_ir_weight"
        ),
    )


# L43 — temperature-scaled mixture weights (the GPT-3/PaLM pretraining
# sampling rule: w_s ∝ n_s^α with α=0.7, then a fixed token budget
# apportioned by weight).
_L43_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
u AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1e6 + 0.5) AS BIGINT)
             AS units
  FROM s
),
tot AS (SELECT sum(units) AS tu FROM u)
SELECT source, n_docs, n_tokens,
       floor((CAST(units AS DOUBLE) / tu) * 10000 + 0.5) / 10000 AS mix_share,
       CAST(floor(100000 * (CAST(units AS DOUBLE) / tu) + 0.5) AS BIGINT)
           AS tokens_at_budget,
       floor((100000 * (CAST(units AS DOUBLE) / tu) / n_tokens) * 10000 + 0.5)
           / 10000 AS oversample_x
FROM u CROSS JOIN tot
"""


@query(
    "l43_temperature_mixture",
    oracle=_L43_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def l43_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L43: temperature-scaled source mixture — w_s ∝ n_tokens^0.7, the
    per-source share of a 100k-token budget, and the oversampling
    factor each source would see. L16 APPLIES given rates
    deterministically; L43 COMPUTES the rates — together they close
    the mixing loop."""
    d = load_table(spark, sf_dir, "documents")
    return api.mixture_weights(d, "source", "text", alpha=0.7, token_budget=100000).select(
        "source",
        "n_docs",
        "n_tokens",
        R4(F.col("mix_share")).alias("mix_share"),
        "tokens_at_budget",
        R4(F.col("oversample_x")).alias("oversample_x"),
    )


# --------------------------------------------------------------------
# L44 — dedup impact report (survivorship bias audit)
# --------------------------------------------------------------------

_L44_ORACLE = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
  FROM documents
),
keep AS (
  SELECT source, ntok FROM (
    SELECT source, ntok,
           row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM d) WHERE rn = 1
),
pre AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs_before,
         sum(ntok) AS tokens_before
  FROM d GROUP BY source
),
post AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs_after,
         sum(ntok) AS tokens_after
  FROM keep GROUP BY source
),
tot AS (
  SELECT sum(docs_before) AS tb,
         (SELECT sum(docs_after) FROM post) AS ta
  FROM pre
)
SELECT p.source, docs_before,
       COALESCE(docs_after, 0) AS docs_after,
       tokens_before,
       COALESCE(tokens_after, 0) AS tokens_after,
       floor((1 - COALESCE(docs_after, 0) / CAST(docs_before AS DOUBLE))
             * 1e4 + 0.5) / 1e4 AS dup_rate,
       floor(docs_before / CAST(tb AS DOUBLE) * 1e4 + 0.5) / 1e4
         AS share_before,
       floor(COALESCE(docs_after, 0) / CAST(ta AS DOUBLE) * 1e4 + 0.5) / 1e4
         AS share_after,
       floor((COALESCE(docs_after, 0) / CAST(ta AS DOUBLE)
              - docs_before / CAST(tb AS DOUBLE)) * 1e4 + 0.5) / 1e4
         AS share_drift
FROM pre p LEFT JOIN post USING (source) CROSS JOIN tot
"""


@query(
    "l44_dedup_impact_report",
    oracle=_L44_ORACLE,
    eager=EAGER_CHECKPOINT,
)
def l44_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L44: dedup impact report — what does L1's exact dedup DO to the
    corpus mix? Per source: docs/tokens before and after global
    content-hash dedup (keeper = min doc_id per md5(text), L1's exact
    contract), the per-source dup rate, and the share DRIFT — the
    survivorship-bias number (a source that syndicates widely loses
    docs to earlier keepers, so its post-dedup share drops without
    anyone deciding that). A duplicate group's surviving mass belongs
    to the KEEPER's source; sources losing ALL docs survive with
    zeros. Counts exact; rates/shares single divisions R4."""
    d = load_table(spark, sf_dir, "documents")
    return api.dedup_impact(d, "source", "text", "doc_id").select(
        F.col("group").alias("source"),
        "docs_before",
        "docs_after",
        "tokens_before",
        "tokens_after",
        *[R4(F.col(c)).alias(c) for c in
          ("dup_rate", "share_before", "share_after", "share_drift")],
    )


# --------------------------------------------------------------------
# L45 — language-tag mismatch audit (label-vs-content confusion census)
# --------------------------------------------------------------------

_L45_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS token
  FROM documents
),
scored AS (
  SELECT doc_id, any_value(lang) AS lang_true, any_value(source) AS source,
         count(*) FILTER (WHERE token IN ('the','and','of','to','in','is','that')) AS en_hits,
         count(*) FILTER (WHERE token IN ('el','la','de','que','y','en','los')) AS es_hits,
         count(*) FILTER (WHERE token IN ('der','die','und','das','ist','von','den')) AS de_hits,
         count(*) FILTER (WHERE token IN ('le','la','de','et','les','des','un')) AS fr_hits
  FROM tok GROUP BY doc_id
),
pred AS (
  SELECT source, lang_true,
         CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'und'
              WHEN en_hits >= greatest(es_hits, de_hits, fr_hits) THEN 'en'
              WHEN es_hits >= greatest(de_hits, fr_hits) THEN 'es'
              WHEN de_hits >= fr_hits THEN 'de'
              ELSE 'fr' END AS lang_pred
  FROM scored
),
cell AS (
  SELECT source, lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2, 3
),
st AS (SELECT source, sum(n_docs) AS ns FROM cell GROUP BY source)
SELECT c.source, lang_true, lang_pred, n_docs,
       lang_pred <> 'und' AND lang_pred <> lang_true AS is_mismatch,
       floor(n_docs / CAST(ns AS DOUBLE) * 1e4 + 0.5) / 1e4 AS source_share
FROM cell c JOIN st USING (source)
"""


@query("l45_langtag_mismatch_audit", oracle=_L45_ORACLE)
def l45_langtag_mismatch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L45: language-tag mismatch audit — where does the corpus's
    lang METADATA disagree with its CONTENT? The label-quality verb
    the curation tier was missing: L6c predicts a language from
    stopword evidence, ML3 from trained n-gram likelihoods, but
    nothing AUDITED the tag column against either. Output is the
    per-source confusion census (tagged lang × predicted lang, doc
    counts, each cell's share of its source) with mismatch cells
    flagged — the table a curator reads before trusting `lang` as a
    training-data filter key (a mis-tagged zh/en source poisons both
    language buckets; L16's mixing and L43's temperatures both key on
    these tags).

    `und` predictions (no stopword evidence — zh has no list in the
    L6c heuristic, so zh docs are structurally `und`) are NOT counted
    as mismatches: absence of evidence is not disagreement, and the
    und row per source is its own visible cell. The predictor is
    L6c's pinned stopword vote verbatim (same lists, same precedence
    tiebreak) — swap in ML3's likelihood argmax for a trained audit;
    the census shape is unchanged.

    Scale: explode → per-doc conditional agg (map-side combinable) →
    ≤ |sources|·|langs|² cell census; the per-source total is a
    ≤|sources|-row broadcast join. Nothing corpus-sized past the
    per-doc combine.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", "source", F.explode(F.split("text", " ")).alias("token")
    )
    stop = {
        "en": ["the", "and", "of", "to", "in", "is", "that"],
        "es": ["el", "la", "de", "que", "y", "en", "los"],
        "de": ["der", "die", "und", "das", "ist", "von", "den"],
        "fr": ["le", "la", "de", "et", "les", "des", "un"],
    }
    # lang/source are functionally dependent on doc_id — group keys,
    # not any_value() aggregates: string agg BUFFERS force
    # SortAggregate (two full sorts of the exploded token table);
    # keys keep the plan HashAggregate (r12 optimization, same rows).
    scored = tok.groupBy(
        "doc_id",
        F.col("lang").alias("lang_true"),
        "source",
    ).agg(
        *[
            F.count(F.when(F.col("token").isin(words), 1)).alias(f"{lg}_hits")
            for lg, words in stop.items()
        ],
    )
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in stop])
    pred = (
        F.when(best == 0, "und")
        .when(F.col("en_hits") >= F.greatest("es_hits", "de_hits", "fr_hits"), "en")
        .when(F.col("es_hits") >= F.greatest("de_hits", "fr_hits"), "es")
        .when(F.col("de_hits") >= F.col("fr_hits"), "de")
        .otherwise("fr")
    )
    cell = (
        scored.select("source", "lang_true", pred.alias("lang_pred"))
        .groupBy("source", "lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    st = cell.groupBy("source").agg(F.sum("n_docs").alias("ns"))
    return cell.join(F.broadcast(st), "source").select(
        "source",
        "lang_true",
        "lang_pred",
        "n_docs",
        (
            (F.col("lang_pred") != "und")
            & (F.col("lang_pred") != F.col("lang_true"))
        ).alias("is_mismatch"),
        R4(F.col("n_docs") / F.col("ns").cast("double")).alias("source_share"),
    )


# --------------------------------------------------------------------
# L46 — BPE merge rounds (distributed tokenizer-training kernel)
# --------------------------------------------------------------------

_L46_ORACLE = r"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE w <> '' GROUP BY w
),
s0 AS (
  SELECT ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS seq,
         cnt
  FROM wf
),
p1 AS (SELECT unnest(list_transform(range(1, len(string_split(trim(seq),' '))),
        i -> string_split(trim(seq),' ')[i] || ' '
             || string_split(trim(seq),' ')[i+1])) AS pair, cnt FROM s0),
b1 AS (SELECT pair, sum(cnt) AS n FROM p1 GROUP BY 1
       ORDER BY n DESC, pair LIMIT 1),
s1 AS (SELECT replace(replace(seq,
         ' ' || (SELECT pair FROM b1) || ' ',
         ' ' || replace((SELECT pair FROM b1), ' ', '') || ' '),
         ' ' || (SELECT pair FROM b1) || ' ',
         ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ') AS seq,
       cnt FROM s0),
p2 AS (SELECT unnest(list_transform(range(1, len(string_split(trim(seq),' '))),
        i -> string_split(trim(seq),' ')[i] || ' '
             || string_split(trim(seq),' ')[i+1])) AS pair, cnt FROM s1),
b2 AS (SELECT pair, sum(cnt) AS n FROM p2 GROUP BY 1
       ORDER BY n DESC, pair LIMIT 1),
s2 AS (SELECT replace(replace(seq,
         ' ' || (SELECT pair FROM b2) || ' ',
         ' ' || replace((SELECT pair FROM b2), ' ', '') || ' '),
         ' ' || (SELECT pair FROM b2) || ' ',
         ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ') AS seq,
       cnt FROM s1),
p3 AS (SELECT unnest(list_transform(range(1, len(string_split(trim(seq),' '))),
        i -> string_split(trim(seq),' ')[i] || ' '
             || string_split(trim(seq),' ')[i+1])) AS pair, cnt FROM s2),
b3 AS (SELECT pair, sum(cnt) AS n FROM p3 GROUP BY 1
       ORDER BY n DESC, pair LIMIT 1),
s3 AS (SELECT replace(replace(seq,
         ' ' || (SELECT pair FROM b3) || ' ',
         ' ' || replace((SELECT pair FROM b3), ' ', '') || ' '),
         ' ' || (SELECT pair FROM b3) || ' ',
         ' ' || replace((SELECT pair FROM b3), ' ', '') || ' ') AS seq,
       cnt FROM s2)
SELECT 1 AS round, (SELECT pair FROM b1) AS pair,
       (SELECT n FROM b1) AS n_occurrences,
       (SELECT CAST(count(DISTINCT sym) AS BIGINT)
        FROM (SELECT unnest(string_split(trim(seq),' ')) AS sym FROM s1))
         AS vocab_after
UNION ALL
SELECT 2, (SELECT pair FROM b2), (SELECT n FROM b2),
       (SELECT CAST(count(DISTINCT sym) AS BIGINT)
        FROM (SELECT unnest(string_split(trim(seq),' ')) AS sym FROM s2))
UNION ALL
SELECT 3, (SELECT pair FROM b3), (SELECT n FROM b3),
       (SELECT CAST(count(DISTINCT sym) AS BIGINT)
        FROM (SELECT unnest(string_split(trim(seq),' ')) AS sym FROM s3))
"""


@query(
    "l46_bpe_merge_rounds",
    oracle=_L46_ORACLE,
    eager="learns BPE merges on the driver, one collect per merge round",
)
def l46_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L46: byte-pair-encoding merge rounds — the TOKENIZER-TRAINING
    kernel, distributed: three unrolled BPE rounds over the corpus
    word-frequency table (count adjacent symbol pairs weighted by
    word frequency → adopt the most frequent pair as a merge rule →
    rewrite). The missing piece of the LLM-data tier: L6/L10/L30
    consume a tokenizer; L46 is how one is BUILT — and classic BPE
    (Sennrich et al.) trains exactly this way, on the word-frequency
    table, never the raw corpus, which is the whole scale story: the
    expensive corpus scan happens ONCE (word counts), every round
    after runs on the bounded word-type table.

    Determinism pinned: tie-break = max count then lexicographically
    smallest pair; merge = leftmost non-overlapping occurrences,
    realized as a DOUBLE space-anchored string replace (' a b ' →
    ' ab ') — the second pass catches occurrences whose shared
    boundary space the first pass consumed (' e r e r ': pass 1
    merges #1 and skips #2; pass 2 finishes — validated against a
    symbol-level Python BPE reference on this corpus). Space
    anchoring on BOTH sides prevents prefix-capture of longer
    symbols; both engines' replace() scans left-to-right
    non-overlapping, so the rewrite is identical.

    n_occurrences is the PAIR FREQUENCY at selection time — the
    statistic BPE ranks on — which for an a==b pair counts
    overlap-inclusively while the leftmost rewrite merges fewer
    (floor(run/2) per run); for a≠b pairs occurrences are provably
    disjoint and count == merges (property-tested).

    The three merge rules are driver state BY DESIGN (the IVF
    centroid precedent): each is one argmax row collected from a
    bounded agg; the returned table is the merge TABLE a tokenizer
    would persist — (round, pair, n_occurrences, vocab_after).

    Scale: one corpus scan → word-frequency agg (bounded word types,
    Zipf-truncated in practice); per round one pair-explode over the
    word table (O(word_len) pairs/word), one partial/final agg to
    |pair| cells, one top-1, one map-side rewrite. At 10⁶ word types
    × 3 rounds this is seconds; the corpus is never rescanned.
    """
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seqs = wf.select(
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace("w", "(.)", "$1 ")),
            F.lit(" "),
        ).alias("seq"),
        "cnt",
    ).localCheckpoint()
    pair_expr = F.expr(
        "zip_with(slice(split(trim(seq),' '), 1, "
        "size(split(trim(seq),' ')) - 1), "
        "slice(split(trim(seq),' '), 2, "
        "size(split(trim(seq),' ')) - 1), "
        "(a, b) -> concat(a, ' ', b))"
    )
    rows = []
    for rnd in (1, 2, 3):
        best = (
            seqs.select(F.explode(pair_expr).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        pat = F.lit(" " + best["pair"] + " ")
        rep = F.lit(" " + best["pair"].replace(" ", "") + " ")
        seqs = seqs.select(
            F.replace(F.replace(F.col("seq"), pat, rep), pat, rep).alias(
                "seq"
            ),
            "cnt",
        ).localCheckpoint()
        vocab = (
            seqs.select(
                F.explode(F.split(F.trim(F.col("seq")), " ")).alias("sym")
            )
            .agg(F.countDistinct("sym").alias("v"))
            .collect()[0]["v"]
        )
        rows.append((rnd, best["pair"], best["n"], vocab))
    return spark.createDataFrame(
        rows, "round int, pair string, n_occurrences long, vocab_after long"
    )


# --------------------------------------------------------------------
# L46b — BPE APPLY (tokenize the corpus with the learned merges)
# --------------------------------------------------------------------


def _bpe_round_sql(i: int) -> str:
    """One DuckDB BPE training round (pair census → argmax → double
    space-anchored rewrite), identical to the l46 oracle chain but
    carrying the word `w` through so the final seq maps back to word
    types for the APPLY step."""
    prev = f"s{i - 1}"
    return f"""
p{i} AS (SELECT unnest(list_transform(range(1, len(string_split(trim(seq),' '))),
        i -> string_split(trim(seq),' ')[i] || ' '
             || string_split(trim(seq),' ')[i+1])) AS pair, cnt FROM {prev}),
b{i} AS (SELECT pair, sum(cnt) AS n FROM p{i} GROUP BY 1
       ORDER BY n DESC, pair LIMIT 1),
s{i} AS (SELECT w, replace(replace(seq,
         ' ' || (SELECT pair FROM b{i}) || ' ',
         ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' '),
         ' ' || (SELECT pair FROM b{i}) || ' ',
         ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' ') AS seq,
       cnt FROM {prev}),"""


_L46B_CHAIN = (
    r"""
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n_w
       FROM toks WHERE w <> '' GROUP BY 1, 2),
wf AS (SELECT w, CAST(sum(n_w) AS BIGINT) AS cnt FROM dw GROUP BY 1),
s0 AS (SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS seq,
       cnt FROM wf),"""
    + _bpe_round_sql(1)
    + _bpe_round_sql(2)
    + _bpe_round_sql(3)
    + r"""
wl AS (SELECT w,
              CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS bpe_len,
              CAST(len(w) AS BIGINT) AS char_len
       FROM s3),
pd AS (SELECT dw.doc_id,
              CAST(sum(dw.n_w) AS BIGINT) AS ws_tokens,
              CAST(sum(dw.n_w * wl.char_len) AS BIGINT) AS char_tokens,
              CAST(sum(dw.n_w * wl.bpe_len) AS BIGINT) AS bpe_tokens
       FROM dw JOIN wl USING (w) GROUP BY 1)"""
)

_L46B_ORACLE = f"""
WITH {_L46B_CHAIN}
SELECT d.doc_id,
       COALESCE(pd.ws_tokens, 0) AS ws_tokens,
       COALESCE(pd.char_tokens, 0) AS char_tokens,
       COALESCE(pd.bpe_tokens, 0) AS bpe_tokens,
       CASE WHEN COALESCE(pd.char_tokens, 0) > 0
            THEN floor((1.0 - CAST(pd.bpe_tokens AS DOUBLE) / pd.char_tokens)
                       * 10000 + 0.5) / 10000
            ELSE 0.0 END AS merge_savings
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def _bpe_train_and_word_lengths(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared L46b kernel: train 3 BPE merge rounds on the word-
    frequency table (identical semantics to l46 — same pair census,
    same max-count/lexicographic tie-break, same double space-anchored
    leftmost rewrite), then APPLY the learned merges to every word
    TYPE and return (dw, wl): the per-(doc, word) count table and the
    word-type table with its BPE length under the merges.

    The scale contract of classic BPE, both phases: the corpus is
    scanned ONCE (the doc×word count agg); training and application
    both run on the BOUNDED word-type table (Zipf: ~10⁶–10⁷ types at
    100 TB), never on corpus rows. The learned merges are driver
    state by design — 3 strings, the IVF-centroid precedent.
    """
    docs = load_table(spark, sf_dir, "documents")
    dw = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .localCheckpoint(eager=False)  # feeds train AND the apply join
    )
    wf = dw.groupBy("w").agg(F.sum("n_w").alias("cnt"))
    seqs = wf.select(
        "w",
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace("w", "(.)", "$1 ")),
            F.lit(" "),
        ).alias("seq"),
        "cnt",
    ).localCheckpoint()
    pair_expr = F.expr(
        "zip_with(slice(split(trim(seq),' '), 1, "
        "size(split(trim(seq),' ')) - 1), "
        "slice(split(trim(seq),' '), 2, "
        "size(split(trim(seq),' ')) - 1), "
        "(a, b) -> concat(a, ' ', b))"
    )
    for _ in range(3):
        best = (
            seqs.select(F.explode(pair_expr).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()[0]
        )
        pat = F.lit(" " + best["pair"] + " ")
        rep = F.lit(" " + best["pair"].replace(" ", "") + " ")
        seqs = seqs.select(
            "w",
            F.replace(F.replace(F.col("seq"), pat, rep), pat, rep).alias(
                "seq"
            ),
            "cnt",
        ).localCheckpoint()
    wl = seqs.select(
        "w",
        F.size(F.split(F.trim(F.col("seq")), " ")).cast("long").alias(
            "bpe_len"
        ),
        F.length("w").cast("long").alias("char_len"),
    )
    return dw, wl


def _bpe_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts under the learned merges — the
    join-back step: (doc, word, n_w) ⋈ (word, bpe_len) on the word
    key, then one per-doc sum. The join is a plain equi-join whose
    build side is the word-TYPE table — broadcastable through ~10⁶
    types; past that it shuffles on `w`, still |types|-bounded, never
    corpus×types. Docs whose text holds no tokens survive via the
    left join with zero counts."""
    docs = load_table(spark, sf_dir, "documents")
    dw, wl = _bpe_train_and_word_lengths(spark, sf_dir)
    pd = (
        dw.join(wl, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_w").cast("long").alias("ws_tokens"),
            F.sum(F.col("n_w") * F.col("char_len"))
            .cast("long")
            .alias("char_tokens"),
            F.sum(F.col("n_w") * F.col("bpe_len"))
            .cast("long")
            .alias("bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(pd, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("ws_tokens", F.lit(0)).alias("ws_tokens"),
            F.coalesce("char_tokens", F.lit(0)).alias("char_tokens"),
            F.coalesce("bpe_tokens", F.lit(0)).alias("bpe_tokens"),
        )
    )


@query(
    "l46b_bpe_apply",
    eager="learns BPE merges on the driver, one collect per merge round",
    oracle=_L46B_ORACLE,
    note="the hashed result is the full per-document tokenization "
    "census under the LEARNED merges — training and application are "
    "both replayed by the oracle in pure SQL (same tie-breaks, same "
    "double space-anchored rewrite), so a drift in either phase "
    "hash-fails",
)
def l46b_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L46b: BPE APPLY — tokenize the corpus WITH l46's learned
    merges, closing the tokenizer loop (r11 verdict next-round #3):
    l46 trains merge rules but every downstream token count (l43
    mixture weights, l30 packing budgets) used whitespace tokens;
    after this verb the learned vocabulary feeds the budget
    arithmetic (l43b composes exactly that).

    Semantics: classic BPE application — each word type is split to
    characters and the merge rules are replayed IN LEARNED ORDER
    (same leftmost non-overlapping double-replace device as training,
    so train and apply provably agree on the rewrite). Per document:
    ws_tokens (whitespace words), char_tokens (the pre-merge symbol
    count = total characters), bpe_tokens (symbols after the merges),
    and merge_savings = 1 − bpe/chars — the compression the 3 learned
    rules buy, per doc.

    Scale: one corpus scan → (doc, word) counts; training AND
    application run on the word-TYPE table (Zipf-bounded); the only
    corpus-keyed wide op is the final per-doc sum. Adding merge
    rounds changes driver state, not the plan shape.
    """
    return _bpe_per_doc(spark, sf_dir).select(
        "doc_id",
        "ws_tokens",
        "char_tokens",
        "bpe_tokens",
        F.when(
            F.col("char_tokens") > 0,
            R4(
                F.lit(1.0)
                - F.col("bpe_tokens").cast("double")
                / F.col("char_tokens")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("merge_savings"),
    )


_L43B_ORACLE = f"""
WITH {_L46B_CHAIN},
src AS (
  SELECT d.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(COALESCE(pd.bpe_tokens, 0)) AS BIGINT) AS n_bpe_tokens
  FROM documents d LEFT JOIN pd USING (doc_id)
  GROUP BY 1
),
u AS (
  SELECT source, n_docs, n_bpe_tokens,
         CAST(floor(pow(CAST(n_bpe_tokens AS DOUBLE), 0.7) * 1e6 + 0.5)
              AS BIGINT) AS units
  FROM src
),
tot AS (SELECT sum(units) AS tu FROM u)
SELECT source, n_docs, n_bpe_tokens,
       floor((CAST(units AS DOUBLE) / tu) * 10000 + 0.5) / 10000 AS mix_share,
       CAST(floor(100000 * (CAST(units AS DOUBLE) / tu) + 0.5) AS BIGINT)
           AS tokens_at_budget,
       floor((100000 * (CAST(units AS DOUBLE) / tu) / n_bpe_tokens) * 10000
             + 0.5) / 10000 AS oversample_x
FROM u CROSS JOIN tot
"""


@query(
    "l43b_bpe_temperature_mixture",
    eager="learns BPE merges on the driver, one collect per merge round",
    oracle=_L43B_ORACLE,
    note="l43's temperature mixture re-based on REAL tokenizer counts "
    "— the l46b per-doc BPE census aggregated per source feeds the "
    "0.7-power sampling rule, so mixture weights now reflect the "
    "learned vocabulary, not whitespace splits",
)
def l43b_bpe_temperature_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L43b: temperature-scaled source mixture over BPE token counts
    — the composed query the r11 verdict asked for: l46b's learned-
    merge tokenization feeds l43's w_s ∝ n_tokens^0.7 budget
    arithmetic. Token budgets are meaningful only in the tokenizer's
    own units: whitespace counts under-weight sources whose text
    compresses poorly (long words, rare vocabulary), and the gap
    between l43 and l43b shares IS that bias, now measurable.

    Plan shape: the l46b kernel (corpus scanned once, word-type-table
    training/apply) → per-source partial sums → the same tiny-table
    arithmetic as l43 (integer 1e-6 units before the total; one
    broadcast 1-row total leg).
    """
    per_doc = _bpe_per_doc(spark, sf_dir)
    s = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )
    u = s.withColumn(
        "units",
        F.floor(
            F.pow(F.col("n_bpe_tokens").cast("double"), 0.7) * 1e6
            + F.lit(0.5)
        ).cast("long"),
    ).localCheckpoint(eager=False)
    tot = u.agg(F.sum("units").alias("tu"))
    share = F.col("units").cast("double") / F.col("tu")
    return u.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_bpe_tokens",
        R4(share * 1).alias("mix_share"),
        F.floor(F.lit(100000) * share + F.lit(0.5)).cast("long").alias(
            "tokens_at_budget"
        ),
        R4(F.lit(100000) * share / F.col("n_bpe_tokens")).alias(
            "oversample_x"
        ),
    )


_L51_ORACLE = """
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
ep AS (SELECT 0 AS epoch UNION ALL SELECT 1),
a AS (
  SELECT ep.epoch, d.doc_id, d.n_tokens,
         ((d.doc_id * 2654435761 + ep.epoch * 2246822519) % 4294967296)
           % 8 AS shard,
         (d.doc_id * 2654435761 + ep.epoch * 2246822519 + 1013904223)
           % 4294967296 AS okey
  FROM d CROSS JOIN ep
)
SELECT epoch, shard, doc_id, n_tokens,
       CAST(row_number() OVER (
         PARTITION BY epoch, shard ORDER BY okey, doc_id
       ) AS BIGINT) AS pos
FROM a
"""


@query(
    "l51_epoch_shard_shuffle",
    oracle=_L51_ORACLE,
    note="the hashed result is the FULL per-document (epoch, shard, "
    "position) assignment for two training epochs — deterministic "
    "Knuth-multiplicative-hash arithmetic (exact integer on both "
    "engines), so the global shuffle is reproducible from the seed "
    "alone; epochs provably permute differently",
)
def l51_epoch_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L51: deterministic epoch shuffle + shard assignment — the
    training-loader verb every 100 TB pipeline needs and almost none
    write down: each epoch must visit the corpus in a DIFFERENT
    pseudo-random order, reproducibly (re-running epoch 3 after a
    crash must yield the identical order), with documents spread
    across N reader shards so loaders pull disjoint, balanced
    streams. A true global sort per epoch is an O(corpus) shuffle per
    epoch; the hash device makes the permutation a PROJECTION:
    shard = h(doc_id, epoch) mod N and the within-shard order key is
    another affine hash — one narrow map per epoch, the only wide op
    the per-shard rank (equivalently: write with
    repartition(N, shard) + sortWithinPartitions(okey), each shard
    one sorted file). Knuth multiplicative hashing (ml12's device)
    keeps every value exact BIGINT arithmetic on both engines, so
    the ENTIRE assignment — all docs × 2 epochs — is value-hashed
    against the twin, not spot-checked.

    Epoch independence is structural: the epoch term shifts the hash
    before the modulus, so epoch 0 and epoch 1 produce different
    shard sets and different within-shard orders (the census test
    asserts the permutations differ). Balance follows from the
    multiplier's equidistribution (tested loosely: no shard > 2x
    the mean).

    Scale: per epoch one map + one per-shard window (partitioned by
    the 8 shards — at 100 TB, N is thousands and each window
    partition is one reader's file); nothing global, no join, the
    corpus is read once per epoch it feeds.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    M = 2_654_435_761  # Knuth multiplicative constant
    E = 2_246_822_519  # epoch salt (xxhash prime)
    C = 1_013_904_223  # LCG increment (Numerical Recipes)
    TWO32 = 4_294_967_296
    a = d.select(
        F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch"),
        "doc_id",
        "n_tokens",
    )
    base = F.col("doc_id") * F.lit(M) + F.col("epoch") * F.lit(E)
    a = a.select(
        "epoch",
        "doc_id",
        "n_tokens",
        ((base % TWO32) % 8).alias("shard"),
        ((base + C) % TWO32).alias("okey"),
    )
    w = Window.partitionBy("epoch", "shard").orderBy("okey", "doc_id")
    return a.select(
        "epoch",
        "shard",
        "doc_id",
        "n_tokens",
        F.row_number().over(w).cast("long").alias("pos"),
    )

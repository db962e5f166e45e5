"""Text-analysis family: tokenization, quality, language id, LM scores,
packing, retrieval, data selection and mixture audits.

A function here is the only body of its operator. The registry's
oracle-checked queries (a22, l10, l27, l30, l32, l38, l40, l41, l43,
l44, ml17) load their table, make one call with fixed literals, and
shape the output at the edge (column renames, 4-dp rounding), so the
plan shapes documented below are what users and the oracle tests both
run. Functions return raw doubles; round at the edge. Import via
``from lightcurator_spark import api``.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark.api.dedup import gram_array


def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_col: str,
    token_count_col: str,
    budget: int,
    shard_width: int = 100,
) -> DataFrame:
    """Sequence packing (L30): assign each row to a fixed token-budget
    bin — offset packing, row → bin ``floor(cum_tokens_before /
    budget)`` over the deterministic ``order_col`` order. Bins fill to
    ≥ budget with overflow bounded by the largest row; all arithmetic
    is integer, so assignment is engine-exact. The window partitions
    on (group, ``order_col div shard_width``) — shards scale with the
    corpus, so a low-cardinality group column never funnels the sort
    (TRAPS.md #17). Returns the input plus (shard, bin_idx)."""
    if budget <= 0 or shard_width <= 0:
        raise ValueError("pack_sequences: budget and shard_width must be > 0")
    clash = {"shard", "bin_idx", "__cb"} & set(df.columns)
    if clash:
        raise ValueError(
            f"pack_sequences: input already has column(s) {sorted(clash)}; "
            "rename them first — silently overwriting a caller's shard "
            "assignment would corrupt downstream layout"
        )
    t = df.withColumn("shard", F.expr(f"{order_col} div {shard_width}"))
    wprev = (
        Window.partitionBy(group_col, "shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = F.coalesce(F.sum(token_count_col).over(wprev), F.lit(0))
    return (
        t.withColumn("__cb", cb)
        .withColumn("bin_idx", F.expr(f"__cb div {budget}"))  # integer div
        .drop("__cb")
    )


def tokenize_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token statistics (L6 shape): token count, distinct
    tokens, type-token ratio, mean token length — all map-side."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("type_token_ratio"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__len_sum"),
    ).withColumn("mean_token_len", F.col("__len_sum") / F.col("n_tokens")).drop(
        "__len_sum"
    )


def quality_mask(
    df: DataFrame,
    text_col: str = "text",
    min_chars: int = 100,
    max_chars: int = 2000,
    min_tokens: int = 30,
    lang_col: str | None = None,
    allowed_langs: tuple[str, ...] = ("en", "es", "de", "fr"),
) -> DataFrame:
    """Composable document-quality mask (L8 shape): appends boolean flag
    columns plus a combined ``passes`` column; filter or aggregate
    survival stats downstream without re-deriving the flags."""
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(F.split(F.col(text_col), " "))
    out = df.withColumn("len_ok", n_chars.between(min_chars, max_chars)).withColumn(
        "tokens_ok", n_tokens >= min_tokens
    )
    passes = F.col("len_ok") & F.col("tokens_ok")
    if lang_col is not None:
        out = out.withColumn("lang_ok", F.col(lang_col).isin(*allowed_langs))
        passes = passes & F.col("lang_ok")
    return out.withColumn("passes", passes)


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window token chunking (L10 shape): whitespace-tokenize
    ``text_col`` and emit one row per (doc, window) with the chunk
    text, its token count, and a 0-based chunk index. Pure map-side
    (split → sequence → explode → slice): linear in corpus bytes, a
    document never crosses partitions. Trailing chunks may be shorter
    than ``window``. The token array is bound in its own projection
    below the explode, so ``split`` runs once per document rather than
    once per emitted chunk."""
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__tokens"))
    out = toks.select(
        id_col,
        "__tokens",
        F.explode(
            F.sequence(F.lit(0), F.size("__tokens") - 1, F.lit(stride))
        ).alias("__start"),
    )
    chunk = F.slice("__tokens", F.col("__start") + 1, window)
    return out.select(
        id_col,
        (F.col("__start") / stride).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def lang_id(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Stopword-voting language ID → (id, lang_pred, stopword_ratio) —
    the L6c heuristic parameterized over any (id, text) frame and any
    language→stopword-list profile (swap in character-n-gram profiles
    for production; the relational shape — explode → conditional agg →
    deterministic argmax — is identical). Ties break by profile order."""
    stop = stopwords or {
        "en": ["the", "and", "of", "to", "in", "is", "that"],
        "es": ["el", "la", "de", "que", "y", "en", "los"],
        "de": ["der", "die", "und", "das", "ist", "von", "den"],
        "fr": ["le", "la", "de", "et", "les", "des", "un"],
    }
    langs = list(stop)
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(F.split(text_col, " ")).alias("__tok")
    )
    scored = tok.groupBy("__id").agg(
        *[
            F.count(F.when(F.col("__tok").isin(ws), 1)).alias(f"__{lg}_hits")
            for lg, ws in stop.items()
        ],
        F.count(F.lit(1)).alias("__n"),
    )
    best = F.greatest(*[F.col(f"__{lg}_hits") for lg in langs])
    pred = F.when(best == 0, "und")
    for i, lg in enumerate(langs[:-1]):
        rest = [F.col(f"__{x}_hits") for x in langs[i + 1 :]]
        cmp = F.col(f"__{lg}_hits") >= (rest[0] if len(rest) == 1 else F.greatest(*rest))
        pred = pred.when(cmp, lg)
    pred = pred.otherwise(langs[-1])
    return scored.select(
        F.col("__id").alias(id_col),
        pred.alias("lang_pred"),
        (best / F.col("__n")).alias("stopword_ratio"),
    )


def zipf_slope(
    df: DataFrame, group_col: str, text_col: str, top_k: int = 20
) -> DataFrame:
    """Zipf rank-frequency slope per group (L32): OLS slope of ln(freq)
    on ln(rank) over each group's top_k whitespace tokens — natural
    text sits near −1; ~0 flags template/machine-flooded shards. Rank
    ties break on the token string so reruns are deterministic; the
    rank window sees vocabulary-sized pre-aggregated rows only."""
    tok = df.select(
        group_col, F.explode(F.split(F.col(text_col), " ")).alias("__tok")
    )
    tf = tok.groupBy(group_col, "__tok").agg(F.count(F.lit(1)).alias("__cnt"))
    w = Window.partitionBy(group_col).orderBy(F.col("__cnt").desc(), "__tok")
    top = (
        tf.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= top_k)
        .select(
            group_col,
            F.log(F.col("__rnk").cast("double")).alias("__x"),
            F.log(F.col("__cnt").cast("double")).alias("__y"),
        )
    )
    m = top.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = F.col("n_terms")
    return m.select(
        group_col,
        "n_terms",
        (
            (n * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
            / (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        ).alias("zipf_slope"),
    )


def ngram_novelty(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Share of each document's distinct n-grams first seen in THIS
    document, with `id_col` as arrival order (L38). Returns
    (<id_col>, n_grams, n_novel, novelty); documents shorter than n
    tokens have no grams and no row.

    A document's novel-gram count is exactly the number of grams whose
    min(id) IS that document, so the first-occurrence dictionary is
    re-aggregated by its winner directly instead of joined back onto
    the gram table (a corpus-sized join at scale). Within-doc gram
    dedup is ``array_distinct`` in the map expression (gram_array), so
    no (doc, gram) distinct exchange exists: gram strings cross the
    network once, in the map-side-combined min-agg. A fully map-side
    per-doc leg (size of the gram array, no exchange) was measured and
    rejected: fresh 1.60 s vs 1.42 s but warm 0.045 s vs 0.55 s, since
    a leg without an exchange rebuilds its grams on every re-run."""
    sh = docs.select(
        F.col(id_col).alias("__id"), gram_array(text_col, n).alias("__gs")
    ).select("__id", F.explode("__gs").alias("__g"))
    per_doc = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        sh.groupBy("__g")
        .agg(F.min("__id").alias("__id"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    n_novel = F.coalesce("n_novel", F.lit(0))
    return per_doc.join(novel, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_grams",
        n_novel.alias("n_novel"),
        (n_novel / F.col("n_grams").cast("double")).alias("novelty"),
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.8
) -> DataFrame:
    """Interpolated bigram-LM log-prob per document (L27): mean of
    ln(λ·P(w₂|w₁) + (1−λ)·P(w₂)) with the LM estimated from the
    corpus itself, the KenLM-style perplexity gate. Returns
    (<id_col>, n_bigrams, avg_bigram_logprob).

    Bigrams are built MAP-SIDE from each doc's token array (a slide via
    transform over the index range, no positional self-join); the
    unigram tables are vocabulary-sized and broadcast, the total is a
    1-row leg. Measured and rejected: aggregating per-doc bigram
    multiplicities first and re-reading that exchange for the LM table
    (one bigram explode, a ReusedExchange) won under the bench profile
    but lost under the cluster profile (AQE on, 128 partitions) at 1x
    (1.09 s vs 1.40 s) and on the 16x replica (2.94 s vs 5.26 s): the
    LM leg's map-side combine shuffles dictionary-sized partials, the
    reuse re-reads doc-granular rows."""
    lam = float(lam)
    # decimal complement: 1 − 0.8 is 0.2 exactly, as in SQL, not the
    # binary 0.19999999999999996
    lam_c = float(1 - Decimal(repr(lam)))
    toks = df.select(
        F.col(id_col).alias("__id"), F.split(F.col(text_col), " ").alias("__t")
    )
    uc = toks.select(F.explode("__t").alias("__w")).groupBy("__w").agg(
        F.count(F.lit(1)).alias("__c")
    )
    un = uc.agg(F.sum("__c").alias("__n"))
    bigrams = (
        toks.filter(F.size("__t") >= 2)
        .select(
            "__id",
            F.explode(
                F.transform(
                    F.slice("__t", 1, F.size("__t") - 1),
                    lambda w, i: F.struct(
                        w.alias("w1"), F.element_at("__t", i + 2).alias("w2")
                    ),
                )
            ).alias("__bg"),
        )
        .select("__id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    )
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    u1 = uc.select(F.col("__w").alias("w1"), F.col("__c").alias("__c1"))
    u2 = uc.select(F.col("__w").alias("w2"), F.col("__c").alias("__c2"))
    scored = (
        bigrams.join(bc, ["w1", "w2"])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(un))
        .select(
            "__id",
            F.log(
                F.lit(lam)
                * (F.col("__cb").cast("double") / F.col("__c1").cast("double"))
                + F.lit(lam_c)
                * (F.col("__c2").cast("double") / F.col("__n").cast("double"))
            ).alias("__lp"),
        )
    )
    return (
        scored.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("__lp").alias("avg_bigram_logprob"),
        )
        .withColumnRenamed("__id", id_col)
    )


def group_entropy(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Shannon entropy (nats) + Herfindahl index of the per-item count
    distribution inside each group (A22) — source/shard concentration
    auditing. Ships the moment decomposition entropy = ln(Σc) −
    Σ(c·ln c)/Σc, HHI = Σc²/(Σc)², so the plan is two stacked aggs in
    ONE lineage (the share-based formula's total-first join-back
    re-scans the input). Raw doubles; round at the edge."""
    cu = df.groupBy(group_col, item_col).agg(F.count(F.lit(1)).alias("__c"))
    c = F.col("__c")
    m = cu.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(c).alias("n_rows"),
        F.sum(c * F.log(c.cast("double"))).alias("__sclnc"),
        F.sum(c.cast("double") * c).alias("__sc2"),
    )
    tc = F.col("n_rows")
    return m.select(
        group_col,
        "n_items",
        "n_rows",
        (F.log(tc.cast("double")) - F.col("__sclnc") / tc).alias("entropy"),
        (F.col("__sc2") / (tc.cast("double") * tc)).alias("hhi"),
    )


def bm25_retrieve(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-`k` documents per query (L40). `queries` carries
    (query_id, term) rows — multi-term queries are multiple rows.
    Returns (query_id, <id_col>, bm25, rn).

    Plan: ONE token explode feeds tf; dl, df and the corpus stats
    (N, avgdl) all derive from tf (sum of tf = doc length, rows per
    token = doc frequency), so the (doc, token) exchange is planned
    once and re-read. The stats stay a lazy 1-row leg cross-joined in,
    never a driver scalar; the query-term table broadcasts onto tf and
    also prunes the df leg to the query's terms. Each per-term score
    quantizes to integer 1e-4 units BEFORE the per-(query, doc) sum
    (integer addition is associative, double addition is not) and the
    ranking orders by those units with an id tie-break.
    """
    # isnotnull(id): the dl join pushes that filter into the scoring
    # leg's tf subtree only, which leaves dl/stats with a different
    # canonical subtree and their own corpus explode (3 explodes, 1
    # reuse). Stating it up front keeps ONE shared exchange; null ids
    # could never join dl anyway.
    tok = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).filter(F.col("__id").isNotNull())
    tf = tok.groupBy("__id", "__tok").agg(F.count(F.lit(1)).alias("__tf"))
    dl = tf.groupBy("__id").agg(F.sum("__tf").alias("__dl"))
    qt = queries.select("query_id", F.col("term").alias("__term"))
    # the __tf >= 1 tautology is load-bearing: without a reference to
    # the tf value, RemoveRedundantAggregates collapses this leg to a
    # distinct over a THIRD corpus explode instead of re-reading tf's
    # exchange
    dfreq = (
        tf.filter(F.col("__tf") >= 1)
        .groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__df"))
        .join(F.broadcast(qt.select("__term").distinct()),
              F.col("__tok") == F.col("__term"))
        .select("__tok", "__df")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__nd"),
        F.avg(F.col("__dl").cast("double")).alias("__avgdl"),
    )
    idf = F.log(
        F.lit(1) + (F.col("__nd") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    raw = idf * (F.col("__tf") * (k1 + 1.0)) / (
        F.col("__tf") + k1 * ((1.0 - b) + b * F.col("__dl") / F.col("__avgdl"))
    )
    units = (
        tf.join(F.broadcast(qt), tf.__tok == qt.__term)
        .join(dfreq, "__tok")
        .join(dl, "__id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "__id",
            F.floor(raw * 10000 + F.lit(0.5)).cast("long").alias("__u"),
        )
        .groupBy("query_id", "__id")
        .agg(F.sum("__u").alias("__units"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__units").desc(), F.col("__id")
    )
    return (
        units.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("__id").alias(id_col),
            (F.col("__units").cast("double") / 10000).alias("bm25"),
            "rn",
        )
    )


def dsir_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
) -> DataFrame:
    """DSIR importance weights (L41): per-document log p_target −
    log p_raw under Laplace-smoothed unigram LMs, where `target` is a
    boolean Column marking the target-domain rows (e.g.
    `F.col("lang") == "en"`). Higher = more target-like; resample the
    raw corpus proportionally to exp(weight) to match the target
    distribution (Xie et al. 2023). Returns (<id_col>, log_ir_weight).

    One token explode feeds per-doc tf; both LMs and the 1-row totals
    leg derive from tf, and the scoring joins key on the token. The
    per-token log-ratio quantizes to integer 1e-6 units BEFORE the tf
    multiply and per-doc sum (integer addition is associative), so
    log_ir_weight is exactly units / 1e6.
    """
    tok = docs.select(
        F.col(id_col).alias("__id"),
        target.alias("__tgt"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    )
    tf = tok.groupBy("__id", "__tgt", "__tok").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    # LMs and totals derive from tf (the L40 leg-reuse discipline)
    raw = tf.groupBy("__tok").agg(F.sum("__tf").alias("__cr"))
    tgt = (
        tf.filter(F.col("__tgt"))
        .groupBy("__tok")
        .agg(F.sum("__tf").alias("__ct"))
    )
    tot = tf.agg(
        F.sum("__tf").cast("double").alias("__tr"),
        F.sum(F.when(F.col("__tgt"), F.col("__tf")).otherwise(0))
        .cast("double")
        .alias("__tt"),
        F.countDistinct("__tok").cast("double").alias("__v"),
    )
    lr = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + 1.0) / (F.col("__tt") + F.col("__v"))
    ) - F.log((F.col("__cr") + 1.0) / (F.col("__tr") + F.col("__v")))
    return (
        tf.join(raw, "__tok")
        .join(tgt, "__tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "__id",
            (F.col("__tf") * F.floor(lr * 1e6 + F.lit(0.5)).cast("long")).alias(
                "__u"
            ),
        )
        .groupBy("__id")
        .agg(F.sum("__u").alias("__units"))
        .select(
            F.col("__id").alias(id_col),
            (F.col("__units").cast("double") / 1e6).alias("log_ir_weight"),
        )
    )


def mixture_weights(
    docs: DataFrame,
    source_col: str,
    text_col: str,
    alpha: float = 0.7,
    token_budget: int = 100000,
) -> DataFrame:
    """Temperature-scaled source mixture (L43): w_s ∝ n_tokens^alpha
    (the GPT-3/PaLM rule that flattens the source-size distribution),
    each source's share of `token_budget`, and its oversampling factor
    (> 1: the source repeats within one budget epoch). Returns
    (<source_col>, n_docs, n_tokens, mix_share, tokens_at_budget,
    oversample_x).

    One map-side token count, partial-aggregated to a source-sized
    table, lazily checkpointed so the 1-row unit-total leg re-reads
    those cells rather than the corpus. pow(n, alpha) quantizes to
    integer 1e-6 units per source BEFORE the total; shares divide the
    integer units once."""
    s = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    u = s.withColumn(
        "__units",
        F.floor(
            F.pow(F.col("n_tokens").cast("double"), alpha) * 1e6 + F.lit(0.5)
        ).cast("long"),
    ).localCheckpoint(eager=False)
    tot = u.agg(F.sum("__units").alias("__tu"))
    share = F.col("__units").cast("double") / F.col("__tu")
    return u.crossJoin(F.broadcast(tot)).select(
        source_col,
        "n_docs",
        "n_tokens",
        share.alias("mix_share"),
        F.floor(F.lit(token_budget) * share + F.lit(0.5))
        .cast("long")
        .alias("tokens_at_budget"),
        (F.lit(token_budget) * share / F.col("n_tokens")).alias(
            "oversample_x"
        ),
    )


def dedup_impact(
    df: DataFrame,
    group_col: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Dedup impact report (L44): per group, docs/tokens before vs
    after exact content-hash dedup (keeper = min id per md5(text),
    mass attributed to the KEEPER's group), the dup rate and the
    share drift — the survivorship-bias audit to run before trusting
    post-dedup mixing weights. Groups losing every doc survive with
    zeros. Returns (group, docs_before, docs_after, tokens_before,
    tokens_after, dup_rate, share_before, share_after, share_drift)."""
    d = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("group"),
        F.md5(F.col(text_col).cast("binary")).alias("__h"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("__ntok"),
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("__h").orderBy("__id")
    keep = d.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    pre = d.groupBy("group").agg(
        F.count(F.lit(1)).alias("docs_before"),
        F.sum("__ntok").alias("tokens_before"),
    )
    post = keep.groupBy("group").agg(
        F.count(F.lit(1)).alias("docs_after"),
        F.sum("__ntok").alias("tokens_after"),
    )
    joined = pre.join(post, "group", "left").select(
        "group",
        "docs_before",
        F.coalesce("docs_after", F.lit(0)).alias("docs_after"),
        "tokens_before",
        F.coalesce("tokens_after", F.lit(0)).alias("tokens_after"),
    ).localCheckpoint(eager=False)
    tot = joined.agg(
        F.sum("docs_before").alias("__tb"), F.sum("docs_after").alias("__ta")
    )
    sb = F.col("docs_before") / F.col("__tb").cast("double")
    sa = F.col("docs_after") / F.col("__ta").cast("double")
    return joined.crossJoin(F.broadcast(tot)).select(
        "group",
        "docs_before",
        "docs_after",
        "tokens_before",
        "tokens_after",
        (
            1 - F.col("docs_after") / F.col("docs_before").cast("double")
        ).alias("dup_rate"),
        sb.alias("share_before"),
        sa.alias("share_after"),
        (sa - sb).alias("share_drift"),
    )


def source_jsd(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the token
    distributions of each pair of groups (L47): the symmetric,
    bounded (≤ ln 2) corpus-distance matrix behind merge/keep mixture
    decisions. Laplace-smoothed over the shared vocabulary; tokens
    absent from both sides of a pair collapse into one closed-form
    term, so nothing densifies to pairs×vocab. The pair matrix is
    k(k−1)/2 — keep `group_col` a curated, bounded set. Returns
    (group_a, group_b, n_union_tokens, kl_pm, kl_qm, jsd) in nats."""
    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    )
    tf = toks.groupBy("__g", "__tok").agg(F.count(F.lit(1)).alias("__c"))
    ns = tf.groupBy("__g").agg(F.sum("__c").alias("__n"))
    v = toks.agg(F.countDistinct("__tok").alias("__v"))
    a, b = ns.alias("a"), ns.alias("b")
    pr = (
        a.crossJoin(b)
        .filter(F.col("a.__g") < F.col("b.__g"))
        .crossJoin(F.broadcast(v))
        .select(
            F.col("a.__g").alias("__sa"),
            F.col("b.__g").alias("__sb"),
            (F.col("a.__n") + F.col("__v")).alias("__na"),
            (F.col("b.__n") + F.col("__v")).alias("__nb"),
            "__v",
        )
    )
    e1 = tf.join(F.broadcast(pr), tf.__g == F.col("__sa")).select(
        "__sa", "__sb", "__tok",
        F.col("__c").alias("__ca"), F.lit(0).alias("__cb"),
    )
    e2 = tf.join(F.broadcast(pr), tf.__g == F.col("__sb")).select(
        "__sa", "__sb", "__tok",
        F.lit(0).alias("__ca"), F.col("__c").alias("__cb"),
    )
    uni = (
        e1.unionByName(e2)
        .groupBy("__sa", "__sb", "__tok")
        .agg(F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb"))
        .join(F.broadcast(pr), ["__sa", "__sb"])
    )
    ca1 = F.col("__ca") + 1
    cb1 = F.col("__cb") + 1
    na, nb = F.col("__na"), F.col("__nb")
    d = ca1 * nb + cb1 * na
    ln2 = F.lit(0.6931471805599453)
    term = uni.groupBy("__sa", "__sb", "__na", "__nb", "__v").agg(
        F.count(F.lit(1)).alias("__u"),
        F.sum(ca1 * (ln2 + F.log(ca1) + F.log(nb) - F.log(d))).alias("__p"),
        F.sum(cb1 * (ln2 + F.log(cb1) + F.log(na) - F.log(d))).alias("__q"),
    )
    absent = (F.col("__v") - F.col("__u")).cast("double")
    kl_pm = (
        F.col("__p") + absent * (ln2 + F.log(nb) - F.log(na + nb))
    ) / na
    kl_qm = (
        F.col("__q") + absent * (ln2 + F.log(na) - F.log(na + nb))
    ) / nb
    return term.select(
        F.col("__sa").alias("group_a"),
        F.col("__sb").alias("group_b"),
        F.col("__u").alias("n_union_tokens"),
        kl_pm.alias("kl_pm"),
        kl_qm.alias("kl_qm"),
        ((kl_pm + kl_qm) / 2).alias("jsd"),
    )


def bpe_merge_table(
    df: DataFrame, text_col: str, rounds: int = 3
) -> list[tuple[int, str, int, int]]:
    """BPE tokenizer-training rounds (L46): learn `rounds` merge rules
    over the corpus word-frequency table — count adjacent symbol
    pairs weighted by word frequency, adopt the most frequent
    (tie-break: lexicographically smallest), rewrite, repeat. The
    corpus is scanned ONCE (word counts); every round runs on the
    bounded word-type table. Merge rules are driver state by design
    (they ARE the tokenizer artifact); returns the merge table
    [(round, 'a b', n_occurrences, vocab_after), ...]."""
    wf = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    seqs = wf.select(
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace("__w", "(.)", "$1 ")),
            F.lit(" "),
        ).alias("__seq"),
        "__cnt",
    ).localCheckpoint()
    pair_expr = F.expr(
        "zip_with(slice(split(trim(__seq),' '), 1, "
        "size(split(trim(__seq),' ')) - 1), "
        "slice(split(trim(__seq),' '), 2, "
        "size(split(trim(__seq),' ')) - 1), "
        "(a, b) -> concat(a, ' ', b))"
    )
    out = []
    for rnd in range(1, rounds + 1):
        agg = (
            seqs.select(F.explode(pair_expr).alias("__pair"), "__cnt")
            .groupBy("__pair")
            .agg(F.sum("__cnt").alias("__n"))
            .orderBy(F.col("__n").desc(), "__pair")
            .limit(1)
            .collect()
        )
        if not agg:
            break  # every word is a single symbol — nothing to merge
        best = agg[0]
        pat = F.lit(" " + best["__pair"] + " ")
        rep = F.lit(" " + best["__pair"].replace(" ", "") + " ")
        seqs = seqs.select(
            F.replace(F.replace(F.col("__seq"), pat, rep), pat, rep).alias(
                "__seq"
            ),
            "__cnt",
        ).localCheckpoint()
        vocab = (
            seqs.select(
                F.explode(F.split(F.trim(F.col("__seq")), " ")).alias("__s")
            )
            .agg(F.countDistinct("__s").alias("v"))
            .collect()[0]["v"]
        )
        out.append((rnd, best["__pair"], best["__n"], vocab))
    return out


def chi2_feature_selection(
    df: DataFrame, id_col: str, text_col: str, class_col: str
) -> DataFrame:
    """χ² feature selection (ML17): score every (token, class) pair by
    the presence/absence contingency χ² — the classic rank-then-prune
    step before training any text classifier. Multiple occurrences in
    one document count once (presence semantics). Degenerate margins
    are excluded. Returns (token, class, n_docs_with, chi2).

    One distinct (doc, token) explode feeds one (token, class)
    partial/final agg; document frequencies re-aggregate that
    vocabulary-bounded cell table, never the corpus (TRAPS #19); class
    counts and N are broadcast-size legs."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__t"),
        F.col(class_col).alias("__c"),
    )
    td = base.select(
        "__id", F.explode(F.split("__t", " ")).alias("token")
    ).distinct()
    n = base.agg(F.count(F.lit(1)).alias("__n"))
    nc = base.groupBy("__c").agg(F.count(F.lit(1)).alias("__ncl"))
    a = (
        td.join(base.select("__id", "__c"), "__id")
        .groupBy("token", "__c")
        .agg(F.count(F.lit(1)).alias("__a"))
    )
    dft = a.groupBy("token").agg(F.sum("__a").alias("__df"))
    x = (
        a.join(dft, "token")
        .join(F.broadcast(nc), "__c")
        .crossJoin(F.broadcast(n))
    )
    A = F.col("__a").cast("double")
    b = (F.col("__df") - F.col("__a")).cast("double")
    c = (F.col("__ncl") - F.col("__a")).cast("double")
    d = (
        F.col("__n") - F.col("__df") - F.col("__ncl") + F.col("__a")
    ).cast("double")
    num = F.col("__n").cast("double") * (A * d - b * c) * (A * d - b * c)
    den = (
        F.col("__df").cast("double")
        * (F.col("__n") - F.col("__df"))
        * F.col("__ncl")
        * (F.col("__n") - F.col("__ncl"))
    )
    return x.filter(
        (F.col("__df") > 0)
        & (F.col("__df") < F.col("__n"))
        & (F.col("__ncl") > 0)
        & (F.col("__ncl") < F.col("__n"))
    ).select(
        "token",
        F.col("__c").alias("class"),
        F.col("__a").alias("n_docs_with"),
        (num / den).alias("chi2"),
    )

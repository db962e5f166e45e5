"""Deduplication operators: exact, MinHash/SimHash near-dup, span-level,
containment, fuzzy, Bloom, semantic, canonicalization and their censuses.

Each function here is the one implementation of its operator. The dedup
``@query`` entries (``operators/dedup.py``, plus l25 and l36/l36b in
their family modules) are driver-checked instantiations of them: input
preparation, one call with the query's literals, then renames, 4-dp
rounding and label mapping for the DuckDB oracle. The n-gram builders
the near-dup and text families share (``gram_array``, ``gram_keys``,
``shingles_raw``) live here as well, so the api imports nothing from
the registry modules.

Tokens are whitespace-split. A document shorter than the shingle width
has no shingles (the oracles' policy), so it yields no pair, no span
row and no removal.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from lightcurator_spark.api.similarity import _dot


def gram_array(text_col: str, n: int, distinct: bool = True) -> Column:
    """Each row's n-token shingles of ``text_col`` as ONE array, built
    entirely map-side; ``distinct=False`` keeps within-row repeats.

    Tokens are whitespace-split (the corpus is space-separated lowercase
    tokens, FIXTURES.md); shingle i joins tokens i..i+n-1. The token
    array is bound ONCE per row through the single-element-array lambda
    (``transform(array(split(..)), t -> ..)``); re-evaluating
    ``split(text)`` at each use inside the generator measured 1.31 s vs
    0.35 s for the bare 3-gram explode at sf0.1. ``sequence(1, 0)`` is
    DESCENDING, so rows shorter than n tokens must take the explicit
    empty-array branch, not a ``slice(…, 0, n)`` crash.

    Distinct mode dedups with ``array_distinct`` inside the map
    expression: two equal (doc, shingle) pairs can only come from the
    same document, so within-doc dedup IS global dedup, and no
    corpus-sized ``(doc, shingle)`` distinct exchange is needed. Raw
    mode is for consumers whose semantics make dedup a no-op (semi-join
    stream sides, build sides that re-``distinct()`` anyway): the
    optimizer can drop a ``.distinct()`` operator under a semi join but
    cannot see into the map expression, so they opt out here (l15's
    semi-join leg measured 1.02 s vs 0.59 s).
    """
    col = text_col.replace("`", "``")
    grams = (
        f"flatten(transform(array(split(`{col}`, ' ')), t ->"
        f" case when size(t) >= {n} then"
        f" transform(sequence(1, size(t) - {n - 1}),"
        f" i -> concat_ws(' ', slice(t, i, {n})))"
        f" else array() end))"
    )
    return F.expr(f"array_distinct({grams})" if distinct else grams)


def shingles_raw(docs: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, shingle) WITH within-doc duplicates (see gram_array)."""
    return docs.select(
        "doc_id", F.explode(gram_array("text", n, distinct=False)).alias("shingle")
    )


def gram_keys(docs: DataFrame, key: str, n: int) -> DataFrame:
    """(key, h1, h2) — one row per distinct n-gram of each row's
    ``text``, the gram carried as a 128-bit key of two xxhash64 lanes
    (the l11 md5-gram device, integer-keyed): a per-gram aggregation
    groups on two longs instead of a ~25-byte string (measured 1.69 s
    vs 1.22 s for l39's agg at sf0.1) and a gram exchange carries 16
    bytes per gram at any corpus size.

    The second lane hashes the salt FIRST, ``xxhash64('s', g)``, i.e.
    the gram under a different seed — the MinHash construction of l3.
    ``xxhash64(g, 's')`` would seed-chain the salt on the first lane's
    value, making h2 a function of h1 and the key 64-bit. With two
    independent lanes the collision bound is ~n²/2^129 (≈1e-15 at
    10^12 grams), the exactness class of l11's md5 keys.
    """
    lanes = F.transform(
        gram_array("text", n),
        lambda g: F.struct(
            F.xxhash64(g).alias("h1"), F.xxhash64(F.lit("s"), g).alias("h2")
        ),
    )
    return docs.select(key, F.explode(lanes).alias("gh")).select(
        key, "gh.h1", "gh.h2"
    )


def dedup_exact(df: DataFrame, key_cols: list[str], order_col: str | None = None) -> DataFrame:
    """Keep one row per key (deterministic representative: smallest
    ``order_col``, defaulting to the first non-key column) — L1 shape,
    one shuffle."""
    oc = order_col or next(c for c in df.columns if c not in key_cols)
    w = Window.partitionBy(*key_cols).orderBy(F.col(oc))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Distinct (id, shingle) pairs of n-token shingles over a
    whitespace-tokenized text column (the shared feature space of the
    near-dup family). Distinct per row through ``gram_array``, so no
    (id, shingle) exchange."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(gram_array(text_col, n)).alias("__shingle"),
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    num_hashes: int = 16,
    band_rows: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs → (id_a, id_b, jaccard) — the
    L3 operator parameterized over any (id, text) frame. Banding turns
    the all-pairs problem into an equi-join on (band_id, band_hash);
    candidates are verified with the exact shingle Jaccard, so output
    precision is exact and only recall is probabilistic (collision
    prob 1−(1−J^r)^b for r=band_rows, b=num_hashes/band_rows)."""
    sh = shingle_pairs(df, id_col, text_col, shingle_n)
    sig = sh.groupBy("__id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("__shingle"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    n_bands = num_hashes // band_rows
    bands = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_id"),
                        F.xxhash64(
                            *[F.col(f"h{bi * band_rows + r}") for r in range(band_rows)]
                        ).alias("band_hash"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("__id", "band.band_id", "band.band_hash")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_id", "band_hash"])
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(F.col("x.__id").alias("id_a"), F.col("y.__id").alias("id_b"))
        .distinct()
    )
    cnt = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("__id").alias("id_a"), "__shingle")
    sb = sh.select(F.col("__id").alias("id_b"), "__shingle")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "__shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = cnt.select(F.col("__id").alias("id_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("__id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-duplicate pairs → (id_a, id_b, hamming) — the L3b
    operator parameterized. 64-bit bit-majority signatures over token
    shingles; 8 × 8-bit bands guarantee (pigeonhole) that any pair
    with Hamming < 8 shares a clean band, so the candidate join is an
    equi-join; xor + bit_count verifies exactly."""
    sh = shingle_pairs(df, id_col, text_col, shingle_n).withColumn(
        "h", F.xxhash64("__shingle")
    )
    bits = sh.select(
        "__id",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
        "h",
    ).withColumn(
        "contrib",
        F.when(
            F.expr("shiftright(h, CAST(bit AS INT))").bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1),
    )
    sig = (
        bits.groupBy("__id", "bit")
        .agg(F.sum("contrib").alias("s"))
        .withColumn(
            "bitval",
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("__id")
        .agg(F.sum("bitval").alias("simhash"))
    )
    bands = sig.select(
        "__id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("band_val"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("b"),
    ).select("__id", "simhash", "b.band_id", "b.band_val")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_id", "band_val"])
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(hamming <= max_hamming).select(
        "id_a", "id_b", hamming.alias("hamming")
    )


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("__id"), F.split(text_col, " ").alias("__t"))


def _duplicated_gram_starts(toks: DataFrame, n: int) -> DataFrame:
    """(__id, __p): the 0-based start of every n-gram of ``__t`` that
    also occurs in another document — the duplicated-span test
    span_dedup_census and strip_duplicated_spans share, so the two agree
    on what counts as duplicated.

    Grams are map-side md5 fingerprints over a sliding slice (16-byte
    uniform keys, no skew). A gram is duplicated iff min(id) ≠ max(id)
    over its occurrences: ONE gram lineage and one gram-keyed window.
    The distinct(gram, id) → count ≥ 2 → join-back chain it replaced
    derived the grams twice, and column pruning specialised the two
    subtrees so they could never share an exchange."""
    grams = (
        toks.filter(F.size("__t") >= n)
        .select(
            "__id",
            F.explode(F.sequence(F.lit(0), F.size("__t") - n)).alias("__p"),
            "__t",
        )
        .select(
            "__id",
            "__p",
            F.md5(F.array_join(F.slice("__t", F.col("__p") + 1, n), " ")).alias("__gh"),
        )
    )
    wgh = Window.partitionBy("__gh")
    return (
        grams.withColumn("__mn", F.min("__id").over(wgh))
        .withColumn("__mx", F.max("__id").over(wgh))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("__id", "__p")
    )


def span_dedup_census(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Substring-level duplicate-span census (L11): per document of at
    least ``n`` tokens, its n-gram positions (``n_grams``), how many of
    them are grams shared with at least one OTHER document, how many
    maximal contiguous duplicated spans those positions form (the
    removable passages), and the duplicated ratio. Returns (id,
    n_grams, n_dup_grams, n_dup_spans, dup_gram_ratio).

    The shuffle-native equivalent of the suffix array of exact-substring
    dedup (Lee et al. 2022): duplicated positions come from
    ``_duplicated_gram_starts``; only they — a small fraction of the
    corpus — flow into the id shuffle, where row_number's
    position-minus-rank trick labels maximal runs without any pairwise
    comparison. Per-document totals never re-derive the gram table:
    ``n_grams`` IS size(tokens) − (n − 1), a map-side expression on the
    token spine. Plan: 2 Exchange / 2 scans / 1 explode, where the
    two-lineage shape had 6 / 3 / 3; fresh 2.6 -> 1.0 s at sf0.1 (n=8).
    No all-pairs stage; cost is linear in corpus tokens."""
    toks = _tokens(df, id_col, text_col).filter(F.size("__t") >= n)
    w = Window.partitionBy("__id").orderBy("__p")
    per_doc = (
        _duplicated_gram_starts(toks, n)
        .withColumn("__island", F.col("__p") - F.row_number().over(w))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.countDistinct("__island").alias("n_dup_spans"),
        )
    )
    tot = toks.select("__id", (F.size("__t") - (n - 1)).cast("long").alias("n_grams"))
    n_dup = F.coalesce("n_dup_grams", F.lit(0))
    return tot.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_grams",
        n_dup.alias("n_dup_grams"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        (n_dup.cast("double") / F.col("n_grams")).alias("dup_gram_ratio"),
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Cross-document duplicated-passage removal (L34): strip every
    token covered by any n-token shingle shared with at least one OTHER
    document and reassemble the surviving text in original order —
    the rewrite step after span_dedup_census, on the same duplicated
    grams. Returns (id, n_tokens, n_kept, n_removed, clean_text) for
    every document; one shorter than ``n`` tokens keeps all of them.

    Covered positions come only from duplicated gram starts (≤ n× the
    duplicated fraction, not the corpus) and aggregate to ONE sorted
    int array per affected document; the text is rebuilt map-side with
    array_except over the position range plus element_at. The
    token-row shape it replaced posexploded every corpus token,
    anti-joined it against covered positions and re-sorted the
    survivors through collect_list(struct): three corpus-sized stages
    for one per-document array expression. Plan: 2 Exchange / 2 scans
    / 1 explode, where that shape had 7 / 4 / 4; fresh 2.9 -> 1.0 s at
    sf0.1 (n=8)."""
    if n < 1:
        raise ValueError(f"need n >= 1, got {n}")
    toks = _tokens(df, id_col, text_col)
    # tp ranges of overlapping duplicated grams merge via
    # array_distinct + sort
    cov = (
        _duplicated_gram_starts(toks, n)
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(F.sequence(F.col("__p") + 1, F.col("__p") + n))
                    )
                )
            ).alias("__cov")
        )
    )
    # kept positions = [1..size] minus covered, in order (array_except
    # preserves the left side's order)
    kept = F.array_except(
        F.sequence(F.lit(1), F.size("__t")), F.coalesce("__cov", F.array())
    )
    return toks.join(cov, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.size("__t").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("__t") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, lambda i: F.element_at("__t", i)), " ").alias(
            "clean_text"
        ),
    )


def symspell_fuzzy_join(
    vocab: DataFrame, name_col: str, max_dist: int = 2
) -> DataFrame:
    """**Deletion-neighborhood (SymSpell) join**: all pairs of ``vocab``
    strings with ``levenshtein ≤ max_dist`` (max_dist ∈ {1, 2}).

    If lev(a,b) ≤ 2 then deleting ≤ 2 characters from each side
    reaches a common string (a substitution deletes one char from both
    sides, an insert/delete from one), so generating every
    ≤2-deletion variant (1 + n + n(n-1)/2 per string, pure codegen'd
    substring surgery — no UDF) and equi-joining on the variant string
    yields a candidate superset; exact ``levenshtein`` verification
    keeps precision at 1.0. The variant string is a well-distributed
    equi-join key: at 100 TB this is one shuffle on variants, never an
    all-pairs comparison — the index SymSpell builds in RAM, expressed
    as a join. Returns (name_a, name_b, edit_dist) with name_a < name_b.
    """
    if max_dist not in (1, 2):
        raise ValueError("symspell_fuzzy_join supports max_dist 1 or 2")
    names = vocab.select(F.col(name_col).alias("name")).distinct()
    n = F.length("name")
    d0 = names.select("name", F.col("name").alias("variant"))
    d1 = names.select(
        "name",
        F.explode(F.expr(
            "transform(sequence(1, length(name)), i ->"
            " concat(substring(name, 1, i - 1),"
            "        substring(name, i + 1, length(name))))"
        )).alias("variant"),
    )
    variants = d0.unionByName(d1)
    if max_dist == 2:
        d2 = names.select(
            "name",
            F.explode(F.expr(
                "flatten(transform(sequence(1, length(name) - 1), i ->"
                " transform(sequence(i + 1, length(name)), j ->"
                "  concat(substring(name, 1, i - 1),"
                "         substring(name, i + 1, j - i - 1),"
                "         substring(name, j + 1, length(name))))))"
            )).alias("variant"),
        ).filter(n >= 2)
        variants = variants.unionByName(d2)
    variants = variants.distinct()

    a = variants.select(F.col("name").alias("name_a"), "variant")
    b = variants.select(F.col("name").alias("name_b"), "variant")
    cand = (
        a.join(b, "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.withColumn("edit_dist", dist.cast("long"))
        .filter(F.col("edit_dist") <= max_dist)
    )


def fuzzy_join(vocab: DataFrame, name_col: str, max_dist: int = 2) -> DataFrame:
    """Edit-distance similarity join (lev ≤ ``max_dist``, 1 or 2) over a
    string vocabulary via the SymSpell deletion-neighborhood equi-join
    (L22) — candidate generation by ≤k-deletion variants, exact
    `levenshtein` verify, never all-pairs. Returns
    (name_a, name_b, edit_dist) with name_a < name_b."""
    return symspell_fuzzy_join(vocab, name_col, max_dist)


def bloom_known_filter(
    incoming: DataFrame,
    reference: DataFrame,
    key_col: str,
    m_bits: int = 16384,
    k: int = 4,
) -> DataFrame:
    """Flag each incoming row whose ``key_col`` exists in ``reference``
    (L21b's Bloom pattern, parameterized): build an ``m_bits``/``k``
    Bloom bitmap from the reference keys distributively (explode +
    bit_or — never a row-wise collect), ship it as a literal array,
    pre-filter incoming MAP-SIDE, and verify only Bloom positives with
    an exact join. Adds an ``is_known`` 0/1 column; result is exactly
    the plain semi-join's answer. Scale ``m_bits`` ≈ 10 bits per
    reference key; the verify join's probe side shrinks to true
    matches + ~0.1% false positives."""
    n_words = m_bits // 64
    ref = reference.select(F.col(key_col).alias("__key")).distinct()

    def hash_pos(col, i):
        return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))

    bits = ref.select(
        F.explode(
            F.array(*[hash_pos(F.col("__key"), i) for i in range(k)])
        ).alias("pos")
    ).select(
        (F.col("pos") / 64).cast("int").alias("word"),
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
        ).alias("bit"),
    )
    words = {
        r.word: r.mask
        for r in bits.groupBy("word").agg(F.bit_or("bit").alias("mask")).collect()
    }
    bloom = F.array(*[F.lit(int(words.get(w, 0))) for w in range(n_words)])

    probe = incoming.withColumn("__bloom", bloom)
    hit = None
    for i in range(k):
        pos = hash_pos(F.col(key_col), i)
        word = F.element_at("__bloom", (pos / 64).cast("int") + 1)
        test = (
            word.bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
                )
            )
            != 0
        )
        hit = test if hit is None else (hit & test)
    probe = probe.withColumn("__hit", hit).drop("__bloom")

    candidates = probe.filter(F.col("__hit"))
    negatives = probe.filter(~F.col("__hit"))
    verified = candidates.join(
        F.broadcast(ref.withColumn("__known", F.lit(1))),
        F.col(key_col) == F.col("__key"),
        "left",
    ).select(
        *incoming.columns, F.coalesce(F.col("__known"), F.lit(0)).alias("is_known")
    )
    return verified.unionByName(
        negatives.select(*incoming.columns, F.lit(0).alias("is_known"))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    tau: float = 0.42,
    seed: int = 42,
    probes: int = 2,
) -> DataFrame:
    """SemDeDup-style embedding dedup (L20): k-means coarse-partitions
    the corpus; each vector joins its ``probes`` nearest cells
    (multi-probe — the recall fix for near-dup pairs split by a cell
    boundary, measured 0.30 → 0.78 on the test corpus); exact cosine
    runs only between vectors sharing a probed cell (equi-join —
    never O(n²)); any vector with a lower-id neighbor above ``tau``
    in a shared cell is dropped. Returns (id, cell_id, kept)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ev = df.withColumn(
        "__feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    km = KMeans(k=k, seed=seed, featuresCol="__feat", predictionCol="cell_id")
    centers = [list(map(float, c)) for c in km.fit(ev).clusterCenters()]
    v = F.col(vec_col).cast("array<double>")
    nrm2 = _dot(vec_col, vec_col)

    def dot_center(ctr):
        return F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in ctr]), lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    structs = F.array(
        *[
            F.struct(
                (nrm2 - 2 * dot_center(c) + F.lit(sum(x * x for x in c))).alias(
                    "d2"
                ),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centers)
        ]
    )
    top = F.slice(F.array_sort(structs), 1, probes)
    assigned = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.sqrt(nrm2).alias("__nrm"),
        F.transform(top, lambda s: s["cell"]).alias("__probe_cells"),
        F.element_at(F.transform(top, lambda s: s["cell"]), 1).alias("cell_id"),
    )
    a = assigned.select(
        F.col("__id").alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__nrm").alias("__na"),
        F.explode("__probe_cells").alias("__cell"),
    )
    b = assigned.select(
        F.col("__id").alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__nrm").alias("__nb"),
        F.explode("__probe_cells").alias("__cell"),
    )
    dropped = (
        a.join(b, "__cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(_dot("__va", "__vb") / (F.col("__na") * F.col("__nb")) > tau)
        .select(F.col("__idb").alias("__id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__drop", F.lit(1)), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cell_id",
            F.when(F.col("__drop").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


def canonicalize_duplicates(
    df: DataFrame, id_col: str, text_col: str, quality_col: str
) -> DataFrame:
    """Duplicate-cluster canonicalization (L26): token-set fingerprint
    clusters, keep the member with max quality (ties → min id) via a
    single scalar bigint argmax key (TRAPS.md #11); requires
    id < 10^7."""
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " "
        )
    )
    key = F.col(quality_col) * F.lit(10_000_000) - F.col(id_col)
    return (
        df.select(
            fp.alias("set_fp"),
            F.col(id_col).alias("__id"),
            F.col(quality_col).alias("__q"),
            key.alias("__key"),
        )
        .groupBy("set_fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.expr("max_by(__id, __key)").alias("canonical_id"),
            F.max("__q").alias("canonical_quality"),
            (F.count(F.lit(1)) - 1).alias("removed_count"),
        )
        .filter(F.col("cluster_size") >= 2)
    )


def prefix_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau_num: int = 9,
    tau_den: int = 10,
) -> DataFrame:
    """Exact token-set Jaccard self-join at τ = tau_num/tau_den via
    AllPairs prefix filtering (L25): global rarest-first token order,
    integer prefix bound n − ⌈τn⌉ + 1, candidates from a prefix⋈prefix
    equi-join, exact array_intersect verify with the integer threshold
    den·inter ≥ num·union — no all-pairs stage, no float boundary."""
    if not 0 < tau_num < tau_den:
        raise ValueError(
            f"prefix_jaccard_join: require 0 < tau_num < tau_den, got "
            f"{tau_num}/{tau_den} (tau must be in (0, 1); tau = 1 would "
            f"shrink every prefix to zero tokens)"
        )
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("__tk"),
    )
    tf = tok.groupBy("__tk").agg(F.count(F.lit(1)).alias("__nt"))
    tokf = tok.join(F.broadcast(tf), "__tk")
    wd = Window.partitionBy("__id").orderBy("__nt", "__tk")
    wn = Window.partitionBy("__id")
    ranked = tokf.withColumn("__rn", F.row_number().over(wd)).withColumn(
        "__n", F.count(F.lit(1)).over(wn)
    )
    # ⌈num·n/den⌉ = ⌊(num·n + den − 1)/den⌋ — the additive constant is
    # den − 1, NOT num (r4 ADVICE: num only coincides at τ = 9/10; a
    # smaller num made the prefix longer than needed — correct but
    # slower — and num = den made it zero, silently dropping all pairs).
    p = (
        F.col("__n")
        - F.floor(
            (tau_num * F.col("__n") + (tau_den - 1)) / F.lit(float(tau_den))
        )
        + 1
    )
    prefix = ranked.filter(F.col("__rn") <= p).select("__id", "__tk")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.__tk") == F.col("b.__tk"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b"))
        .distinct()
    )
    sets = tok.groupBy("__id").agg(
        F.sort_array(F.collect_set("__tk")).alias("__ts"),
        F.count(F.lit(1)).alias("__n"),
    )
    sa = sets.select(
        F.col("__id").alias("doc_a"), F.col("__ts").alias("__ta"),
        F.col("__n").alias("__na"),
    )
    sb = sets.select(
        F.col("__id").alias("doc_b"), F.col("__ts").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("long")
    union = F.col("__na") + F.col("__nb") - F.col("inter_size")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter_size", inter)
        .filter(tau_den * F.col("inter_size") >= tau_num * union)
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            union.alias("union_size"),
            (F.col("inter_size").cast("double") / union.cast("double")).alias(
                "jaccard"
            ),
        )
    )


def containment_join(
    df: DataFrame, id_col: str, text_col: str, n: int = 4, tau: float = 0.5
) -> DataFrame:
    """Directional shingle containment C(A→B) = |sh(A)∩sh(B)|/|sh(A)|
    over distinct n-token shingles, kept where C ≥ tau (L33) — the
    quote/subsumption detector Jaccard misses (a short document quoted
    inside a long one has a small intersection against the UNION).
    Emits both directions: (id_a, id_b, n_shared, containment).

    ONE gram lineage, keyed once: grams ride as gram_keys' 128-bit hash
    pair, ONE gram-keyed exchange aggregates each gram's id set, and
    every ORDERED id pair — self-pairs included — explodes map-side
    from that set. The (a, a) diagonal count IS |sh(A)|, so per-doc
    sizes need no window over the gram table and no join-back (TRAPS
    #19: the "size table" never exists); |sh(A)| attaches via an
    id_a-partitioned window over the PAIR table. Fan-out per gram is k²
    for k documents sharing it (4-gram df is naturally tiny: max k = 6
    at sf0.1). The two-lineage shape it replaced sorted both sides of a
    shingle self-join; measured fresh 1.84 -> 1.2 s at sf0.1. The gate
    compares exact integers scaled by tau's Fraction parts, so
    membership cannot drift between engines."""
    if not 0 < tau <= 1:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    fr = Fraction(tau).limit_denominator(1_000_000)
    gs = gram_keys(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("text")),
        "__id",
        n,
    )
    pair_expr = F.expr(
        "flatten(transform(ds, x ->"
        " transform(ds, y -> struct(x AS id_a, y AS id_b))))"
    )
    p = (
        gs.groupBy("h1", "h2")
        .agg(F.collect_set("__id").alias("ds"))
        .select(F.explode(pair_expr).alias("pr"))
        .select("pr.id_a", "pr.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    n_a = F.max(F.when(F.col("id_a") == F.col("id_b"), F.col("n_shared"))).over(
        Window.partitionBy("id_a")
    )
    return (
        p.withColumn("__na", n_a)
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("n_shared") * fr.denominator >= F.col("__na") * fr.numerator)
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("__na")).alias("containment"),
        )
    )


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    phash_col: str,
    max_hamming: int = 6,
    n_bands: int = 7,
    band_bits: int = 9,
) -> DataFrame:
    """Banded Hamming near-dup join over a precomputed perceptual-hash
    column (L36 generalized): candidates from the (band_idx, band_val)
    equi-join, exact bit_count(xor) verification. Completeness holds
    whenever max_hamming < n_bands (pigeonhole: some band is
    untouched); the default 7×9 bands cover a 63-bit pHash at
    Hamming ≤ 6. Hashes shuffle, payloads never do."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding incomplete: max_hamming={max_hamming} needs more "
            f"than {n_bands} bands (pigeonhole requires max_hamming < n_bands)"
        )
    mask = (1 << band_bits) - 1
    bands = df.select(
        F.col(id_col).alias("_id"),
        F.col(phash_col).alias("_h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright(phash_col, band_bits * i)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for i in range(n_bands)
            ])
        ).alias("b"),
    ).select("_id", "_h", "b.band_idx", "b.band_val")
    a = bands.select(
        F.col("_id").alias("id_a"), F.col("_h").alias("h_a"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col("_id").alias("id_b"), F.col("_h").alias("h_b"),
        "band_idx", "band_val",
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
    )


def maintain_dedup_index(
    index: DataFrame, changes: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Apply a txlog change feed (S20e rows with a `change_type`
    column) to a fingerprint dedup index of (fp, <id_col>) rows (L42):
    delete keys leave by anti-join, inserts enter by union. Returns
    the updated index — maintenance I/O is proportional to the
    changes, never the index's corpus."""
    dels = changes.filter(F.col("change_type") == "delete").select(
        F.md5(text_col).alias("fp"), id_col
    )
    ins = changes.filter(F.col("change_type") == "insert").select(
        F.md5(text_col).alias("fp"), id_col
    )
    return index.join(dels, ["fp", id_col], "left_anti").unionByName(ins)


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    cluster_col: str,
    weights: tuple[int, int, int] = (8, 1, 1),
) -> DataFrame:
    """Dedup-safe split assignment (L48): attach a deterministic
    train/val/test split keyed on the CLUSTER id (near-dup cluster,
    exact-dup group, user, …) so no cluster ever straddles splits —
    the similarity-leakage guard P9's temporal split can't provide.
    Knuth multiplicative hash (id·2654435761 mod 2³²) mod the weight
    total; engine-independent and reproducible. Returns the input
    plus a `split` column."""
    lo, mid = weights[0], weights[0] + weights[1]
    tot = sum(weights)
    h = (
        (F.col(cluster_col).cast("long") * F.lit(2654435761).cast("long"))
        % F.lit(4294967296)
    ) % tot
    return df.withColumn(
        "split",
        F.when(h < lo, "train").when(h < mid, "val").otherwise("test"),
    )


def dedup_agreement(
    pairs_a: DataFrame,
    pairs_b: DataFrame,
    id_cols: tuple[str, str] = ("doc_a", "doc_b"),
    score_a: str = "score_a",
    score_b: str = "score_b",
) -> DataFrame:
    """Cross-signal dedup agreement census (L50): full-outer two
    near-dup pair sets (e.g. text-shingle pairs vs embedding-cosine
    pairs, both keyed (id_a, id_b) with a score column) and classify
    both / a_only / b_only with per-class counts and mean scores.
    Disagreement is the finding: a_only pairs are what signal B is
    blind to, and vice versa. Returns (agreement, n_pairs,
    mean_score_a, mean_score_b)."""
    ia, ib = id_cols
    a = pairs_a.select(
        F.col(ia).alias("__a"), F.col(ib).alias("__b"),
        F.col(score_a).alias("__sa"),
    )
    b = pairs_b.select(
        F.col(ia).alias("__a2"), F.col(ib).alias("__b2"),
        F.col(score_b).alias("__sb"),
    )
    fo = a.join(
        b, (a.__a == b.__a2) & (a.__b == b.__b2), "full_outer"
    )
    cls = (
        F.when(F.col("__sa").isNotNull() & F.col("__sb").isNotNull(), "both")
        .when(F.col("__sa").isNotNull(), "a_only")
        .otherwise("b_only")
    )
    return fo.groupBy(cls.alias("agreement")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg("__sa").alias("mean_score_a"),
        F.avg("__sb").alias("mean_score_b"),
    )

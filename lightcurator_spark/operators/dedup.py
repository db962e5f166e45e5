"""Deduplication queries — the L family's registry entries.

Each ``@query`` checks one dedup operator on the test corpus against a
DuckDB oracle or a rows check. Where the operator is part of the user
API, the query is its instantiation: input preparation, one call into
``lightcurator_spark.api.dedup`` with the query's literals, then edge
shaping (renames, ``R4`` 4-dp rounding, label mapping). So the oracle
checks the same body a library user calls. L1, L1b, L1c, L2, L9, L9b,
L21, L22 and L31/L31b have no api twin and keep their bodies here.

Scale design:
- L1 keys the whole corpus on md5(text) — one shuffle on a uniform
  128-bit key; no skew by construction.
- L2 is exact; it is the small-data oracle for L3. It keys grams by a
  128-bit hash pair and explodes doc pairs from each gram's doc set.
- L3 replaces the shingle self-join with banded MinHash signatures:
  candidate pairs only form when a full band (r consecutive min-hashes)
  collides, so the join fan-out collapses from |shingle matches| to
  |banding collisions| — the standard way to near-dedup 100 TB. Hash
  seeds are engine-specific → rows-only; tests assert L3 ≡ L2 on the
  planted near-dup pairs (SURVEY §5.2-4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lightcurator_spark import api
from lightcurator_spark.api.dedup import gram_keys, symspell_fuzzy_join
from lightcurator_spark.plans.registry import EAGER_BUCKETED, EAGER_ITERATES, query
from lightcurator_spark.registry import load_table


def R4(c):
    """Bit-stable 4-dp rounding; see relational.R4."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000


_L1_ORACLE = """
SELECT h AS text_md5, doc_id AS keeper_doc_id, dup_count FROM (
  SELECT md5(text) AS h, doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS dup_count
  FROM documents) WHERE rn = 1
"""


@query("l1_exact_dedup", oracle=_L1_ORACLE)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup by content hash — keep the minimum doc_id per
    md5(text), report group size. One shuffle on the hash key."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    w = Window.partitionBy(h).orderBy("doc_id")
    wc = Window.partitionBy(h)
    return (
        d.select(
            h.alias("text_md5"),
            F.col("doc_id").alias("keeper_doc_id"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("dup_count"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_L2_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((inter * 1.0 / (ca.n + cb.n - inter)) * 10000 + 0.5) / 10000 AS jaccard
FROM pair
JOIN cnt ca ON ca.doc_id = doc_a
JOIN cnt cb ON cb.doc_id = doc_b
WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5
"""


@query("l2_shingle_jaccard", oracle=_L2_ORACLE)
def l2_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: exact near-dup pairs by 5-gram shingle Jaccard ≥ 0.5.
    J = |∩| / (|A|+|B|−|∩|). Exact and deterministic — the correctness
    oracle for L3's probabilistic banding.

    Plan: ONE gram lineage keyed by a 128-bit hash pair (gram_keys),
    per-gram doc sets aggregated once, pairs AND
    the |sh(·)| diagonal exploded map-side from the sorted set
    (x ≤ y; the self-pair count IS the doc's shingle count), sizes
    attached via two windows over the doc-pair table. The old shape
    derived the gram lineage THREE times (cnt + both join sides) and
    sorted the self-join; fresh 1.87 -> ~1.1 s at sf0.1."""
    d = load_table(spark, sf_dir, "documents")
    gs = gram_keys(d, "doc_id", 5)
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 1, size(ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    pair = (
        gs.groupBy("h1", "h2")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .select(F.explode(pair_expr).alias("pr"))
        .select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    diag = F.max(
        F.when(F.col("doc_a") == F.col("doc_b"), F.col("inter"))
    )
    na = diag.over(Window.partitionBy("doc_a"))
    nb = diag.over(Window.partitionBy("doc_b"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pair.withColumn("na", na)
        .withColumn("nb", nb)
        .filter((F.col("doc_a") < F.col("doc_b")) & (jac >= 0.5))
        .select("doc_a", "doc_b", R4(jac).alias("jaccard"))
    )


@query(
    "l3_minhash_lsh",
    oracle=None,
    note="rows-only: MinHash seeds are engine-specific; tests assert L3 ≡ L2 "
    "at the 0.5 threshold on this corpus (SURVEY §5.2-4)",
)
def l3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: MinHash-LSH near-dedup — the 100 TB path.

    16 min-hashes per doc (xxhash64 with per-function salt), banded as
    4 bands × 4 rows; docs sharing any full band become candidates
    (collision prob ≈ 1−(1−J⁴)⁴ — >0.98 for J≥0.8); candidates are then
    verified with the exact Jaccard, so output precision is exact and
    only recall is probabilistic. The expensive all-pairs shingle join
    of L2 is replaced by an equi-join on (band_id, band_hash). Body:
    ``api.minhash_near_dups``.
    """
    d = load_table(spark, sf_dir, "documents")
    return api.minhash_near_dups(
        d, "doc_id", "text", shingle_n=5, num_hashes=16, band_rows=4, threshold=0.5
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        R4(F.col("jaccard")).alias("jaccard"),
    )


@query(
    "l1b_bag_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS bag_fingerprint
    FROM documents
    """,
)
def l1b_bag_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1b: document fingerprinting — order-insensitive bag-of-words
    fingerprint (md5 of the sorted distinct token set). Catches
    shuffled/reordered duplicates that byte-exact L1 misses; one
    map-side expression, no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " ")))).cast(
                "binary"
            )
        ).alias("bag_fingerprint"),
    )


@query(
    "l3b_simhash",
    oracle=None,
    note="rows-only: SimHash bit patterns are hash-seed-specific; tests "
    "assert recall of the planted L2 near-dup pairs",
)
def l3b_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3b: SimHash near-dup — 64-bit signature of feature-hash bit
    majorities; candidate pairs share at least one of eight 8-bit bands
    (pigeonhole: any pair with Hamming < 8 MUST share a clean band);
    pairs kept when Hamming distance ≤ 8.

    Features are 5-gram token shingles (same feature space as L2's
    Jaccard), not unigrams: this corpus has a tiny vocabulary, so
    unigram signatures saturate (most docs share most words → 1.5 M
    Hamming≤8 pairs at sf0.1), while shingles are near-unique per
    document and separate planted near-dups (J≥0.9 → Hamming ≈ 0-4)
    from random pairs (Hamming ≈ 32) cleanly.

    Fully JVM-side: shingle explode → × bit positions → conditional sum
    per (doc, bit) → signature reassembly via shifted adds → band
    equi-join (the LSH shape again — no all-pairs scan) → xor +
    bit_count for exact Hamming verification. Body:
    ``api.simhash_near_dups``; its shingles are ``gram_array``'s, so a
    document shorter than 5 tokens has none and is in no pair (as in
    L2 and L3).
    """
    d = load_table(spark, sf_dir, "documents")
    return api.simhash_near_dups(
        d, "doc_id", "text", shingle_n=5, max_hamming=8
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming")


@query(
    "l1c_rolling_fingerprint",
    oracle=None,
    note="rows-only: xxhash64-seeded; property tests assert determinism, "
    "exact-dup agreement with L1, and order sensitivity",
)
def l1c_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1c: position-sensitive rolling-hash fingerprint — each token's
    64-bit hash is bit-rotated by ``(7·pos) mod 64`` and the rotations
    XOR-folded per document. Unlike L1b's bag fingerprint this changes
    when token ORDER changes, while staying a commutative aggregate
    (bit_xor), so it computes as one partial-agg shuffle with no sort.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select(
        "doc_id",
        F.xxhash64("token").alias("h"),
        ((F.col("pos") * 7) % 64).cast("int").alias("rot"),
    )
    rotated = F.when(F.col("rot") == 0, F.col("h")).otherwise(
        F.expr("shiftleft(h, rot)").bitwiseOR(F.expr("shiftrightunsigned(h, 64 - rot)"))
    )
    return (
        d.select("doc_id", rotated.alias("r"))
        .groupBy("doc_id")
        .agg(F.bit_xor("r").alias("rolling_fingerprint"))
    )


# Shared by l9 and l9b: both compute the SAME components over the
# same L2 pairs, so one closure oracle checks both (the _L21B pattern).
_L9_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT doc_a, doc_b FROM pair
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
  WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM e
        UNION SELECT doc_b, doc_a FROM e),
nodes AS (SELECT DISTINCT a AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT s.a, re.r FROM reach re JOIN sym s ON s.b = re.v
)
SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY v
"""


@query(
    "l9_dup_clusters",
    eager=EAGER_ITERATES,
    oracle=_L9_ORACLE,
)
def l9_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: near-dup CLUSTERS from near-dup PAIRS — the connected-
    components step that turns L2/L3's pairwise output into dedup
    groups (keep one doc per cluster). Min-label propagation to
    fixpoint: every vertex repeatedly adopts the smallest label in its
    neighborhood; terminates when no label changes.

    Hash-oracled since r5 (previously rows-only): labels are INTEGER
    doc ids and the fixpoint is the component minimum, so a DuckDB
    recursive-CTE transitive closure taking min(reachable) per vertex
    computes the identical answer — the L28/G2 technique. The closure
    is quadratic in cluster size and exists ORACLE-side only (test
    scale); the engine side stays one equi-join + min-agg per round.
    The union-find property test is kept alongside.

    Iterative pattern at scale: each round is one shuffle (edge join +
    min-agg); ``localCheckpoint`` truncates lineage; rounds needed =
    graph diameter (near-dup clusters are tiny cliques, so 2-3). The
    100 TB upgrade is the large-star/small-star variant of the same
    loop — identical driver-side structure.
    """
    pairs = l2_shingle_jaccard(spark, sf_dir)  # @query returns the raw fn
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    for _ in range(15):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.v)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.v == neighbor_min.src, "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (  # noqa: used below and in the for-else guard
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Exhausting the cap without convergence means a component has
        # diameter > 15 — silently splitting it would return wrong
        # clusters (the l28 ADVICE pattern, applied here in r5).
        raise RuntimeError(
            "l9_dup_clusters: min-label propagation did not converge "
            "within 15 rounds (component diameter > 15); use the "
            "large-star/small-star path (l9b) for deep graphs"
        )
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
    )


_L21_ORACLE = """
WITH ref AS (
  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 3 = 0
),
incoming AS (
  SELECT doc_id, md5(text) AS fp, n_chars FROM documents WHERE doc_id % 3 <> 0
)
SELECT i.doc_id, i.n_chars,
       CASE WHEN r.fp IS NULL THEN 0 ELSE 1 END AS is_known
FROM incoming i LEFT JOIN ref r ON i.fp = r.fp
"""


@query("l21_incremental_dedup", oracle=_L21_ORACLE)
def l21_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L21: incremental dedup — flag an incoming batch against an
    already-curated reference corpus by content fingerprint (the
    nightly-ingest shape: never re-dedup the whole store, only the
    delta against it). Reference = doc_id % 3 == 0, incoming = rest.

    Scale: the join key is md5 — uniform, skew-free. When the
    reference fingerprint set fits in memory it broadcasts (this
    plan); at 100 TB reference scale the same query runs as a shuffled
    left join against the fingerprint table bucketed on fp, or the
    broadcast swaps for a Bloom-filter semi-join pushdown
    (try_remote_functions.bloom_filter_agg) accepting a false-positive
    re-check. The incoming batch is scanned once either way.
    """
    docs = load_table(spark, sf_dir, "documents")
    ref = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    incoming = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    return incoming.join(F.broadcast(ref), "fp", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("__known"), F.lit(0)).alias("is_known"),
    )


_L21B_ORACLE = _L21_ORACLE  # identical semantics — the Bloom stage is a
# lossless pre-filter (false positives re-checked, negatives exact)


@query(
    "l21b_bloom_incremental_dedup",
    oracle=_L21B_ORACLE,
    eager="collects the per-word bloom masks to the driver",
)
def l21b_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L21b: the Bloom-filter semi-join l21's docstring promises for
    big-reference scale, made real. The reference fingerprint set is
    folded distributively into an m=16384-bit / k=4 Bloom bitmap (one
    explode + bit_or agg — never collected row-wise), the 256-long
    bitmap ships to every task as a literal array (2 KB — this is the
    piece that stays broadcastable when the reference no longer is),
    and incoming docs are pre-filtered MAP-SIDE: only Bloom-positive
    candidates reach the exact verify join, Bloom-negatives are
    is_known=0 by construction (no false negatives). Result is
    bit-identical to l21's plain join — that is the oracle.

    Scale: at 100 TB reference the l21 broadcast dies, but the Bloom
    bitmap grows only with the BIT BUDGET, not the corpus (scale m to
    ~10 bits/key; 1 B keys ≈ 1.2 GB, still a task-shippable constant),
    and the verify join's probe side shrinks to true-dups + ~0.1% false
    positives. The driver-side fold of ≤ m/64 partial words is bounded
    by the filter size, not the data (same contract as the ANN query
    collect). Body: ``api.bloom_known_filter``.
    """
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0).select(F.md5("text").alias("fp"))
    incoming = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    return api.bloom_known_filter(incoming, ref, "fp", m_bits=16384, k=4).select(
        "doc_id", "n_chars", "is_known"
    )


_L22_ORACLE = """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


@query("l22_fuzzy_name_join", oracle=_L22_ORACLE)
def l22_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L22: edit-distance similarity join (lev ≤ 2) over the distinct
    name vocabulary — the fuzzy-dedup shape (typo'd titles, OCR'd
    entity names) that exact fingerprints (L1) and token-set Jaccard
    (L2/L3) both miss. Kernel: ``api.dedup.symspell_fuzzy_join``
    (the body of ``api.fuzzy_join``).

    The vocabulary here is `DISTINCT p_name` (names repeat across
    parts), so candidate volume scales with vocabulary, not rows.
    """
    return symspell_fuzzy_join(
        load_table(spark, sf_dir, "part"), "p_name", max_dist=2
    )


@query(
    "l9b_cc_large_small_star",
    eager=EAGER_ITERATES,
    oracle=_L9_ORACLE,
)
def l9b_cc_large_small_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9b: connected components via **large-star / small-star**
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the 100 TB upgrade l9's docstring names. Plain label propagation
    needs O(diameter) rounds; the star operations contract paths
    aggressively and converge in O(log n) rounds on any graph, which
    is the difference between 3 rounds and 30 on a chain-shaped
    duplicate cluster (transitive near-dup chains DO happen in web
    corpora: A≈B≈C…).

    Each round is two edge-rewrites, each ONE shuffle:
    - large-star: per node u, attach every strictly-larger neighbor to
      min(N(u) ∪ {u});
    - small-star: per node u, attach every not-larger neighbor to that
      same minimum.
    Edges stay (node, node) pairs; ``localCheckpoint`` truncates
    lineage per round; convergence = edge set unchanged (checked via
    count + anti-join emptiness, two cheap actions per round).
    Output matches l9 exactly: (doc_id, cluster_id=component min).
    """
    pairs = l2_shingle_jaccard(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    all_nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # symmetrize: neighborhoods of BOTH endpoints
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("m"))
        )
        j = sym.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).union(
                m.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )

    for _ in range(12):
        new_edges = star(star(edges, large=True), large=False).localCheckpoint()
        same = (
            new_edges.count() == edges.count()
            and new_edges.join(edges, ["u", "v"], "left_anti").count() == 0
        )
        edges = new_edges
        if same:
            break
    else:
        # large/small-star contracts any graph in O(log n) rounds, so
        # 12 rounds covers astronomically large components — but if the
        # cap is ever hit, fail loudly rather than emit split clusters.
        raise RuntimeError(
            "l9b_cc_large_small_star: star contraction did not reach a "
            "fixpoint within 12 rounds — raise the cap (O(log n) rounds "
            "suffice, so this indicates a bug or an extraordinary graph)"
        )

    # at fixpoint every edge is (member, component-min); components of
    # size 1 never appear in pairs, and l9 likewise only labels nodes
    # that occur in at least one near-dup pair
    comp = edges.select(F.col("v").alias("doc_id"), F.col("u").alias("cluster_id"))
    roots = (
        all_nodes.join(
            edges.select(F.col("v").alias("node")).distinct(), "node", "left_anti"
        )
        .select(F.col("node").alias("doc_id"), F.col("node").alias("cluster_id"))
    )
    return comp.unionByName(roots)


_L11_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
),
pos AS (
  SELECT doc_id, tokens, unnest(generate_series(0, len(tokens) - 8)) AS p
  FROM toks
  WHERE len(tokens) >= 8
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(tokens[p + 1 : p + 8], ' ')) AS gh
  FROM pos
),
dup AS (
  SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM grams)
  GROUP BY gh HAVING count(*) >= 2
),
hits AS (
  SELECT g.doc_id, g.p,
         g.p - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.p) AS island
  FROM grams g JOIN dup d USING (gh)
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_grams,
         CAST(count(DISTINCT island) AS BIGINT) AS n_dup_spans
  FROM hits GROUP BY doc_id
),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY doc_id
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(s.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       floor((CAST(coalesce(s.n_dup_grams, 0) AS DOUBLE) / t.n_grams) * 10000 + 0.5)
         / 10000 AS dup_gram_ratio
FROM tot t LEFT JOIN per_doc s USING (doc_id)
"""


@query("l11_ngram_span_dedup", oracle=_L11_ORACLE)
def l11_ngram_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11: substring-level duplicate-span census — the n-gram
    granularity of exact-substring training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better":
    duplicated *passages* inside otherwise-unique documents are the
    bulk of web-corpus duplication, and doc-level dedup (L1/L3) never
    sees them). Per document: total 8-gram positions, how many of them
    are grams shared with at least one OTHER document, how many
    maximal contiguous duplicated spans those positions form (the
    removable passages), and the duplicated-gram ratio.

    Body: ``api.span_dedup_census`` at n = 8 (its docstring holds the
    scale design and the measured plan); only docs of ≥ 8 tokens get a
    row, as in the oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    return api.span_dedup_census(d, "doc_id", "text", n=8).select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        "n_dup_spans",
        R4(F.col("dup_gram_ratio")).alias("dup_gram_ratio"),
    )


_L26_ORACLE = """
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                             ' ')) AS set_fp
  FROM documents
)
SELECT set_fp,
       CAST(count(*) AS BIGINT) AS cluster_size,
       max_by(doc_id, n_chars * 10000000 - doc_id) AS canonical_doc_id,
       max(n_chars) AS canonical_n_chars,
       CAST(count(*) - 1 AS BIGINT) AS removed_count
FROM fp
GROUP BY set_fp
HAVING count(*) >= 2
"""


@query("l26_canonical_selection", oracle=_L26_ORACLE)
def l26_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L26: duplicate-cluster canonicalization with quality selection —
    the step AFTER detection that every curation pipeline runs: from
    each duplicate cluster keep the single best document, drop the
    rest. Clusters here are token-SET fingerprint groups (md5 of the
    sorted distinct token list — order- and multiplicity-insensitive,
    so reshuffled or token-repeated variants land together, a real
    near-dup class exact text hashing misses); "best" = longest
    document (max n_chars), ties broken toward the smallest doc_id.

    The composite argmax uses ONE scalar bigint ordering key,
    n_chars·10⁷ − doc_id (neither engine's max_by takes a composite
    key — TRAPS.md #11; the scaling supports doc_id < 10⁷, documented
    bound, and n_chars·10⁷ stays far under int64).

    Scale: fingerprinting is map-side string surgery; one shuffle on
    the fingerprint with partial/final max_by (argmax merges like max,
    so the combine happens map-side). The same plan canonicalizes
    L9-connected-component clusters by swapping the group key for the
    component id.
    """
    d = load_table(spark, sf_dir, "documents")
    return api.canonicalize_duplicates(d, "doc_id", "text", "n_chars").select(
        "set_fp",
        "cluster_size",
        F.col("canonical_id").alias("canonical_doc_id"),
        F.col("canonical_quality").alias("canonical_n_chars"),
        "removed_count",
    )


# --------------------------------------------------------------------
# L31 — sparse tf-idf cosine self-join via inverted index
# --------------------------------------------------------------------

_L31_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
big AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(a) - 1),
                        i -> a[i] || ' ' || a[i+1])) AS g
  FROM t
),
tf AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf FROM big GROUP BY 1, 2),
df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents),
w AS (
  SELECT tf.doc_id, tf.g, tf.tf * ln(CAST(n.nd AS DOUBLE) / df.df) AS w
  FROM tf JOIN df USING (g) CROSS JOIN n
  WHERE df.df * 20 <= n.nd
),
u AS (
  SELECT doc_id, g,
         w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)) AS un
  FROM w
)
SELECT doc_a, doc_b, cos_sim FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         floor(sum(a.un * b.un) * 10000 + 0.5) / 10000 AS cos_sim
  FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
) WHERE cos_sim >= 0.3
"""


def _l31_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31's df-pruned, ℓ²-normalized bigram postings (doc_id, g, un),
    shared by l31 and the bucketed index of l31b."""
    docs = load_table(spark, sf_dir, "documents")
    # One parquet file = 1-2 scan tasks; the explodes below are the CPU
    # hot spot, so widen BEFORE them (the a21/bench-rules discipline —
    # the 5 k-row text shuffle is noise next to a serial 5 M explode).
    par = spark.sparkContext.defaultParallelism
    toks = (
        docs.repartition(par)
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    barr = F.transform(
        F.slice("t", 1, F.size("t") - 1),
        lambda tok, i: F.concat_ws(" ", tok, F.element_at("t", i + 2)),
    )
    # Document frequency WITHOUT a (doc_id, g) exchange: array_distinct
    # per doc map-side, so each (doc, term) appears exactly once and
    # groupBy(g) map-side-combines the corpus down to vocab-sized
    # partials — the shuffle carries ~|vocab|×tasks rows, never the
    # exploded corpus. (The naive tf→df route shuffled every distinct
    # (doc, term) pair; measured as a full second chain.)
    dfreq = (
        toks.select(F.explode(F.array_distinct(barr)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    kept = (
        dfreq.crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 20 <= F.col("nd"))
        .select("g", "df", "nd")
    )
    # tf over KEPT terms only: the broadcast semi-filter runs in the
    # explode's own stage, so the (doc_id, g) aggregation sees only
    # posting-list rows (bounded by |kept|·N/20), not the corpus.
    bigrams = toks.select("doc_id", F.explode(barr).alias("g"))
    tf = (
        bigrams.join(F.broadcast(kept.select("g")), "g")
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = tf.join(F.broadcast(kept), "g").select(
        "doc_id",
        "g",
        (
            F.col("tf") * F.log(F.col("nd").cast("double") / F.col("df"))
        ).alias("w"),
    )
    wn = Window.partitionBy("doc_id")
    return w.withColumn(
        "un", F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(wn))
    ).select("doc_id", "g", "un")


@query("l31_sparse_cosine_selfjoin", oracle=_L31_ORACLE)
def l31_sparse_cosine_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31: sparse-vector cosine near-dup via an INVERTED INDEX — the
    tf-idf/BM25-style counterpart to L5's dense-embedding self-join:
    documents as sparse bigram tf-idf vectors, candidate pairs found
    by equi-joining postings on the shared term, cosine assembled from
    Σ(w_a·w_b) per pair. The discriminative pruning IS the scale
    lever: terms present in > 5 % of the corpus (integer guard
    ``df·20 ≤ N``) carry no near-dup signal and are dropped BEFORE the
    join, which simultaneously (a) bounds every posting list — and
    hence the join's per-key fan-out — at N/20 by construction, and
    (b) keeps hot Zipf-head terms out of the shuffle entirely. This is
    the classic IR trick (stop-listing / impact pruning) expressed
    relationally; unlike L3's MinHash or L5b's banding it is EXACT
    over the pruned vector space, with no recall loss to verify.

    Plan: bigrams built map-side from the token array (L27's slide —
    no positional self-join). Document frequency comes from a per-doc
    ``array_distinct`` explode + groupBy(term) — map-side combine
    collapses the corpus to vocab-sized partials, so df costs a
    ~|vocab|-row shuffle, never a (doc, term) exchange (the naive
    tf→df route re-ran the whole explode chain inside the broadcast
    build — measured). The surviving ≤ 5 %-df dictionary broadcasts
    back to SEMI-FILTER the tf explode in its own stage, so the
    (doc_id, term) aggregation sees only posting-list rows (bounded by
    |kept|·N/20), not the corpus. Weights are ℓ²-NORMALIZED IN-PLAN
    via a doc-partitioned window — not a separate norm agg joined back
    per pair side, which measured as four recomputations of the weight
    chain — so cosine is simply Σ(û_a·û_b): the pair stage needs no
    further joins and its partial sums combine before the
    (doc_a, doc_b) exchange (which Catalyst elides entirely when the
    probe side is already doc-clustered). At cluster scale the
    normalized postings are materialized once, bucketed by term (S7),
    making the candidate join shuffle-free — the standard
    build-the-index-then-probe split. The cosine gate compares the
    4-dp ROUNDED score on both engines, so an ulp straddle at the 0.3
    boundary cannot flip membership (TRAPS #5's fix applied to a
    threshold, not a bucket).
    """
    u = _l31_postings(spark, sf_dir)
    a = u.select(F.col("doc_id").alias("doc_a"), "g", F.col("un").alias("ua"))
    b = u.select(F.col("doc_id").alias("doc_b"), "g", F.col("un").alias("ub"))
    return (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(R4(F.sum(F.col("ua") * F.col("ub"))).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


def _l31_postings_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize L31's ℓ²-normalized, df-pruned postings ONCE as a
    term-bucketed, term-sorted parquet table — the S7 swap L31's own
    docstring names (r8 verdict item 4): at cluster scale the
    candidate self-join probes the index on the term key every run,
    so pinning the hash layout on disk makes BOTH sides of the join
    exchange-free. Returns the table name."""
    import os

    from lightcurator_spark.sources.formats import ensure_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"lc_bucketed.l31_postings_{tag}"

    ensure_bucketed(spark, tbl, lambda: _l31_postings(spark, sf_dir), "g")
    return tbl


@query(
    "l31b_sparse_cosine_bucketed",
    oracle=_L31_ORACLE,
    eager=EAGER_BUCKETED,
)
def l31b_sparse_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L31b: L31's inverted-index cosine self-join over BUCKETED
    postings — same semantics, same oracle, the cluster-scale physical
    plan (r8 verdict item 4, implementing the S7 swap L31's docstring
    documents): the df-pruned ℓ²-normalized postings are written once
    via ``bucketBy(8, g).sortBy(g)`` — the classic
    build-the-index-then-probe split — so the term-keyed candidate
    join consumes two bucketed scans of the SAME table directly:
    ZERO exchanges on the term key (plan-tested as
    `hashpartitioning(g#` never appearing; the only shuffle left is
    the output-pair (doc_a, doc_b) aggregation). Amortization is the
    point: L31 re-shuffles the postings on every run; the bucketed
    index is paid once per corpus version and serves every subsequent
    probe — including incremental L21-style queries joining NEW
    documents' terms against it, still exchange-free on the index
    side. The MERGE hint pins sort-merge so AQE cannot broadcast one
    side and mask the layout being demonstrated.

    Scale: posting lists are df-bounded at N/20 by L31's pruning
    before the write, so bucket files stay balanced under Zipf skew;
    bucket count scales with cluster width (S7's economics).
    """
    u = spark.table(_l31_postings_bucketed(spark, sf_dir))
    a = u.select(F.col("doc_id").alias("doc_a"), "g", F.col("un").alias("ua"))
    b = u.select(F.col("doc_id").alias("doc_b"), "g", F.col("un").alias("ub"))
    return (
        a.hint("MERGE")
        .join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(R4(F.sum(F.col("ua") * F.col("ub"))).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


# --------------------------------------------------------------------
# L33 — asymmetric shingle containment (quote / subsumption detection)
# --------------------------------------------------------------------

_L33_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(a) - 3),
                i -> array_to_string(a[i:i+3], ' '))) AS g
  FROM t
),
w AS (
  SELECT doc_id, g,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM sh
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared,
         any_value(a.n) AS n_a
  FROM w a JOIN w b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       floor((CAST(n_shared AS DOUBLE) / n_a) * 10000 + 0.5) / 10000
           AS containment
FROM p WHERE n_shared * 2 >= n_a
"""


@query("l33_shingle_containment", oracle=_L33_ORACLE)
def l33_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L33: asymmetric containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    over distinct 4-token shingles — the near-dup relation Jaccard (L2)
    structurally cannot see: a short document quoted or subsumed inside
    a much longer one scores high containment but low Jaccard (the
    intersection is small against the UNION). This is the
    quote/boilerplate/subset-document detector of a curation pipeline;
    both directions are emitted because containment is directional.
    The τ = 0.5 gate compares EXACT integers (2·shared ≥ |A|), so
    membership cannot drift between engines; only the reported ratio is
    rounded.

    Body: ``api.containment_join`` at n = 4, τ = 0.5 (one gram
    lineage, no join; its docstring holds the plan and measurements).
    """
    d = load_table(spark, sf_dir, "documents")
    return api.containment_join(d, "doc_id", "text", n=4, tau=0.5).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "n_shared",
        R4(F.col("containment")).alias("containment"),
    )


# --------------------------------------------------------------------
# L34 — boilerplate strip: the REMOVAL step of exact-substring dedup
# --------------------------------------------------------------------

_L34_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
),
pos AS (
  SELECT doc_id, tokens, unnest(generate_series(0, len(tokens) - 8)) AS p
  FROM toks WHERE len(tokens) >= 8
),
grams AS (
  SELECT doc_id, p, md5(array_to_string(tokens[p + 1 : p + 8], ' ')) AS gh
  FROM pos
),
dup AS (
  SELECT gh FROM (SELECT DISTINCT gh, doc_id FROM grams)
  GROUP BY gh HAVING count(*) >= 2
),
cov AS (
  SELECT DISTINCT g.doc_id, unnest(generate_series(g.p + 1, g.p + 8)) AS tp
  FROM grams g JOIN dup USING (gh)
),
tok AS (
  SELECT doc_id, unnest(tokens) AS tok,
         unnest(generate_series(1, len(tokens))) AS tp
  FROM toks
),
kept AS (
  SELECT t.doc_id, t.tok, t.tp FROM tok t
  WHERE NOT EXISTS (SELECT 1 FROM cov c
                    WHERE c.doc_id = t.doc_id AND c.tp = t.tp)
),
clean AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY tp) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tokens) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(t.tokens) - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(c.clean_text, '') AS clean_text
FROM toks t LEFT JOIN clean c USING (doc_id)
"""


@query("l34_boilerplate_strip", oracle=_L34_ORACLE)
def l34_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L34: cross-document duplicated-passage REMOVAL — the rewrite
    step of exact-substring training-data dedup (Lee et al. 2022):
    where L11 only censuses duplicated 8-gram spans, this op actually
    strips every token covered by any 8-gram shared with at least one
    OTHER document and reassembles the surviving text in original
    token order, emitting the cleaned corpus plus per-doc removal
    accounting. Runs on the same gram fingerprints as L11 so the two
    ops agree on what counts as duplicated.

    Body: ``api.strip_duplicated_spans`` at n = 8, whose duplicated
    grams come from the same helper as L11's census (its docstring holds
    the scale design and the measured plan). Cost is linear in corpus
    tokens; no all-pairs stage anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    return api.strip_duplicated_spans(d, "doc_id", "text", n=8)


# L42 — CDC-driven incremental dedup-index maintenance. Demo history:
# v0 append slice A (doc_id%3==0), v1 append slice B (%3==1),
# v2 OVERWRITE with A ∪ C (%3==2) ∪ re-keyed duplicates of part of C
# (same text, doc_id+10000 — a re-ingest). The maintained index after
# consuming the v1→v2 change feed must equal a full recompute of the
# v2 snapshot; expected census from the source of record.
_L42_ORACLE = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 2)
  UNION ALL
  SELECT doc_id + 10000, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 5 = 2
),
idx AS (SELECT md5(text) AS fp, doc_id FROM base),
c AS (SELECT fp, count(*) AS n_copies FROM idx GROUP BY 1)
SELECT n_copies, CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(sum(n_copies) AS BIGINT) AS n_docs
FROM c GROUP BY 1
"""


@query(
    "l42_cdc_incremental_dedup",
    oracle=_L42_ORACLE,
    eager="commits documents to a demo TxLogTable and checks the incremental index",
)
def l42_cdc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L42: dedup-index maintenance driven by the txlog CHANGE FEED —
    the composition the lakehouse tier exists for: the curated
    fingerprint index (fp, doc_id — L1's state at document grain) is
    NOT recomputed when the table changes; the S20e feed hands the
    maintainer exactly the inserted and deleted rows, the index drops
    the delete keys (left-anti) and unions the inserts
    (``api.maintain_dedup_index``), and the query
    asserts the maintained index is row-identical to a full recompute
    of the new snapshot before hashing its duplicate census against
    the source of record. The overwrite plants re-keyed duplicate
    texts, so the census proves the maintained index still FINDS
    duplicates (n_copies=2 rows), not just that row counts survived.

    L21 flags a new batch against a static reference; L42 is the
    other half of incremental dedup — keeping the reference itself
    current under inserts AND deletes without rescanning it.

    Scale: the whole point — maintenance I/O is proportional to the
    CHANGED files (two O(interval) log folds + changed-file scans),
    never the 100 TB store; the anti-join keys on md5 (uniform,
    skew-free) and the index side stays bucketed on fp in production.
    The full-recompute equality check is demo-grade proof, not part
    of the production plan.
    """
    import os
    import shutil

    from lightcurator_spark.sources.txlog import _SCRATCH, TxLogTable

    path = os.path.join(_SCRATCH, "txlog_cdc_dedup")
    shutil.rmtree(path, ignore_errors=True)
    t = TxLogTable(path)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.filter(F.col("doc_id") % 3 == 0)
    b = d.filter(F.col("doc_id") % 3 == 1)
    c = d.filter(F.col("doc_id") % 3 == 2)
    dups = c.filter(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    t.commit(a, "append")  # v0
    t.commit(b, "append")  # v1
    t.commit(a.unionByName(c).unionByName(dups), "overwrite")  # v2
    # carried state: the index as of v1 (full compute ONCE, then only
    # deltas — in production this is the persisted index table)
    idx1 = t.read_snapshot(spark, version=1).select(
        F.md5("text").alias("fp"), "doc_id"
    )
    ch = t.read_changes(spark, since_version=1, to_version=2)
    idx2 = api.maintain_dedup_index(idx1, ch, "doc_id", "text")
    # demo-grade guarantee: maintained index ≡ full recompute of v2
    full = t.read_snapshot(spark, version=2).select(
        F.md5("text").alias("fp"), "doc_id"
    )
    assert idx2.exceptAll(full).isEmpty() and full.exceptAll(idx2).isEmpty()
    return (
        idx2.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .groupBy("n_copies")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum("n_copies").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------
# L48 — cluster-consistent train/val/test split (dedup-safe)
# --------------------------------------------------------------------

_L48_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
e AS (
  SELECT doc_a, doc_b FROM pair
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
  WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM e
        UNION SELECT doc_b, doc_a FROM e),
nodes AS (SELECT DISTINCT a AS v FROM sym),
reach(v, r) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT s.a, re.r FROM reach re JOIN sym s ON s.b = re.v
),
cl AS (
  SELECT CAST(v AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY v
),
alld AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(cl.cluster_id, d.doc_id) AS cluster
  FROM documents d LEFT JOIN cl USING (doc_id)
),
b AS (
  SELECT doc_id, n_chars, cluster,
         ((cluster * 2654435761) % 4294967296) % 10 AS cb,
         ((doc_id * 2654435761) % 4294967296) % 10 AS nb
  FROM alld
)
SELECT CASE WHEN cb < 8 THEN 'train' WHEN cb = 8 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       sum(n_chars) AS n_chars,
       CAST(count(*) FILTER (
         WHERE (CASE WHEN cb < 8 THEN 0 WHEN cb = 8 THEN 1 ELSE 2 END)
               <> (CASE WHEN nb < 8 THEN 0 WHEN nb = 8 THEN 1 ELSE 2 END)
       ) AS BIGINT) AS n_docs_moved
FROM b GROUP BY 1
"""


@query(
    "l48_cluster_safe_split",
    oracle=_L48_ORACLE,
    eager="builds l9's clusters, which iterate on the driver",
)
def l48_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L48: dedup-safe train/val/test assignment — the split step a
    near-dup pipeline must END with: hashing doc_id scatters the
    members of a near-dup cluster across train AND eval (the classic
    leakage bug behind inflated benchmark numbers — P9 guards the
    TEMPORAL version of this, L48 the SIMILARITY version). The split
    key is the CLUSTER, not the document: every L9 near-dup cluster
    (singletons = their own cluster) hashes as one unit via the
    deterministic Knuth multiplicative hash (h = id·2654435761 mod
    2³², the S18 device — no engine-specific hash anywhere), 8/1/1
    into train/val/test (``api.cluster_safe_split``, called on the
    cluster and, for the naive split, on doc_id). No cluster can
    straddle splits BY CONSTRUCTION; the census reports, per split, the doc/cluster/char
    counts plus n_docs_moved — how many docs a naive doc_id-hash
    split would have placed in a DIFFERENT split than their cluster
    (the measured magnitude of the leakage the operator prevents).

    Exactness: cluster ids are L9's exact component minima (the
    recursive-CTE closure oracle, reused verbatim); the hash and
    bucket arithmetic are pure BIGINT on both engines; counts and
    char sums are exact integers — no float anywhere.

    Scale: L9's min-label rounds (or l9b's large-star/small-star at
    depth) + one broadcast-size-driven left join of the cluster map
    to the corpus + one partial/final agg to 3 census rows. The
    cluster map is |non-singleton docs| ≤ corpus — the join is
    key-uniform (doc_id); nothing new shuffles beyond L9 itself.
    """
    cl = l9_dup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    alld = docs.join(cl, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster"),
    )
    naive = api.cluster_safe_split(alld, "doc_id", "doc_id").withColumnRenamed(
        "split", "naive_split"
    )
    return (
        api.cluster_safe_split(naive, "doc_id", "cluster")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster").alias("n_clusters"),
            F.sum("n_chars").alias("n_chars"),
            F.count(F.when(F.col("split") != F.col("naive_split"), 1)).alias(
                "n_docs_moved"
            ),
        )
    )


# --------------------------------------------------------------------
# L50 — cross-modal dedup agreement (text Jaccard vs embedding cosine)
# --------------------------------------------------------------------

_L50_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                               i -> array_to_string(t[i:i+4], ' '))) AS shingle
  FROM toks
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pair AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
tp AS (
  SELECT doc_a, doc_b,
         inter * 1.0 / (ca.n + cb.n - inter) AS jaccard
  FROM pair
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
  WHERE inter * 1.0 / (ca.n + cb.n - inter) >= 0.5
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ep AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v))
              * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) >= 0.45
),
fo AS (
  SELECT coalesce(tp.doc_a, ep.doc_a) AS a,
         coalesce(tp.doc_b, ep.doc_b) AS b,
         tp.jaccard, ep.cos_sim
  FROM tp FULL OUTER JOIN ep
    ON tp.doc_a = ep.doc_a AND tp.doc_b = ep.doc_b
)
SELECT CASE WHEN jaccard IS NOT NULL AND cos_sim IS NOT NULL THEN 'both'
            WHEN jaccard IS NOT NULL THEN 'text_only'
            ELSE 'embedding_only' END AS agreement,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(avg(jaccard) * 1e4 + 0.5) / 1e4 AS mean_jaccard,
       floor(avg(cos_sim) * 1e4 + 0.5) / 1e4 AS mean_cosine
FROM fo GROUP BY 1
"""


def _modal_agreement(text_pairs: DataFrame, emb_pairs: DataFrame) -> DataFrame:
    """The l50/l50b census: ``api.dedup_agreement`` over (doc_a, doc_b,
    jaccard) text pairs and (doc_a, doc_b, cos_sim) embedding pairs,
    its a_only/b_only classes named text_only/embedding_only and the
    per-class means R4'd."""
    label = (
        F.when(F.col("agreement") == "a_only", "text_only")
        .when(F.col("agreement") == "b_only", "embedding_only")
        .otherwise(F.col("agreement"))
    )
    return api.dedup_agreement(
        text_pairs, emb_pairs, ("doc_a", "doc_b"), "jaccard", "cos_sim"
    ).select(
        label.alias("agreement"),
        "n_pairs",
        R4(F.col("mean_score_a")).alias("mean_jaccard"),
        R4(F.col("mean_score_b")).alias("mean_cosine"),
    )


@query("l50_cross_modal_dedup_agreement", oracle=_L50_ORACLE)
def l50_cross_modal_dedup_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L50: do TEXT near-dups and EMBEDDING near-dups agree? The
    cross-modal QA census a production dedup pipeline runs before
    trusting either signal alone: L2's exact 5-gram Jaccard pairs
    (τ = 0.5) full-outer-joined with the exact cosine pairs
    (τ = 0.45, L5's arithmetic) on the shared id space, classified
    both / text_only / embedding_only with per-class mean scores.
    Disagreement is the FINDING, not a failure: text-only pairs are
    template/boilerplate twins an embedding ignores; embedding-only
    pairs are paraphrases shingles can't see; on THIS synthetic
    corpus the embeddings are generated independently of the texts,
    and the census reports exactly that honest near-empty
    intersection (the dq10 discipline — pin what the data actually
    says).

    Exactness: both legs are the existing hash-oracled constructions
    (L2's integer shingle counts; L5's single-fold cosine); the
    full-outer key is exact integer ids; per-class means are
    bounded-pair-count float avgs (a27's R4-sum precedent), NULL when
    a class has no score on that side — identically on both engines.

    Scale: each leg keeps its own 100 TB story (L2 → L3's banding,
    L5 → hyperplane-sign pruning); the agreement join is pair-keyed
    — output-sized, uniform — and the census is one 3-row agg
    (``api.dedup_agreement``, through ``_modal_agreement``).
    """
    from lightcurator_spark.operators.similarity import exact_cosine_pairs

    tp = l2_shingle_jaccard(spark, sf_dir)
    # the exact embedding leg runs through the shared GEMM-candidates +
    # exact-JVM-verify kernel (same pair set, same raw floats as a
    # pair scan — see exact_cosine_pairs)
    ep = exact_cosine_pairs(spark, sf_dir, tau=0.45).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("__cos").alias("cos_sim"),
    )
    return _modal_agreement(tp, ep)


@query(
    "l50b_cross_modal_dedup_lsh",
    oracle=None,
    note="rows-only: both legs are seed-specific LSH (L3 banded MinHash, "
    "L5b hyperplane bands); tests assert the census ≡ the exact l50 on "
    "this corpus (the L3≡L2 device) and the plan carries no cartesian",
)
def l50b_cross_modal_dedup_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L50b: the cross-modal agreement census AT SCALE — l50's exact
    legs swapped for their proven banded forms, killing the last
    corpus×corpus crossJoin any composite operator carried (r9 verdict
    item 1). The TEXT leg is L3's banded-MinHash candidates with exact
    Jaccard verification (τ = 0.5 — precision exact, recall the
    1−(1−J⁴)⁴ banding curve, measured 1.0 vs L2 on this corpus); the
    EMBEDDING leg is L5b's hyperplane-banded candidates with exact
    cosine verification at τ = 0.45 RAW scores (not the R4 export —
    the census means must average the same floats l50's exact leg
    averages), measured recall 1.0 vs L5. The agreement join and
    census are l50's (``_modal_agreement``): full-outer on the exact
    integer pair key, both/text_only/embedding_only classes, R4'd
    per-class means.

    Exactness: every surviving pair's SCORE is exact (both legs verify
    candidates with the full-precision kernel), so on any corpus where
    both bandings achieve full recall the census is bit-equal to l50
    — asserted at sf0.001 and sf0.01 in test_properties; the exact
    l50 stays registered as this query's equality oracle (the L3≡L2
    discipline).

    Scale: text candidates are an equi-join on (band_id, band_hash) —
    64-bit MinHash band hashes collide only on true near-dups, so that
    leg is output-sized at any corpus. The embedding leg's candidates
    are an equi-join on (band_id, band_val) with Hamming-1 probes;
    its 16-bit signature's collision RATE on weakly-similar pairs is
    scale-invariant (~0.78 measured analytically at cos≈0), so its
    candidate count is rate·n² — the SCALING r10b tri-scale pinned
    the resulting bend (25x at 16x) and the two dials: signature
    length growing with log n (the standard LSH r·b law), or swapping
    the leg to IVF cell-probe candidates (two_level_probe_cells /
    l4f's machinery — k ∝ n keeps cells constant-sized). At THIS
    test scale the 16-bit banding is the right point on the dial
    (recall 1.0, the census-equality requirement). The plan sweep
    asserts no CartesianProduct / no BroadcastNestedLoopJoin anywhere
    in this composite, the structural claim l50 could not make.
    """
    from lightcurator_spark.operators.similarity import banded_cosine_pairs

    ep = banded_cosine_pairs(spark, sf_dir, tau=0.45).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("cos_raw").alias("cos_sim"),
    )
    return _modal_agreement(l3_minhash_lsh(spark, sf_dir), ep)

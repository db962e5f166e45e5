"""Engine-internal property tests (SURVEY §5.2-4) — semantics that no
single-statement DuckDB oracle can check."""

from __future__ import annotations

from pyspark.sql import functions as F

from lightcurator_spark.plans import load_all

SF_DIR = "/root/testdata/sf0.01"
SPECS = load_all()


def test_l3_lsh_equals_l2_exact(spark):
    """LSH banding (4 bands × 4 rows) must recover every planted
    near-dup pair at J ≥ 0.5 on this corpus, and — because candidates
    are exact-verified — must emit nothing L2 doesn't."""
    l2 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in SPECS["l2_shingle_jaccard"].fn(spark, SF_DIR).collect()
    }
    l3 = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in SPECS["l3_minhash_lsh"].fn(spark, SF_DIR).collect()
    }
    assert l2, "corpus should contain planted near-dup pairs"
    assert l3 == l2, f"missed={l2 - l3} extra={l3 - l2}"


def test_j8_nearest_match_properties(spark):
    """Every match is within ε, is not a self-match, and is the true
    argmin among candidates (verified against a collected brute force)."""
    eps = 2.0
    rows = SPECS["j8_nearest_match"].fn(spark, SF_DIR).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    means = {
        r.user_id: r.mv
        for r in ev.groupBy("user_id").agg(F.avg("value").alias("mv")).collect()
    }
    for r in rows:
        assert r.object_id != r.match_id
        assert r.dist <= eps + 1e-9
        best = min(
            (abs(means[r.object_id] - mv), uid)
            for uid, mv in means.items()
            if uid != r.object_id
        )
        assert best[1] == r.match_id, (r.object_id, best, r.match_id)


def test_sigma_clip_against_numpy(spark):
    """A9 must equal the NumPy reference kernel (single clip iteration)."""
    import numpy as np

    got = {
        r.event_type: (r.n_kept, r.clipped_mean)
        for r in SPECS["a9_sigma_clip"].fn(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type", "value")
    by_type: dict[str, list[float]] = {}
    for r in ev.collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    import math

    for etype, vals in by_type.items():
        a = np.array(vals)
        mu, sd = a.mean(), a.std(ddof=1)
        kept = a[(a >= mu - 3 * sd) & (a <= mu + 3 * sd)]
        n_kept, mean_kept = got[etype]
        assert n_kept == len(kept)
        assert math.isclose(
            mean_kept, math.floor(kept.mean() * 10000 + 0.5) / 10000, abs_tol=1e-4
        )


def test_simhash_recall_of_planted_neardups(spark):
    """SimHash banding must recover most planted high-Jaccard pairs.
    Shingle features separate near-dups (small Hamming) from random
    pairs (Hamming ≈ 32), but a single token edit still flips up to 5
    shingles on these short docs, so the Hamming ≤ 8 cut is a
    precision/recall trade — measured 0.96 recall at both sf0.01 and
    sf0.1, hence the ≥ 0.85 floor."""
    planted = {
        (r.doc_a, r.doc_b)
        for r in SPECS["l2_shingle_jaccard"].fn(spark, SF_DIR).collect()
        if r.jaccard >= 0.9
    }
    found = {
        (r.doc_a, r.doc_b) for r in SPECS["l3b_simhash"].fn(spark, SF_DIR).collect()
    }
    assert planted, "corpus should contain J>=0.9 planted pairs"
    recall = len(planted & found) / len(planted)
    assert recall >= 0.85, f"simhash recall {recall:.2f}; missed {planted - found}"


def test_l4b_lsh_ann_properties(spark):
    """LSH ANN must (a) score returned pairs exactly (match brute-force
    cosine for the same pair), and (b) keep useful recall of the true
    top-5 on this corpus."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    approx = SPECS["l4b_knn_lsh"].fn(spark, SF_DIR).collect()
    assert approx, "LSH ANN returned no rows"
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    hits = sum(1 for r in approx if (r.query_id, r.vec_id) in exact)
    recall = hits / len(exact)
    assert recall >= 0.3, f"LSH recall too low: {recall:.2f}"


def test_l1c_rolling_fingerprint_properties(spark):
    """Rolling fingerprint is deterministic, agrees with exact-dup
    grouping (same text => same fingerprint), and is order-sensitive
    (the bag fingerprint's blind spot)."""
    from pyspark.sql import Row

    fp1 = {r.doc_id: r.rolling_fingerprint
           for r in SPECS["l1c_rolling_fingerprint"].fn(spark, SF_DIR).collect()}
    fp2 = {r.doc_id: r.rolling_fingerprint
           for r in SPECS["l1c_rolling_fingerprint"].fn(spark, SF_DIR).collect()}
    assert fp1 == fp2

    # same-text => same fingerprint, order sensitivity on a tiny
    # in-memory corpus (sf0.01 has no byte-exact dup texts): same
    # pipeline body over permutations/copies of one token bag
    tiny = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="c b a"),
            Row(doc_id=3, text="a b c"),
        ]
    )
    d = tiny.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select(
        "doc_id",
        F.xxhash64("token").alias("h"),
        ((F.col("pos") * 7) % 64).cast("int").alias("rot"),
    )
    rotated = F.when(F.col("rot") == 0, F.col("h")).otherwise(
        F.expr("shiftleft(h, rot)").bitwiseOR(F.expr("shiftrightunsigned(h, 64 - rot)"))
    )
    fps = {
        r.doc_id: r.fp
        for r in d.select("doc_id", rotated.alias("r"))
        .groupBy("doc_id")
        .agg(F.bit_xor("r").alias("fp"))
        .collect()
    }
    assert fps[1] != fps[2], "rolling fingerprint must be order-sensitive"
    assert fps[1] == fps[3], "identical text must fingerprint identically"


def test_d6_recovers_planted_period(spark):
    """Lomb–Scargle must recover a planted 12 h period from an
    irregularly-sampled noisy sinusoid to within grid resolution, and
    rank it far above the noise floor."""
    import math
    import random

    rng = random.Random(42)
    period_s = 12 * 3600.0
    rows = []
    t = 0.0
    for _ in range(400):
        t += rng.uniform(600, 5400)  # irregular 10-90 min cadence
        mag = math.sin(2 * math.pi * t / period_s) + rng.gauss(0, 0.2)
        rows.append((1, t, mag))
    from pyspark.sql import functions as SF

    df = spark.createDataFrame(rows, "user_id long, t_s double, value double")
    # reuse the registered operator's kernel through a temp parquet-free path:
    from lightcurator_spark.operators.curation import _lomb_scargle
    import numpy as np

    periods = np.logspace(np.log10(2 * 3600.0), np.log10(10 * 86400.0), 256)

    def find(pdf):
        import pandas as pd

        tt = pdf["t_s"].to_numpy()
        yy = pdf["value"].to_numpy()
        p = _lomb_scargle(tt - tt.min(), yy, 1.0 / periods)
        b = int(np.argmax(p))
        return pd.DataFrame(
            {"user_id": [1], "best": [periods[b]], "power": [p[b]], "mean_p": [p.mean()]}
        )

    out = (
        df.groupBy("user_id")
        .applyInPandas(find, "user_id long, best double, power double, mean_p double")
        .collect()[0]
    )
    # grid step is ~2.2% in log space; allow 5%
    assert abs(out.best - period_s) / period_s < 0.05, out
    assert out.power > 10 * out.mean_p, "planted period should dominate the spectrum"

    # smoke on the real corpus: every object gets a finite best period
    res = SPECS["d6_period_finding"].fn(spark, SF_DIR).collect()
    assert res and all(r.best_period_s > 0 and r.best_power >= 0 for r in res)
    _ = SF  # keep linters quiet about the alias import


def test_banded_theta_join_equals_bruteforce_hypothesis(spark):
    """Property (SURVEY §5.2-4): the bucketed band-join rewrite returns
    EXACTLY the brute-force |a-b| <= eps pair set, for random inputs and
    epsilons — including negative values and bucket-boundary hits."""
    from hypothesis import example, given, settings, strategies as st

    from lightcurator_spark.operators.theta_joins import banded_theta_join

    vals = st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=8, deadline=None)
    # r3's falsifier: |0.5 - (-1.4e-45)| rounds to exactly 0.5 so the
    # θ-filter accepts, but exact bucketing puts the pair 2 buckets
    # apart — the ±1 explode dropped it. Pinned forever.
    @example(left=[0.5], right=[-1.4e-45], eps=0.5)
    @given(left=vals, right=vals, eps=st.sampled_from([0.5, 1.0, 2.5, 10.0]))
    def check(left, right, eps):
        ldf = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(left)], "lid int, lv double"
        )
        rdf = spark.createDataFrame(
            [(i, float(v)) for i, v in enumerate(right)], "rid int, rv double"
        )
        got = {
            (r.lid, r.rid)
            for r in banded_theta_join(
                ldf, rdf, F.col("lv"), F.col("rv"), eps
            ).collect()
        }
        want = {
            (i, j)
            for i, a in enumerate(left)
            for j, b in enumerate(right)
            if abs(a - b) <= eps
        }
        assert got == want, f"eps={eps} missing={want - got} extra={got - want}"

    check()


def test_banded_bucket_invariant_pure_python():
    """Driver-side sweep of the bucketing invariant the band join relies
    on: for every pair the float-rounded θ-filter accepts
    (``fl(|a-b|) <= eps``), the exact-arithmetic bucket ids differ by at
    most 2 — so the ±2-bucket explode in ``banded_theta_join`` generates
    every accepted pair. Millions of adversarial boundary-exact and
    denormal cases run in seconds without Spark; the Spark hypothesis
    test above checks the full plan at a smaller example budget."""
    import math
    import random

    rng = random.Random(1234)
    epss = [0.5, 1.0, 2.5, 10.0, 1e-30, 3.141592653589793, 7.0]

    def bucket_delta(a, b, eps):
        return abs(math.floor(a / eps) - math.floor(b / eps))

    # r3's exact falsifier must be within reach of the ±2 explode
    assert abs(0.5 - (-1.4e-45)) <= 0.5
    assert bucket_delta(0.5, -1.4e-45, 0.5) == 2

    for _ in range(500_000):
        eps = rng.choice(epss)
        base = rng.randint(-200, 200) * eps
        for da in (
            0.0,
            5e-324,
            -5e-324,
            eps,
            -eps,
            math.ulp(abs(base) + eps),
            -math.ulp(abs(base) + eps),
        ):
            a = base + da
            b = a - eps * rng.choice([1.0, -1.0, 0.999999999, 1.0000000001])
            if abs(a - b) <= eps:
                assert bucket_delta(a, b, eps) <= 2, (a, b, eps)


def test_l4c_vectorized_matches_bruteforce(spark):
    """The GEMM-scored kNN must return the same neighbor sets as the
    JVM sequential-fold kNN, with similarities equal at the 4-dp grain."""
    jvm = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    vec = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4c_knn_vectorized"].fn(spark, SF_DIR).collect()
    }
    assert set(vec) == set(jvm), (
        f"neighbor sets differ: only_jvm={set(jvm) - set(vec)} "
        f"only_vec={set(vec) - set(jvm)}"
    )
    for k in jvm:
        assert abs(jvm[k] - vec[k]) < 1e-9, (k, jvm[k], vec[k])


def test_embedding_matrix_honours_list_array_slice():
    """The executor-side embeddings matrix reshapes ``flatten()``, which
    honours a sliced ListArray's offset; its raw ``values`` buffer
    still holds the rows outside the slice."""
    import pyarrow as pa

    from lightcurator_spark.operators.similarity import _list_matrix

    full = pa.array(
        [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]], pa.list_(pa.float32())
    )
    assert _list_matrix(full.slice(1, 2), 2).tolist() == [[3.0, 4.0], [5.0, 6.0]]


def test_embeddings_not_visible_raises_named_error(tmp_path):
    import pytest

    from lightcurator_spark.operators.similarity import (
        EmbeddingsNotVisibleError,
        _read_embeddings_numpy,
    )

    with pytest.raises(EmbeddingsNotVisibleError, match="not visible"):
        _read_embeddings_numpy(str(tmp_path))


def test_l7_frame_sample_matches_python_reference(spark):
    """The frame sampler must emit exactly the frames a plain-Python
    reference computes: every 4th 64-byte chunk of the deterministic
    payload, with matching hashes and brightness."""
    import hashlib

    rows = SPECS["l7_frame_sample"].fn(spark, SF_DIR).collect()
    assert rows

    def synth(doc_id):
        n = 8 + doc_id % 8
        out, seed = b"", str(doc_id).encode()
        while len(out) < 64 * n:
            seed = hashlib.sha256(seed).digest()
            out += seed
        return out[: 64 * n]

    got = {(r.doc_id, r.frame_idx): (r.frame_md5, r.brightness) for r in rows}
    doc_ids = {r.doc_id for r in rows}
    want = {}
    for d in doc_ids:
        p = synth(d)
        for idx in range(0, len(p) // 64, 4):
            fr = p[idx * 64 : (idx + 1) * 64]
            want[(d, idx)] = (hashlib.md5(fr).hexdigest(), float(sum(fr)) / 64.0)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-12
    # and every document must be present (no silently dropped payloads)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(doc_ids) == n_docs


def test_l4d_ivf_ann_properties(spark):
    """IVF ANN must score returned pairs exactly (match brute force for
    the same pair) and keep strong recall on this clustered corpus."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    approx = SPECS["l4d_knn_ivf"].fn(spark, SF_DIR).collect()
    assert approx, "IVF ANN returned no rows"
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    recall = sum(1 for r in approx if (r.query_id, r.vec_id) in exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_g10_corner_counts_sum_to_three_triangles_each(spark):
    """G10's per-node triangle counts must sum to exactly 3× the
    number of distinct triangles (every triangle has three corners) —
    the identity tying the corner-explode to G3's census — and every
    defined coefficient must lie in [0, 1]."""
    g10 = SPECS["g10_clustering_coefficient"].fn(spark, SF_DIR).collect()
    g3 = SPECS["g3_triangle_count"].fn(spark, SF_DIR).collect()
    total_triangles = sum(r.n_triangles for r in g3)
    assert total_triangles > 0, "trade graph should contain triangles"
    assert sum(r.n_triangles for r in g10) == 3 * total_triangles
    for r in g10:
        if r.clustering_coeff is not None:
            assert 0.0 <= r.clustering_coeff <= 1.0, r
        else:
            assert r.degree < 2, r


def _adversarial_embeddings_dir(tmp_path) -> str:
    """Planted-cluster + planted-outlier + anisotropic-sheet embedding
    fixture (r8, closing the r7 verdict's item 7: ANN recall floors
    were measured on the driver's seed-42 corpus only). Three regimes
    the uniform corpus never exercises:
    - ids 0-499: 10 TIGHT clusters of 50 (center + 0.05σ noise) — the
      true top-5 of each in-cluster query is within-cluster at cosine
      ≈ 0.99; banding/cells must not split them.
    - ids 500-549: isolated OUTLIERS at random scales — a query here
      (id 500) has only weak-cosine true neighbors, the hard case for
      sign-bit LSH (neighbors share few hyperplane sides).
    - ids 550-599: an anisotropic HUB SHEET (one dominant direction +
      0.3σ noise) — hubness stresses IVF cell boundaries.
    Queries are the operators' own vec_id % 50 == 0 rule: one per
    cluster, one outlier, one sheet member. Deterministic rng(7)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    vecs, labels = [], []
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    for i in range(500):
        vecs.append(centers[i // 50] + 0.05 * rng.normal(size=64))
        labels.append(i // 50)
    for _ in range(50):
        vecs.append(rng.normal(size=64) * (1.0 + 5.0 * rng.random()))
        labels.append(100)
    sheet = rng.normal(size=64)
    sheet /= np.linalg.norm(sheet)
    for _ in range(50):
        vecs.append(sheet + 0.3 * rng.normal(size=64))
        labels.append(200)
    t = pa.table(
        {
            "vec_id": pa.array(range(600), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_ann_recall_floors_hold_on_adversarial_distribution(spark, tmp_path):
    """The l4b/l4d recall floors pinned on the seed-42 corpus must
    also hold when the embedding distribution is adversarial
    (clusters + outliers + hub sheet) — approximate indexes that only
    work on uniform data are not scale paths. Scores returned for any
    (query, vec) pair must still match brute force exactly (the
    exactness half is distribution-independent)."""
    d = _adversarial_embeddings_dir(tmp_path)
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, d).collect()
    }
    assert exact, "brute force must return rows on the fixture"
    # measured on this fixture: lsh 0.917, ivf 1.0, pq 1.0 — floors
    # leave margin but sit far above the corpus floors (0.3 / 0.5)
    for name, floor in [
        ("l4b_knn_lsh", 0.75),
        ("l4d_knn_ivf", 0.9),
        ("l4e_knn_pq", 0.9),
    ]:
        approx = SPECS[name].fn(spark, d).collect()
        assert approx, f"{name} returned no rows on the fixture"
        for r in approx:
            if (r.query_id, r.vec_id) in exact:
                assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
        hits = sum(1 for r in approx if (r.query_id, r.vec_id) in exact)
        recall = hits / len(exact)
        assert recall >= floor, f"{name} adversarial recall {recall:.2f}"


def test_salted_join_equals_plain_join_hypothesis(spark):
    """Property: salting must be invisible in the result — identical row
    multiset as the plain equi-join, for random key distributions
    including heavy skew (many duplicates of one key)."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from lightcurator_spark.operators.theta_joins import salted_join

    keys = st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=30)

    @settings(max_examples=6, deadline=None)
    @given(lk=keys, rk=keys, n_salt=st.sampled_from([2, 7, 16]))
    def check(lk, rk, n_salt):
        left = spark.createDataFrame(
            [(k, i) for i, k in enumerate(lk)], "k long, lrow long"
        )
        right = spark.createDataFrame(
            [(k, i) for i, k in enumerate(rk)], "k2 long, rrow long"
        )
        got = Counter(
            (r.lrow, r.rrow)
            for r in salted_join(left, right, "k", "k2", n_salt=n_salt).collect()
        )
        want = Counter(
            (i, j)
            for i, a in enumerate(lk)
            for j, b in enumerate(rk)
            if a == b
        )
        assert got == want

    check()


def test_p6_stratified_sample_properties(spark):
    """Seeded sampling must be deterministic, respect per-stratum rates
    (within binomial tolerance), and split into disjoint exhaustive
    train/test parts."""
    a = SPECS["p6_stratified_sample"].fn(spark, SF_DIR).collect()
    b = SPECS["p6_stratified_sample"].fn(spark, SF_DIR).collect()
    assert {tuple(r) for r in a} == {tuple(r) for r in b}, "seeded sample not stable"

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    totals = {r.event_type: r.n for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    from collections import Counter

    kept = Counter(r.event_type for r in a)
    for etype, frac in [("view", 0.25), ("click", 0.5), ("purchase", 1.0)]:
        rate = kept[etype] / totals[etype]
        assert abs(rate - frac) < 0.08, (etype, rate, frac)

    train = {r.event_id for r in a if r.split == "train"}
    test = {r.event_id for r in a if r.split == "test"}
    assert train and test
    assert not (train & test), "train/test overlap"
    assert len(train) + len(test) == len(a)
    assert 0.7 < len(train) / len(a) < 0.9


def test_l7_audio_windows_matches_python_reference(spark):
    """Every emitted audio window must match a plain-Python recomputation
    of the deterministic PCM payload (RMS + zero crossings)."""
    import hashlib
    import math

    rows = SPECS["l7_audio_windows"].fn(spark, SF_DIR).collect()
    assert rows

    def synth(doc_id):
        n = 1024 + 256 * (doc_id % 4)
        out, seed = b"", str(doc_id).encode() + b"pcm"
        while len(out) < 2 * n:
            seed = hashlib.sha256(seed).digest()
            out += seed
        import struct

        return list(struct.unpack(f"<{n}h", out[: 2 * n]))

    got = {(r.doc_id, r.win_idx): (r.rms, r.zero_crossings) for r in rows}
    for doc_id in {r.doc_id for r in rows if r.doc_id < 20}:
        pcm = synth(doc_id)
        n_win = len(pcm) // 256
        for i in range(n_win):
            w = pcm[i * 256 : (i + 1) * 256]
            rms = math.sqrt(sum(x * x for x in w) / 256)
            zc = sum(
                1
                for a, b in zip(w, w[1:])
                if (a < 0) != (b < 0)
            )
            grms, gzc = got[(doc_id, i)]
            assert abs(grms - rms) < 1e-9, (doc_id, i)
            assert gzc == zc, (doc_id, i, gzc, zc)


def test_a9b_converged_sigma_clip_matches_numpy_fixpoint(spark):
    """The converged clip must equal a NumPy loop run to its fixpoint."""
    import math

    import numpy as np

    got = {
        r.event_type: (r.n_kept, r.clipped_mean)
        for r in SPECS["a9b_sigma_clip_converged"].fn(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type", "value")
    by_type: dict[str, list[float]] = {}
    for r in ev.collect():
        by_type.setdefault(r.event_type, []).append(r.value)
    for etype, vals in by_type.items():
        kept = np.array(vals)
        while True:
            mu, sd = kept.mean(), kept.std(ddof=1)
            nxt = kept[(kept >= mu - 3 * sd) & (kept <= mu + 3 * sd)]
            if len(nxt) == len(kept):
                break
            kept = nxt
        n_kept, mean_kept = got[etype]
        assert n_kept == len(kept), (etype, n_kept, len(kept))
        assert math.isclose(
            mean_kept, math.floor(kept.mean() * 10000 + 0.5) / 10000, abs_tol=1e-4
        )


def test_l9_clusters_match_union_find(spark):
    """Label-propagation clusters must equal a Python union-find over
    the same near-dup pairs (same partition of the vertex set)."""
    pairs = [
        (r.doc_a, r.doc_b)
        for r in SPECS["l2_shingle_jaccard"].fn(spark, SF_DIR).collect()
    ]
    assert pairs
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {}
    for v in parent:
        want.setdefault(find(v), set()).add(v)
    got_rows = SPECS["l9_dup_clusters"].fn(spark, SF_DIR).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert set(map(frozenset, got.values())) == set(map(frozenset, want.values()))
    # cluster representative is the minimum member (deterministic keep-rule)
    for cid, members in got.items():
        assert cid == min(members)


def test_asof_union_trick_matches_bruteforce_hypothesis(spark):
    """Property: the union-trick as-of join must attach, to every left
    row, the LATEST right row with ts <= left.ts per key — including
    equal-timestamp visibility and no-match nulls — for random inputs."""
    import datetime as dt

    from hypothesis import given, settings, strategies as st

    from pyspark.sql.window import Window

    base = dt.datetime(2024, 1, 1)

    ts_strat = st.integers(min_value=0, max_value=50)
    side = st.lists(
        st.tuples(st.integers(0, 3), ts_strat), min_size=1, max_size=25
    )

    @settings(max_examples=6, deadline=None)
    @given(lefts=side, rights=side)
    def check(lefts, rights):
        # dedup right per (key, ts) with max value, mirroring j9's prep
        lrows = [
            (i, k, base + dt.timedelta(minutes=t)) for i, (k, t) in enumerate(lefts)
        ]
        rrows = {}
        for j, (k, t) in enumerate(rights):
            rrows[(k, t)] = max(rrows.get((k, t), -1), j)
        rlist = [
            (k, base + dt.timedelta(minutes=t), float(v))
            for (k, t), v in rrows.items()
        ]
        left = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
        right = spark.createDataFrame(rlist, "k long, ts timestamp, rv double")

        tagged = left.select(
            "k", "ts", F.lit(1).alias("__is_left"), "lid",
            F.lit(None).cast("double").alias("rv"),
        ).unionByName(
            right.select(
                "k", "ts", F.lit(0).alias("__is_left"),
                F.lit(None).cast("long").alias("lid"), "rv",
            )
        )
        w = (
            Window.partitionBy("k")
            .orderBy("ts", "__is_left")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        got = {
            r.lid: r.asof_rv
            for r in tagged.withColumn(
                "asof_rv", F.last("rv", ignorenulls=True).over(w)
            )
            .filter(F.col("__is_left") == 1)
            .select("lid", "asof_rv")
            .collect()
        }
        for lid, k, lts in lrows:
            cands = [(t, v) for (kk, t, v) in rlist if kk == k and t <= lts]
            want = max(cands)[1] if cands else None
            assert got[lid] == want, (lid, got[lid], want)

    check()


def test_events_pyarrow_fallback_equals_normal_path(spark):
    """The registry's pyarrow fallback (for sessions that cannot set
    nanosAsLong) must produce the same rows as the normal parquet read
    with ns→µs normalization — identical ids, timestamps, values."""
    from lightcurator_spark.registry import _events_via_pyarrow, load_table

    normal = {
        r.event_id: (r.ts, r.user_id, r.value)
        for r in load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id", "value")
        .collect()
    }
    fallback = {
        r.event_id: (r.ts, r.user_id, r.value)
        for r in _events_via_pyarrow(spark, f"{SF_DIR}/events.parquet")
        .select("event_id", "ts", "user_id", "value")
        .collect()
    }
    assert normal == fallback


def test_d6_d10_composition_sharpens_planted_period(spark):
    """Domain composition: fold a synthetic sinusoid by the D6-found
    period → the folded profile must be sharp (per-bin σ far below the
    global σ); folding by a wrong period must stay flat."""
    import math
    import random

    import numpy as np

    from lightcurator_spark.operators.curation import _lomb_scargle

    rng = random.Random(7)
    true_p = 8 * 3600.0
    t, rows = 0.0, []
    for _ in range(600):
        t += rng.uniform(300, 2700)
        rows.append((t, math.sin(2 * math.pi * t / true_p) + rng.gauss(0, 0.1)))
    ts = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows])
    periods = np.logspace(np.log10(2 * 3600.0), np.log10(10 * 86400.0), 256)
    power = _lomb_scargle(ts - ts.min(), ys, 1.0 / periods)
    found_p = float(periods[int(np.argmax(power))])
    assert abs(found_p - true_p) / true_p < 0.05

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in rows], "t_s double, value double"
    )

    def binned_sigma(p):
        phase = (F.col("t_s") % F.lit(p)) / F.lit(p)
        out = (
            df.groupBy(F.floor(phase * 10).cast("int").alias("b"))
            .agg(F.stddev_samp("value").alias("sd"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return sum(r.sd * r.n for r in out) / sum(r.n for r in out)

    global_sd = float(ys.std(ddof=1))
    sharp = binned_sigma(found_p)
    flat = binned_sigma(true_p * 1.37)  # deliberately wrong period
    assert sharp < 0.35 * global_sd, (sharp, global_sd)
    assert flat > 0.8 * global_sd, (flat, global_sd)


def test_l5b_banded_selfjoin_subset_scores_and_recall(spark):
    """L5b prunes candidates with LSH banding but scores exactly, so its
    result must be a strict subset of L5 (precision 1.0: same τ on the
    same exact score) with identical rounded similarities, keeping
    useful recall on this corpus (pairs here sit near τ=0.45, the
    hardest regime for 4×4-bit signatures — planted near-dups at
    cos→1 collide with probability →1). The Hamming-1 multi-probe
    added in r5 lifts the floor from 0.3; measured recall is 1.0 at
    both sf0.001 and sf0.01 (r7), and the ≥1-band collision model at
    exactly τ gives ~0.94, so the pinned floor is 0.8."""
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in SPECS["l5_similarity_selfjoin"].fn(spark, SF_DIR).collect()
    }
    banded = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in SPECS["l5b_similarity_selfjoin_lsh"].fn(spark, SF_DIR).collect()
    }
    assert set(banded) <= set(exact), f"false positives: {set(banded) - set(exact)}"
    for pair, sim in banded.items():
        assert sim == exact[pair], f"score drift on {pair}: {sim} vs {exact[pair]}"
    recall = len(banded) / len(exact)
    assert recall >= 0.8, f"banded recall too low: {recall:.2f}"


def test_ann_query_side_collect_is_capped(spark):
    """r4 VERDICT hardening: the driver-side query-set collect used by
    the vectorized/IVF ANN paths must fail loudly past its cap — and
    must never transfer more than cap+1 rows — instead of OOMing the
    driver on an unbounded query side."""
    import pytest
    from pyspark.sql import functions as F

    from lightcurator_spark.operators import similarity as sim

    big = spark.range(sim.MAX_QUERY_VECTORS + 10).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="MAX_QUERY_VECTORS"):
        sim.collect_query_side(big)
    small = spark.range(7).select(F.col("id").alias("vec_id"))
    assert len(sim.collect_query_side(small)) == 7


def test_d12_zone_rewrite_matches_bruteforce(spark):
    """Zones-algorithm cross-match ≡ brute-force nearest-within-ε on
    the same points (exactness of the §4.3 rewrite in 2-D)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from lightcurator_spark.registry import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
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
        F.col("vec_id").alias("obj_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    dist = F.sqrt(
        (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
        + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by"))
    )
    w = Window.partitionBy("det_id").orderBy("dist", "obj_id")
    brute = (
        a.crossJoin(b)
        .withColumn("dist", dist)
        .filter(F.col("dist") <= eps)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("det_id", "obj_id")
    )
    from lightcurator_spark.plans import load_all

    zoned = load_all()["d12_cone_crossmatch_2d"].fn(spark, sf).select("det_id", "obj_id")
    assert sorted(map(tuple, zoned.collect())) == sorted(map(tuple, brute.collect()))


def test_d13_eta_matches_numpy(spark):
    """η (von Neumann ratio) per object ≡ a NumPy reference kernel."""
    import numpy as np
    import pandas as pd
    from lightcurator_spark.plans import load_all
    from lightcurator_spark.registry import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_epochs"], r["eta"])
        for r in load_all()["d13_von_neumann_variability"].fn(spark, sf).collect()
    }
    pdf = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
    )
    pdf = pdf.dropna(subset=["value"]).sort_values(["user_id", "ts", "event_id"])
    expected = {}
    for uid, g in pdf.groupby("user_id"):
        v = g["value"].to_numpy()
        n = len(v)
        if n < 8:
            continue
        var = v.var(ddof=1)
        if var <= 0:
            continue
        eta = (np.diff(v) ** 2).sum() / (n - 1) / var
        expected[uid] = (n, np.floor(eta * 10000 + 0.5) / 10000)
    assert set(got) == set(expected)
    for uid in expected:
        assert got[uid][0] == expected[uid][0]
        assert abs(got[uid][1] - expected[uid][1]) < 1e-9, uid


def test_a14_mad_matches_numpy(spark):
    """MAD outlier census ≡ NumPy median/MAD reference."""
    import numpy as np
    from lightcurator_spark.plans import load_all
    from lightcurator_spark.registry import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["n"], r["n_outliers"], r["med_v"], r["mad_v"])
        for r in load_all()["a14_mad_outliers"].fn(spark, sf).collect()
    }
    pdf = load_table(spark, sf, "events").select("event_type", "value").toPandas()
    pdf = pdf.dropna(subset=["value"])
    for et, g in pdf.groupby("event_type"):
        v = g["value"].to_numpy()
        med = np.median(v)
        mad = np.median(np.abs(v - med))
        z = np.abs(0.6745 * (v - med) / mad)
        n, n_out, med_q, mad_q = got[et]
        assert n == len(v)
        assert n_out == int((z > 3.5).sum()), et
        assert abs(med_q - np.floor(med * 10000 + 0.5) / 10000) < 1e-9
        assert abs(mad_q - np.floor(mad * 10000 + 0.5) / 10000) < 1e-9


def test_l7_resize_matches_python_reference(spark):
    """The resize kernel's thumbnails ≡ a plain-Python recomputation:
    decode the SAME deterministic BMP with the pure-NumPy reader,
    grayscale, nearest-neighbor downsample."""
    import numpy as np
    from lightcurator_spark.operators.multimodal import decode_bmp, synth_bmp
    from lightcurator_spark.plans import load_all

    got = {
        r["doc_id"]: (r["src_w"], r["src_h"], r["thumb"])
        for r in load_all()["l7_image_resize"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got
    T = 4
    for doc_id, (w, h, thumb) in list(got.items())[:50]:
        px = decode_bmp(synth_bmp(int(doc_id)))
        assert (h, w) == px.shape[:2]
        gray = px.astype("float64").mean(axis=2)
        want = [
            float(gray[(y * h) // T, (x * w) // T])
            for y in range(T)
            for x in range(T)
        ]
        assert thumb == want, doc_id
    assert isinstance(px, np.ndarray)


def test_bmp_ppm_roundtrip_and_image_features(spark):
    """r4 VERDICT missing #1: the default image decode is now REAL.
    encode_bmp→decode_bmp round-trips pixel-exactly (including
    non-multiple-of-4 widths that exercise row padding and the
    bottom-up BGR layout); decode_ppm parses a hand-built P6 with
    comments; and the registered l7_image_features query's Spark
    output matches a driver-side plain-Python recompute."""
    import numpy as np
    from lightcurator_spark.operators import multimodal as mm
    from lightcurator_spark.plans import load_all

    rng = np.random.default_rng(42)
    for w, h in [(1, 1), (3, 2), (5, 7), (16, 16)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (mm.decode_bmp(mm.encode_bmp(px)) == px).all(), (w, h)
    ppm = b"P6\n# a comment\n3 2\n255\n" + bytes(range(18))
    px = mm.decode_ppm(ppm)
    assert px.shape == (2, 3, 3) and px.flatten().tolist() == list(range(18))
    # _decode_image dispatches on magic and reports RGB-mean features
    w, h, mean = mm._decode_image(ppm)
    assert (w, h) == (3, 2) and abs(mean - (17 * 18 / 2) / 18) < 1e-9

    got = {
        r.doc_id: (r.width, r.height, r.mean_pixel)
        for r in load_all()["l7_image_features"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got
    for doc_id in list(got)[:50]:
        px = mm.decode_bmp(mm.synth_bmp(int(doc_id)))
        want = (px.shape[1], px.shape[0], float(px.astype("float64").mean()))
        assert got[doc_id][:2] == want[:2], doc_id
        assert abs(got[doc_id][2] - want[2]) < 1e-9, doc_id


def test_l7_image_decoder_injection_seam(spark):
    """VERDICT r3 item 5: the image-feature stage must accept a swapped-in
    decoder WITHOUT image libraries present. A pure-Python decoder (parsing
    a trivial header we synthesize) is registered via set_image_decoder,
    the real `image_features` mapInPandas pipeline runs end-to-end on
    Spark, and the output matches a driver-side recompute — proving the
    NotImplementedError in the PIL default is the only untested line."""
    from lightcurator_spark.operators import multimodal as mm
    from lightcurator_spark.registry import load_table

    def toy_decoder(payload: bytes):
        # 'format': byte0=width, byte1=height, rest = pixels
        w, h = payload[0], payload[1]
        body = payload[2 : 2 + w * h]
        return int(w), int(h), float(sum(body)) / max(len(body), 1)

    docs = load_table(spark, SF_DIR, "documents").select("doc_id").limit(50)
    payload = F.concat(
        # width / height bytes derived from doc_id, then a sha2 body
        F.expr("unhex(lpad(hex(pmod(doc_id, 7) + 3), 2, '0'))"),
        F.expr("unhex(lpad(hex(pmod(doc_id, 5) + 3), 2, '0'))"),
        F.sha2(F.col("doc_id").cast("string").cast("binary"), 512).cast("binary"),
    )
    packed = docs.select("doc_id", payload.alias("payload"))

    mm.set_image_decoder(toy_decoder)
    try:
        got = {
            r.doc_id: (r.width, r.height, r.mean_pixel)
            for r in mm.image_features(packed).collect()
        }
    finally:
        mm.set_image_decoder(None)
    assert got

    want = {
        r.doc_id: toy_decoder(bytes(r.payload)) for r in packed.collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], (k, got[k], want[k])
        assert abs(got[k][2] - want[k][2]) < 1e-9, (k, got[k], want[k])

    # and with no decoder registered + no PIL, the default raises the
    # documented NotImplementedError on import, not an obscure failure
    try:
        import PIL  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(NotImplementedError):
            mm._decode_image(b"\x03\x03abcdefghi")


def test_zone_crossmatch_equals_bruteforce_hypothesis(spark):
    """Property (VERDICT r3 item 6): the 2-D zones-algorithm cross-match
    must return EXACTLY the brute-force nearest-within-eps match set —
    including boundary-exact distances (|dy| lands on eps after float
    rounding) and denormal coordinates, the family that falsified the
    1-D band join in r3."""
    from hypothesis import example, given, settings, strategies as st

    from lightcurator_spark.operators.curation import zone_cone_crossmatch

    coord = st.floats(min_value=-3, max_value=3, allow_nan=False, width=32)
    pts = st.lists(st.tuples(coord, coord), min_size=1, max_size=25)

    @settings(max_examples=8, deadline=None)
    # 1-D falsifier family lifted to 2-D: same-x pair at exact eps
    # vertical separation across the zone origin — ±1 zones drops it.
    @example(dets=[(0.0, 0.5)], objs=[(0.0, -1.4e-45)], eps=0.5)
    @given(dets=pts, objs=pts, eps=st.sampled_from([0.05, 0.5, 2.0]))
    def check(dets, objs, eps):
        a = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(dets)],
            "det_id int, x double, y double",
        )
        b = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(objs)],
            "obj_id int, bx double, by double",
        )
        got = {
            r.det_id: (r.obj_id, r.dist)
            for r in zone_cone_crossmatch(a, b, eps).collect()
        }
        import math

        want = {}
        for i, (x, y) in enumerate(dets):
            cands = []
            for j, (bx, by) in enumerate(objs):
                # mirror the operator's float semantics exactly
                if not (x - eps <= bx <= x + eps and y - eps <= by <= y + eps):
                    continue
                d = math.sqrt((x - bx) * (x - bx) + (y - by) * (y - by))
                if d <= eps:
                    cands.append((d, j))
            if cands:
                d, j = min(cands)
                want[i] = (j, d)
        assert set(got) == set(want), (
            f"eps={eps} matched-set differs: only_spark="
            f"{set(got) - set(want)} only_brute={set(want) - set(got)}"
        )
        for k in want:
            assert got[k][0] == want[k][0], (k, got[k], want[k])
            assert math.isclose(got[k][1], want[k][1], rel_tol=0, abs_tol=0) or (
                got[k][1] == want[k][1]
            ), (k, got[k], want[k])

    check()


def test_d6b_bootstrap_fap_separates_signal_from_noise(spark):
    """Bootstrap FAP must call a planted strong 12 h sinusoid highly
    significant (FAP ~ 0) and a pure-noise curve insignificant
    (FAP well away from 0). Deterministic: the kernel seeds its
    permutation RNG from user_id."""
    import math
    import random

    import numpy as np
    import pandas as pd

    from lightcurator_spark.operators.curation import _lomb_scargle

    rng = random.Random(7)
    period_s = 12 * 3600.0
    rows = []
    for uid, signal in ((1, True), (2, False)):
        t = 0.0
        for _ in range(300):
            t += rng.uniform(600, 5400)
            v = (math.sin(2 * math.pi * t / period_s) if signal else 0.0) + rng.gauss(0, 0.3)
            rows.append((uid, t, v))
    df = spark.createDataFrame(rows, "user_id long, t_s double, value double")

    n_grid, B = 128, 64
    periods = np.logspace(np.log10(2 * 3600.0), np.log10(10 * 86400.0), n_grid)
    freqs = 1.0 / periods

    def boot(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf["user_id"].iloc[0])
        t = pdf["t_s"].to_numpy()
        y = pdf["value"].to_numpy()
        o = np.argsort(t)
        t, y = t[o] - t.min(), y[o]
        obs = _lomb_scargle(t, y, freqs).max()
        g = np.random.default_rng(uid)
        hits = sum(
            1 for _ in range(B) if _lomb_scargle(t, g.permutation(y), freqs).max() >= obs
        )
        return pd.DataFrame({"user_id": [uid], "fap": [hits / B]})

    faps = {
        r.user_id: r.fap
        for r in df.groupBy("user_id")
        .applyInPandas(boot, "user_id long, fap double")
        .collect()
    }
    assert faps[1] <= 0.02, f"planted signal should be significant, fap={faps[1]}"
    assert faps[2] >= 0.1, f"pure noise should not be significant, fap={faps[2]}"

    # corpus smoke: every object gets a valid probability
    res = SPECS["d6b_period_bootstrap_fap"].fn(spark, SF_DIR).collect()
    assert res and all(0.0 <= r.fap <= 1.0 for r in res)


def test_l21b_bloom_equals_plain_incremental_dedup(spark):
    """The Bloom pre-filtered incremental dedup must return exactly the
    plain broadcast-join result (no false negatives by construction,
    false positives removed by the verify join)."""
    plain = {
        (r.doc_id, r.n_chars, r.is_known)
        for r in SPECS["l21_incremental_dedup"].fn(spark, SF_DIR).collect()
    }
    bloom = {
        (r.doc_id, r.n_chars, r.is_known)
        for r in SPECS["l21b_bloom_incremental_dedup"].fn(spark, SF_DIR).collect()
    }
    assert plain and bloom == plain, (
        f"only_plain={plain - bloom} only_bloom={bloom - plain}"
    )


def test_l22_symspell_equals_bruteforce_levenshtein(spark):
    """Deletion-neighborhood candidate generation must lose no pair:
    compare against a driver-side brute force over the distinct
    vocabulary (bounded — names repeat across parts)."""
    rows = SPECS["l22_fuzzy_name_join"].fn(spark, SF_DIR).collect()
    got = {(r.name_a, r.name_b): r.edit_dist for r in rows}

    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    names = sorted(
        r.p_name
        for r in SPECS["l22_fuzzy_name_join"]
        .fn.__globals__["load_table"](spark, SF_DIR, "part")
        .select("p_name")
        .distinct()
        .collect()
    )
    want = {
        (a, b): lev(a, b)
        for a, b in itertools.combinations(names, 2)
        if lev(a, b) <= 2
    }
    assert got == want, (
        f"missed={set(want) - set(got)} extra={set(got) - set(want)}"
    )


def test_l9b_large_small_star_equals_label_propagation(spark):
    """Large-star/small-star must produce exactly l9's (doc_id,
    cluster_id=component min) labeling on the corpus, and converge on a
    synthetic chain + star + singleton-pair graph (the shapes that
    stress path contraction)."""
    l9 = {
        (r.doc_id, r.cluster_id)
        for r in SPECS["l9_dup_clusters"].fn(spark, SF_DIR).collect()
    }
    l9b = {
        (r.doc_id, r.cluster_id)
        for r in SPECS["l9b_cc_large_small_star"].fn(spark, SF_DIR).collect()
    }
    assert l9, "corpus should contain near-dup clusters"
    assert l9b == l9, f"only_l9={l9 - l9b} only_l9b={l9b - l9}"


def test_l11_span_census_matches_python_bruteforce(spark):
    """Independent check of L11 against a plain-Python reference on the
    real sf0.01 corpus (5,000 docs): same duplicated-gram flags, same
    maximal-run counts. Guards against the operator and its DuckDB
    oracle sharing one author's misreading of the semantics."""
    from collections import defaultdict

    from lightcurator_spark.registry import load_table

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    owners = defaultdict(set)
    positions = {}
    for did, toks in docs.items():
        grams = [tuple(toks[p : p + 8]) for p in range(len(toks) - 7)]
        positions[did] = grams
        for g in grams:
            owners[g].add(did)
    expected = {}
    for did, grams in positions.items():
        if not grams:
            continue
        dup_flags = [len(owners[g]) >= 2 for g in grams]
        n_dup = sum(dup_flags)
        n_spans = sum(
            1
            for i, f in enumerate(dup_flags)
            if f and (i == 0 or not dup_flags[i - 1])
        )
        expected[did] = (len(grams), n_dup, n_spans)

    got = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.n_dup_spans)
        for r in SPECS["l11_ngram_span_dedup"].fn(spark, SF_DIR).collect()
    }
    assert got == expected
    # the corpus must actually exercise the operator: some duplicated
    # spans exist (documents share boilerplate), some docs are clean
    assert any(v[1] > 0 for v in got.values())
    assert any(v[1] == 0 for v in got.values())


def test_a15_sketch_union_is_exact_over_sketches(spark):
    """A15's properties: (1) the union-of-cell-sketches estimate lands
    inside HLL's error envelope of the exact distinct count, exactly
    like a direct single-sketch build would (5% @ lgK=14 is generous —
    measured both paths land within 0.25%); (2) the rollup is
    deterministic (same sketches → same estimate on re-run). Note the
    union path is NOT bitwise-identical to a direct build (Spark's
    DataSketches union re-represents registers), so the test bounds
    error rather than asserting estimate equality."""
    from pyspark.sql import functions as F

    from lightcurator_spark.registry import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    direct = {
        r.l_returnflag: r.est
        for r in li.groupBy("l_returnflag")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(14))).alias("est"))
        .collect()
    }
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    merged = {
        r.l_returnflag: r.approx_parts
        for r in SPECS["a15_hll_partition_union"].fn(spark, SF_DIR).collect()
    }
    rerun = {
        r.l_returnflag: r.approx_parts
        for r in SPECS["a15_hll_partition_union"].fn(spark, SF_DIR).collect()
    }
    assert merged == rerun, "sketch rollup must be deterministic"
    for k, est in merged.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])
        assert abs(direct[k] - exact[k]) / exact[k] < 0.05, (k, direct[k], exact[k])


def test_a16_candidates_cover_exact_heavy_set(spark):
    """The Misra–Gries coverage bound, checked empirically: every item
    whose EXACT count exceeds n/64 must appear in the per-batch top-K
    candidate union, and the operator's output equals the brute-force
    GROUP BY / HAVING computed wholly in Spark."""
    from pyspark.sql import functions as F

    from lightcurator_spark.registry import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    u = (F.col("l_orderkey") % 1024) / 1024.0
    items = li.select(F.floor(u * u * u * 200).cast("long").alias("item"))
    n = items.count()
    exact = {
        r.item: r.cnt
        for r in items.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()
        if r.cnt > n / 64.0
    }
    got = {
        r.item: r.cnt
        for r in SPECS["a16_heavy_hitters"].fn(spark, SF_DIR).collect()
    }
    assert got == exact, (got, exact)
    assert 3 <= len(got) < 30, f"threshold not discriminating: {len(got)} items"


def test_g1_pagerank_matches_numpy_power_iteration(spark):
    """G1's DataFrame loop must equal a NumPy power iteration with the
    identical damped/dangling formula over the identical edge list."""
    import numpy as np
    import duckdb

    sf = "/root/testdata/sf0.001"
    from lightcurator_spark.operators.analytics_ext import g1_pagerank

    got = {
        (r.node_type, r.entity_key): r.rank
        for r in g1_pagerank(spark, sf).collect()
    }

    con = duckdb.connect()
    edges = con.execute(
        f"""SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
            FROM read_parquet('{sf}/orders.parquet') o
            JOIN read_parquet('{sf}/lineitem.parquet') l
              ON o.o_orderkey = l.l_orderkey"""
    ).fetchall()
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    rank = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(8):
        dangling = rank[out_deg == 0].sum()
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += rank[idx[s]] / out_deg[idx[s]]
        rank = (1 - d) / n + d * (contrib + dangling / n)
    ranked = sorted(
        (
            (
                "customer" if node % 2 == 0 else "supplier",
                node // 2,
                np.floor(rank[idx[node]] * 1e8 + 0.5) / 1e8,
            )
            for node in nodes
        ),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:20]
    want = {(t, k): r for t, k, r in ranked}
    assert set(got) == set(want), (set(got) ^ set(want))
    for key in want:
        assert abs(got[key] - want[key]) < 1e-6, (key, got[key], want[key])


def test_a17_cms_properties(spark):
    """CMS one-sided error, the ε·N overcount bound, and sketch-merge
    associativity (sketch(A)+sketch(B) == sketch(A ∪ B) exactly)."""
    import pyspark.sql.functions as F

    from lightcurator_spark.operators.analytics_ext import (
        a17_cms_frequency,
        cms_sketch,
    )
    from lightcurator_spark.registry import load_table

    out = a17_cms_frequency(spark, SF_DIR).collect()
    assert len(out) > 0
    n_total = sum(r.exact_n for r in out)
    eps_bound = 2.0 * n_total / 64  # classic per-row bound, pre-min
    for r in out:
        assert r.overcount >= 0, r  # CMS never undercounts
        assert r.est_n - r.exact_n <= eps_bound, r

    ev = load_table(spark, SF_DIR, "events")
    full = {(r.seed, r.bucket): r.cnt for r in cms_sketch(ev, "user_id").collect()}
    ha = cms_sketch(ev.filter(F.col("event_id") % 2 == 0), "user_id")
    hb = cms_sketch(ev.filter(F.col("event_id") % 2 == 1), "user_id")
    merged = {
        (r.seed, r.bucket): r.cnt
        for r in ha.unionAll(hb)
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == full


def test_l20_semantic_dedup_matches_bruteforce(spark):
    """L20's multi-probe drop rule replayed brute-force in NumPy over
    the same probe assignments must keep the identical set."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.001"
    from lightcurator_spark.operators.analytics_ext import (
        l20_semantic_dedup,
        semantic_cell_assignments,
    )

    rows = l20_semantic_dedup(spark, sf).collect()
    assert any(r.kept == 0 for r in rows)  # non-degenerate on this corpus
    got_kept = {r.vec_id for r in rows if r.kept == 1}
    probe = {
        r.vec_id: set(r.probe_cells)
        for r in semantic_cell_assignments(spark, sf).collect()
    }

    t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    emb = {
        int(v): np.asarray(e, dtype="float64")
        for v, e in zip(t["vec_id"], t["embedding"])
    }
    vids = sorted(probe)
    dropped = set()
    for j, vb in enumerate(vids):
        for va in vids[:j]:
            if probe[va] & probe[vb]:
                a, b = emb[va], emb[vb]
                cos = float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
                if cos > 0.42:
                    dropped.add(vb)
                    break
    want_kept = set(vids) - dropped
    assert got_kept == want_kept, got_kept ^ want_kept


def test_l20_multiprobe_recall_vs_global_rule(spark):
    """The documented recall claim, pinned: multi-probe (2 cells) must
    recover ≥ 70% of the GLOBAL drop rule's victims on this corpus
    (single-probe measured 0.30 — the boundary-straddling loss
    multi-probe exists to fix)."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.001"
    from lightcurator_spark.operators.analytics_ext import l20_semantic_dedup

    got_drops = {
        r.vec_id for r in l20_semantic_dedup(spark, sf).collect() if r.kept == 0
    }
    t = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    X = np.stack(t["embedding"].to_numpy()).astype("float64")
    ids = t["vec_id"].to_numpy()
    n = np.linalg.norm(X, axis=1)
    C = (X @ X.T) / np.outer(n, n)
    iu, ju = np.triu_indices(len(X), 1)
    mask = C[iu, ju] > 0.42
    global_drops = set()
    for a, b in zip(iu[mask], ju[mask]):
        lo, hi = sorted((int(ids[a]), int(ids[b])))
        global_drops.add(hi)
    assert global_drops, "corpus lost its near-dup pairs — re-derive tau"
    assert got_drops <= set(ids.tolist())
    recall = len(got_drops & global_drops) / len(global_drops)
    assert recall >= 0.7, recall



def test_w9_funnel_fold_matches_python_reference_hypothesis(spark):
    """Property: the higher-order funnel fold (api.event_funnel, W9's
    engine) equals a pure-Python state machine over random event
    sequences — including same-timestamp ties, where the strict
    `us > prev` rule must reject a same-instant next stage, and
    boundary hits at exactly prev + window (accepted, <=)."""
    import datetime

    from hypothesis import given, settings, strategies as st

    from lightcurator_spark import api

    STAGES = ["view", "click", "purchase"]
    W_US = 1000 * 1_000_000  # 1000 s window

    events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # user
            st.integers(min_value=0, max_value=4000), # seconds offset (ties likely)
            st.sampled_from(STAGES + ["noise"]),
        ),
        min_size=1,
        max_size=60,
    )

    def python_funnel(rows):
        out = {}
        per_user = {}
        for eid, (u, sec, et) in enumerate(rows):
            if et in STAGES:
                per_user.setdefault(u, []).append(((1704067200 + sec) * 1_000_000, eid, et))
        for u, evs in per_user.items():
            v = c = p = None
            for us, _eid, et in sorted(evs):
                if v is None and et == "view":
                    v = us
                elif c is None and v is not None and et == "click" \
                        and us > v and us <= v + W_US:
                    c = us
                elif p is None and c is not None and et == "purchase" \
                        and us > c and us <= c + W_US:
                    p = us
            out[u] = (v, c, p)
        return out

    @settings(max_examples=6, deadline=None)
    @given(rows=events)
    def check(rows):
        base = datetime.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [
                (eid, u, base + datetime.timedelta(seconds=sec), et)
                for eid, (u, sec, et) in enumerate(rows)
            ],
            "event_id long, user_id long, ts timestamp, event_type string",
        )
        got = {
            r.user_id: (r.view_us, r.click_us, r.purchase_us)
            for r in api.event_funnel(
                df, "user_id", "ts", "event_type", STAGES, W_US
            ).collect()
        }
        want = python_funnel(rows)
        assert got == want, (got, want)

    check()


def test_w11_ewma_matches_python_fold(spark):
    """W11 ground truth independent of BOTH engines: a pure-Python
    left fold over the (ts, event_id)-ordered per-user series must
    reproduce the Spark fold bit-for-bit (same seed-from-first-element
    semantics, same left-assoc float ops)."""
    import pyarrow.parquet as pq

    got = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in SPECS["w11_ewma"].fn(spark, SF_DIR).collect()
    }
    tbl = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    tbl["ts_us"] = tbl["ts"].astype("int64") // (
        1000 if str(pq.read_schema(f"{SF_DIR}/events.parquet").field("ts").type)
        == "timestamp[ns]" else 1
    )
    want = {}
    for uid, g in tbl.groupby("user_id"):
        rows = sorted(zip(g["ts_us"], g["event_id"], g["value"]))
        acc = None
        for _, _, x in rows:
            acc = x if acc is None else x * 0.2 + acc * 0.8
        import math as _m

        want[int(uid)] = (len(rows), _m.floor(acc * 10000 + 0.5) / 10000)
    assert got == want


def test_l25_prefix_filter_complete_at_boundaries(spark, tmp_path):
    """L25 completeness falsifier hunt: crafted corpora where the
    prefix bound is tightest — exact J = 0.9 pairs, doc sizes at
    multiples of 10 (where a float ⌈0.9n⌉ over-shoots and would shrink
    the prefix below the safe length), plus seeded random corpora —
    must match a brute-force all-pairs Jaccard scan exactly."""
    import itertools
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    def corpus_case(name, docs):
        d = tmp_path / name
        d.mkdir()
        pa_tbl = pa.table(
            {
                "doc_id": pa.array(range(len(docs)), pa.int64()),
                "text": pa.array([" ".join(t) for t in docs]),
                "lang": pa.array(["en"] * len(docs)),
                "source": pa.array(["t"] * len(docs)),
                "n_chars": pa.array(
                    [len(" ".join(t)) for t in docs], pa.int64()
                ),
            }
        )
        pq.write_table(pa_tbl, d / "documents.parquet")
        got = {
            (r.doc_a, r.doc_b, r.inter_size, r.union_size)
            for r in SPECS["l25_prefix_filter_join"].fn(spark, str(d)).collect()
        }
        sets = [set(t) for t in docs]
        want = set()
        for i, j in itertools.combinations(range(len(docs)), 2):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if 10 * inter >= 9 * union:
                want.add((i, j, inter, union))
        assert got == want, f"{name}: missed={want - got} extra={got - want}"

    # exact-boundary pair: |a|=|b|=19, inter=18 -> J = 18/20 = 0.9
    base = [f"t{i}" for i in range(20)]
    corpus_case(
        "boundary",
        [base[:19], base[1:20], [f"u{i}" for i in range(19)]],
    )
    # sizes at multiples of 10 (float-ceil trap), near-identical docs
    forty = [f"w{i}" for i in range(40)]
    corpus_case(
        "mult10",
        [forty, forty[:36] + [f"x{i}" for i in range(4)], forty[:30]],
    )
    # seeded random corpus with a planted dup cluster
    rng = random.Random(42)
    vocab = [f"v{i}" for i in range(60)]
    docs = [rng.sample(vocab, rng.randint(10, 30)) for _ in range(25)]
    docs.append(docs[0][:])  # exact dup
    docs.append(docs[1][: len(docs[1]) - 1])  # near dup
    corpus_case("random", docs)


def test_g2_bfs_matches_python_reference(spark):
    """G2 vs a dict-based BFS over the SAME edge set: hop levels and
    reachability must agree exactly (catches off-by-one frontier or
    anti-join bugs that a recursive-CTE oracle sharing the bound would
    mask)."""
    from collections import deque

    got = {
        r.node: r.hop for r in SPECS["g2_shortest_path"].fn(spark, SF_DIR).collect()
    }
    from lightcurator_spark.registry import load_table

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
        .collect()
    )
    adj: dict[int, list[int]] = {}
    for r in edges:
        adj.setdefault(r.c_nationkey, []).append(r.s_nationkey)
    want, q = {0: 0}, deque([0])
    while q:
        u = q.popleft()
        if want[u] >= 3:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want


def test_d18_identity_form_matches_two_pass_definition(spark):
    """D18's trig-identity algebra vs the textbook two-pass
    definition (explicit τ, then Σ(y−ȳ)cos(ω(t−τ)) sums in NumPy):
    powers must agree to well under the 4-dp rounding step on every
    (object, frequency) cell."""
    import numpy as np
    import pyarrow.parquet as pq

    from lightcurator_spark.operators.series_ext import _D18_GRID

    got = {
        (r.user_id, r.freq_id): r.ls_power
        for r in SPECS["d18_ls_periodogram_grid"].fn(spark, SF_DIR).collect()
    }
    sch = str(pq.read_schema(f"{SF_DIR}/events.parquet").field("ts").type)
    tbl = pq.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    tbl["ts_us"] = tbl["ts"].astype("int64") // (1000 if sch == "timestamp[ns]" else 1)
    checked = 0
    for uid, g in tbl.groupby("user_id"):
        t = (g["ts_us"].to_numpy() - g["ts_us"].min()) / 1e6
        y = g["value"].to_numpy(dtype="float64")
        n = len(y)
        yc = y - y.mean()
        var = y.var(ddof=1)
        for fid, _p, w in _D18_GRID:
            tau = np.arctan2(np.sum(np.sin(2 * w * t)), np.sum(np.cos(2 * w * t))) / (
                2 * w
            )
            c = np.cos(w * (t - tau))
            s = np.sin(w * (t - tau))
            power = (
                np.sum(yc * c) ** 2 / np.sum(c * c)
                + np.sum(yc * s) ** 2 / np.sum(s * s)
            ) / (2 * var)
            assert abs(got[(uid, fid)] - power) < 5e-4, (uid, fid, power)
            checked += 1
    assert checked == len(got)


def test_a20_weighted_median_matches_python_reference(spark):
    """A20 vs an engine-independent Python reference of the declared
    definition: smallest value whose cumulative weight over the
    (value, orderkey, linenumber) order reaches half the total."""
    import math as _m

    import pyarrow.parquet as pq

    got = {
        r.l_returnflag: (r.n_rows, r.weighted_median)
        for r in SPECS["a20_weighted_median"].fn(spark, SF_DIR).collect()
    }
    li = pq.read_table(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice", "l_quantity",
                 "l_orderkey", "l_linenumber"],
    ).to_pandas()
    want = {}
    for flag, g in li.groupby("l_returnflag"):
        rows = sorted(
            zip(g["l_extendedprice"], g["l_orderkey"], g["l_linenumber"],
                g["l_quantity"])
        )
        # weights quantized to 1e-2 integer units, per the operator's
        # declared contract (TRAPS.md #16)
        tot = sum(_m.floor(w * 100 + 0.5) for _, _, _, w in rows)
        cum, med = 0, None
        for v, _, _, w in rows:
            cum += _m.floor(w * 100 + 0.5)
            if med is None and 2 * cum >= tot:
                med = v
        want[flag] = (len(rows), _m.floor(med * 10000 + 0.5) / 10000)
    assert got == want


def test_a21_theil_sen_matches_bruteforce_loop(spark):
    """A21 vs a dumb O(k²) double loop (no numpy broadcasting, no
    shared code path) on the sf0.001 corpus: pair counts and 7-dp
    medians must agree for every object."""
    import math as _m

    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.n_pairs, r.theil_sen_slope)
        for r in SPECS["a21_theil_sen_slope"].fn(spark, sf).collect()
    }
    sch = str(pq.read_schema(f"{sf}/events.parquet").field("ts").type)
    ev = pq.read_table(f"{sf}/events.parquet").to_pandas()
    ev["ts_us"] = ev["ts"].astype("int64") // (1000 if sch == "timestamp[ns]" else 1)
    want = {}
    for uid, g in ev.groupby("user_id"):
        pts = list(zip(g["ts_us"], g["value"]))
        slopes = []
        for ta, ya in pts:
            for tb, yb in pts:
                if tb > ta:
                    slopes.append((yb - ya) / ((tb - ta) / 1e6))
        slopes.sort()
        n = len(slopes)
        if n % 2:
            med = slopes[n // 2]
        else:
            lo, hi = slopes[n // 2 - 1], slopes[n // 2]
            med = lo + (hi - lo) * 0.5
        want[int(uid)] = (n, _m.floor(med * 1e7 + 0.5) / 1e7)
    assert got == want


def test_l26_canonical_is_best_quality_member(spark):
    """L26: every emitted canonical must be a member of its cluster
    with maximal n_chars, minimal doc_id among the maxima; cluster
    sizes must match a Python rebuild of the set-fingerprint groups."""
    import hashlib as _h

    import pyarrow.parquet as pq

    got = {
        r.set_fp: (r.cluster_size, r.canonical_doc_id, r.canonical_n_chars)
        for r in SPECS["l26_canonical_selection"].fn(spark, SF_DIR).collect()
    }
    docs = pq.read_table(f"{SF_DIR}/documents.parquet").to_pandas()
    groups: dict[str, list[tuple[int, int]]] = {}
    for doc_id, text, n_chars in zip(docs["doc_id"], docs["text"], docs["n_chars"]):
        fp = _h.md5(" ".join(sorted(set(text.split(" ")))).encode()).hexdigest()
        groups.setdefault(fp, []).append((int(doc_id), int(n_chars)))
    want = {}
    for fp, members in groups.items():
        if len(members) < 2:
            continue
        best_chars = max(c for _, c in members)
        canon = min(d for d, c in members if c == best_chars)
        want[fp] = (len(members), canon, best_chars)
    assert got == want


def test_g3b_oriented_matches_g3_exactly(spark):
    """G3b (degree-then-id orientation) must land on G3's identical
    per-smallest-node counts — same triangles, different join order."""
    got = {
        r.node_a: r.n_triangles
        for r in SPECS["g3b_triangle_count_oriented"].fn(spark, SF_DIR).collect()
    }
    want = {
        r.node_a: r.n_triangles
        for r in SPECS["g3_triangle_count"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_g3b_planted_hub_builds_zero_wedges(spark):
    """The skew claim, pinned: on a star graph (hub id 0, 200 leaves)
    a<b orientation would build C(200,2) = 19,900 wedge candidates at
    the hub; degree orientation points every leaf AT the hub, so the
    wedge join produces ZERO candidates — out-degree is bounded by
    neighbor degree, not raw degree. A hub-with-one-triangle variant
    still finds its triangle."""
    from lightcurator_spark.operators.series_ext import (
        _orient_by_degree,
        _oriented_wedges,
    )

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 201)], "a long, b long"
    )
    o = _orient_by_degree(star)
    # every edge points leaf → hub (leaves have deg 1 < hub 200)
    assert o.filter(F.col("v") != 0).count() == 0
    assert _oriented_wedges(o).count() == 0
    # naive a<b orientation on the same star: hub owns every out-edge
    naive_pairs = 200 * 199 // 2
    e1 = star.select("a", F.col("b").alias("v1"))
    e2 = star.select("a", F.col("b").alias("v2"))
    assert (
        e1.join(e2, "a").filter(F.col("v1") < F.col("v2")).count()
        == naive_pairs
    )
    # hub + one leaf-leaf edge: exactly one triangle, found at node 0
    tri = star.unionByName(
        spark.createDataFrame([(1, 2)], "a long, b long")
    )
    o2 = _orient_by_degree(tri)
    closure = o2.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    got = (
        _oriented_wedges(o2)
        .join(closure, ["v1", "v2"])
        .groupBy(F.least("u", F.col("v1"), F.col("v2")).alias("node_a"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert [(r.node_a, r.n) for r in got] == [(0, 1)]


def test_g3_triangles_match_python_enumeration(spark):
    """G3 vs itertools enumeration over the same canonical edge set:
    per-smallest-node triangle counts must agree exactly."""
    import itertools

    from lightcurator_spark.registry import load_table

    got = {
        r.node_a: r.n_triangles
        for r in SPECS["g3_triangle_count"].fn(spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    cu = load_table(spark, SF_DIR, "customer")
    su = load_table(spark, SF_DIR, "supplier")
    rows = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select("c_nationkey", "s_nationkey")
        .distinct()
        .collect()
    )
    edges = {
        (min(r.c_nationkey, r.s_nationkey), max(r.c_nationkey, r.s_nationkey))
        for r in rows
    }
    nodes = sorted({n for e in edges for n in e})
    want: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in edges and (b, c) in edges and (a, c) in edges:
            want[a] = want.get(a, 0) + 1
    assert got == want


def test_d19_pdm_detects_planted_period(spark, tmp_path):
    """PDM semantics falsifier: a synthetic curve with a strong 1-day
    signal must score θ(1 d) well below θ at the off-periods, and a
    pure-noise object must not (θ ≈ 1 everywhere) — checks the
    statistic does what the docstring claims, beyond hash parity."""
    import math as _m

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    rows = []
    eid = 0
    base = 1_700_000_000_000_000  # µs epoch
    for uid, periodic in ((1, True), (2, False)):
        for k in range(400):
            t = base + int(rng.integers(0, 30 * 86400_000_000))
            phase = ((t % 86400_000_000) / 86400_000_000) * 2 * _m.pi
            v = 10 * _m.sin(phase) if periodic else 0.0
            v += float(rng.normal(0, 1))
            rows.append((eid, t, uid, "view", v, "{}"))
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    d = tmp_path / "pdm"
    d.mkdir()
    pq.write_table(tbl, d / "events.parquet")
    res = {
        (r.user_id, r.period_id): r.pdm_theta
        for r in SPECS["d19_pdm_period_search"].fn(spark, str(d)).collect()
    }
    # period_id 1 is exactly 1 day
    assert res[(1, 1)] < 0.2, res
    assert all(res[(1, i)] > 2 * res[(1, 1)] for i in (0, 2, 3)), res
    assert all(res[(2, i)] > 0.7 for i in range(4)), res


def test_l28_components_match_union_find(spark):
    """L28 clustering falsifier: rebuild components with a Python
    union-find over the SAME l25 edge set — component membership,
    sizes, and canonical picks must all agree."""
    edges = [
        (r.doc_a, r.doc_b)
        for r in SPECS["l25_prefix_filter_join"].fn(spark, SF_DIR).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for v in parent:
        comps.setdefault(find(v), []).append(v)
    import pyarrow.parquet as pq

    nchars = dict(
        zip(
            *(
                lambda t: (t["doc_id"].to_pylist(), t["n_chars"].to_pylist())
            )(pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "n_chars"]))
        )
    )
    want = {}
    for root, members in comps.items():
        label = min(members)
        best = max(nchars[m] for m in members)
        canon = min(m for m in members if nchars[m] == best)
        want[label] = (len(members), canon, best, len(members) - 1)
    got = {
        r.component_id: (
            r.cluster_size,
            r.canonical_doc_id,
            r.canonical_n_chars,
            r.removed_count,
        )
        for r in SPECS["l28_neardup_canonicalize"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_bmp_roundtrip_hypothesis():
    """Property: encode_bmp→decode_bmp is the identity for EVERY
    (width, height) — including the widths whose 3·w is not a multiple
    of 4 (row padding) and 1-pixel edges. Driver-side only; no Spark."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from lightcurator_spark.operators.multimodal import decode_bmp, encode_bmp

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=40),
        h=st.integers(min_value=1, max_value=40),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = decode_bmp(encode_bmp(px))
        assert out.shape == px.shape
        assert (out == px).all()

    roundtrip()


def test_l30b_next_fit_invariants(spark):
    """Next-fit invariants the hash oracle implies but a reader can't
    see at a glance: no bin exceeds the budget unless it holds a single
    document, and bin indexes are contiguous from 0 per shard."""
    from collections import defaultdict
    from lightcurator_spark.operators.text_analysis import _L30_BUDGET
    from lightcurator_spark.plans import load_all

    rows = load_all()["l30b_next_fit_packing"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    bins = defaultdict(list)
    for r in rows:
        assert r.total_tokens <= _L30_BUDGET or r.n_docs == 1, r
        bins[(r.source, r.shard)].append(r.bin_idx)
    for key, idxs in bins.items():
        assert sorted(idxs) == list(range(len(idxs))), key


def test_ppm_truncated_header_raises():
    """r5 review finding: a truncated P6 header used to spin forever in
    the digit-scan loop; it must raise the documented ValueError."""
    import pytest

    from lightcurator_spark.operators.multimodal import decode_ppm

    for bad in (b"P6 3", b"P6\n3 2", b"P6\n# only a comment", b"P6"):
        with pytest.raises(ValueError, match="truncated PPM header"):
            decode_ppm(bad)


def test_w14_interval_union_matches_python_sweep(spark):
    """W14/api.interval_union vs a pure-Python sweep-line merge over
    seeded random intervals — including swallowed intervals (a long
    one covering several later short ones), touching bounds (end ==
    next start must MERGE: break is strict >), and duplicate starts."""
    import random

    rng = random.Random(42)
    rows = []
    for key in range(8):
        for _ in range(rng.randint(1, 40)):
            s = rng.randint(0, 1000)
            rows.append((key, s, s + rng.choice([1, 5, 50, 400])))
    # pure-python reference
    want = {}
    for key in {r[0] for r in rows}:
        ivs = sorted((s, e) for k, s, e in rows if k == key)
        islands = []
        cs, ce = ivs[0]
        for s, e in ivs[1:]:
            if s > ce:
                islands.append((cs, ce))
                cs, ce = s, e
            else:
                ce = max(ce, e)
        islands.append((cs, ce))
        want[key] = (
            len(islands),
            len(ivs),
            sum(e - s for s, e in islands),
            max(e - s for s, e in islands),
        )
    from lightcurator_spark import api

    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = {
        r.k: (r.n_islands, r.n_intervals, r.covered, r.longest)
        for r in api.interval_union(df, "k", "s", "e").collect()
    }
    assert got == want


def test_l31_sparse_cosine_matches_numpy_bruteforce(spark):
    """api.sparse_cosine_join vs a numpy brute-force over the same
    pruned bigram tf-idf space on a small planted corpus: identical
    pair set and cosines to 1e-9. Verifies the inverted-index path
    loses nothing vs all-pairs (it is exact over the pruned space)."""
    import itertools
    import math
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.3:  # planted near-dup
            dup = list(base)
            if len(dup) > 6:
                dup[rng.randrange(len(dup))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(dup)))
    n = len(docs)
    # python reference with the same df*20 <= n prune
    tf, dfreq = {}, {}
    for did, text in docs:
        t = text.split(" ")
        grams = [f"{a} {b}" for a, b in zip(t, t[1:])]
        cnt = {}
        for g in grams:
            cnt[g] = cnt.get(g, 0) + 1
        tf[did] = cnt
        for g in set(grams):
            dfreq[g] = dfreq.get(g, 0) + 1
    kept = {g for g, d in dfreq.items() if d * 20 <= n}
    vecs = {}
    for did, cnt in tf.items():
        v = {
            g: c * math.log(n / dfreq[g])
            for g, c in cnt.items()
            if g in kept
        }
        nm = math.sqrt(sum(x * x for x in v.values()))
        if nm > 0:
            vecs[did] = {g: x / nm for g, x in v.items()}
    want = {}
    for a, b in itertools.combinations(sorted(vecs), 2):
        shared = set(vecs[a]) & set(vecs[b])
        if not shared:
            continue
        cos = sum(vecs[a][g] * vecs[b][g] for g in shared)
        if cos >= 0.3:
            want[(a, b)] = cos
    assert want, "corpus should contain planted near-dup pairs"
    from lightcurator_spark import api

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in api.sparse_cosine_join(df, "doc_id", "text", tau=0.3).collect()
    }
    assert set(got) == set(want), (set(want) - set(got), set(got) - set(want))
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_l34_strip_agrees_with_l11_census(spark):
    """L34's removal accounting must agree with L11's span census on
    the same gram definition: a document has removed tokens iff L11
    sees duplicated grams in it, and every removed count covers at
    least the duplicated-gram count (an 8-gram span removes >= its
    gram starts) while never exceeding the token count."""
    l11 = {
        r.doc_id: r.n_dup_grams
        for r in SPECS["l11_ngram_span_dedup"].fn(spark, SF_DIR).collect()
    }
    l34 = {
        r.doc_id: (r.n_tokens, r.n_kept, r.n_removed)
        for r in SPECS["l34_boilerplate_strip"].fn(spark, SF_DIR).collect()
    }
    assert any(v > 0 for v in l11.values()), "corpus has duplicated spans"
    for doc, dup_grams in l11.items():
        n_tokens, n_kept, n_removed = l34[doc]
        assert n_kept + n_removed == n_tokens
        assert (n_removed > 0) == (dup_grams > 0), (doc, dup_grams, n_removed)
        if dup_grams:
            # maximal duplicated spans are disjoint; a span of g gram
            # starts covers g + 7 tokens, so removed >= dup_grams + 7
            assert dup_grams + 7 <= n_removed <= n_tokens, (doc, dup_grams)


def test_l4e_pq_ann_properties(spark):
    """PQ+re-rank ANN: final scores are EXACT cosine (identical to
    brute force for the same pair), results are deterministic across
    runs, every query returns exactly k rows, and recall@5 vs L4 is
    high on this corpus (measured 1.0 at sf0.01, 0.95 at sf0.1)."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    approx = SPECS["l4e_knn_pq"].fn(spark, SF_DIR).collect()
    assert approx, "PQ ANN returned no rows"
    from collections import Counter
    per_q = Counter(r.query_id for r in approx)
    assert all(v == 5 for v in per_q.values()), per_q
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.cos_sim, r
    recall = sum(1 for r in approx if (r.query_id, r.vec_id) in exact) / len(exact)
    assert recall >= 0.9, f"PQ recall too low: {recall:.2f}"
    again = SPECS["l4e_knn_pq"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_l7_audio_spectral_matches_naive_dft_reference(spark):
    """Every spectral value must match an INDEPENDENT pure-Python
    O(n²) DFT reference (cmath, no numpy.fft) to float tolerance —
    the features are real DSP, not decorative."""
    import cmath
    import hashlib
    import math

    rows = [
        r
        for r in SPECS["l7_audio_spectral"].fn(spark, SF_DIR).collect()
        if r.doc_id in (0, 3)
    ]
    assert rows

    def synth(doc_id):
        n = 1024 + 256 * (doc_id % 4)
        out, seed = b"", str(doc_id).encode() + b"pcm"
        while len(out) < 2 * n:
            seed = hashlib.sha256(seed).digest()
            out += seed
        import struct
        return list(struct.unpack(f"<{n}h", out[: 2 * n]))

    def ref(doc_id, win_idx):
        pcm = synth(doc_id)[win_idx * 256 : (win_idx + 1) * 256]
        w = [
            s * (0.5 - 0.5 * math.cos(2 * math.pi * i / 256))
            for i, s in enumerate(pcm)
        ]
        power = []
        for k in range(129):
            z = sum(
                w[t] * cmath.exp(-2j * math.pi * k * t / 256)
                for t in range(256)
            )
            power.append(abs(z) ** 2)
        p = power[1:]
        tot = sum(p)
        bins = list(range(1, 129))
        cent = sum(pi * b for pi, b in zip(p, bins)) / tot
        bw = math.sqrt(
            sum(pi * (b - cent) ** 2 for pi, b in zip(p, bins)) / tot
        )
        cum, roll = 0.0, None
        for i, pi in enumerate(p):
            cum += pi
            if cum >= 0.85 * tot:
                roll = i + 1
                break
        return cent, bw, roll

    for r in rows:
        cent, bw, roll = ref(r.doc_id, r.win_idx)
        assert abs(r.centroid - cent) < 1e-6 * max(1.0, abs(cent)), r
        assert abs(r.bandwidth - bw) < 1e-6 * max(1.0, abs(bw)), r
        assert r.rolloff == roll, (r, roll)


def test_l35b_pca_projection_properties(spark):
    """PCA projections must carry real spectral structure: component
    variances equal the covariance matrix's top eigenvalues, the
    projections match an independent NumPy PCA to |corr| = 1 per
    component (sign-free), and successive components are uncorrelated."""
    import numpy as np

    e = SPECS["l35b_pca_project"].fn(spark, SF_DIR).collect()
    ids = np.array([r.vec_id for r in e])
    P = np.array([[r.pc1, r.pc2, r.pc3, r.pc4] for r in e])

    from lightcurator_spark.registry import load_table

    emb = load_table(spark, SF_DIR, "embeddings").orderBy("vec_id").collect()
    X = np.array([r.embedding for r in emb], dtype="float64")
    order = np.argsort(ids)
    P = P[order]
    Xc = X - X.mean(axis=0)
    w, v = np.linalg.eigh(np.cov(X, rowvar=False))
    top = np.argsort(w)[::-1][:4]
    ref = Xc @ v[:, top]
    for k in range(4):
        c = np.corrcoef(P[:, k], ref[:, k])[0, 1]
        assert abs(abs(c) - 1.0) < 1e-3, (k, c)
        # variance of the k-th projection ≈ k-th eigenvalue (R4 rounding
        # of the covariance input perturbs the spectrum slightly)
        assert abs(P[:, k].var(ddof=1) - w[top[k]]) < 1e-2 * max(1.0, w[top[k]])
    for a in range(4):
        for b in range(a + 1, 4):
            r = np.corrcoef(P[:, a], P[:, b])[0, 1]
            assert abs(r) < 0.05, (a, b, r)


def test_l7_scene_cuts_finds_planted_boundary_exactly(spark):
    """Every synthesized stream plants exactly ONE scene cut at its
    midpoint; the detector must report exactly that cut frame for
    every document, with no false cuts inside the jittered-but-steady
    scenes."""
    rows = SPECS["l7_scene_cuts"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_cuts == 1, r
        assert r.first_cut_frame == r.n_frames // 2, r
        assert r.max_diff > 3.0 * r.median_diff, r


def test_l36_phash_matches_fft_dct_reference():
    """L36: the matrix-multiply DCT inside phash63 must agree with an
    INDEPENDENT DCT-II derivation (via the even-symmetric FFT
    identity: DCT-II(x)_k = Re(e^{-iπk/2N} · rfft(interleaved x)_k)
    with the orthonormal scale) — pinning the hash bit-for-bit, not
    just statistically."""
    import numpy as np

    from lightcurator_spark.operators import multimodal as mm

    def dct2_fft(x):  # orthonormal DCT-II along axis -1, FFT-derived
        n = x.shape[-1]
        v = np.empty_like(x)
        v[..., : (n + 1) // 2] = x[..., ::2]
        v[..., (n + 1) // 2 :] = x[..., 1::2][..., ::-1]
        V = np.fft.fft(v, axis=-1)[..., :n]
        k = np.arange(n)
        c = 2.0 * np.real(np.exp(-1j * np.pi * k / (2 * n)) * V)
        c[..., 0] *= np.sqrt(1.0 / (4.0 * n))
        c[..., 1:] *= np.sqrt(1.0 / (2.0 * n))
        return c

    for doc_id in [0, 1, 7, 42, 101, 499]:
        px = mm.decode_bmp(mm.synth_phash_bmp(doc_id))
        gray = px[:, :, 0].astype("float64")
        c_ref = dct2_fft(dct2_fft(gray).T).T  # separable 2-D DCT
        vals = c_ref[:8, :8].flatten()[1:]
        med = float(np.median(vals))
        h_ref = 0
        for i, v in enumerate(vals):
            if v > med:
                h_ref |= 1 << i
        assert h_ref == mm.phash63(gray), doc_id


def test_l36_planted_pairs_all_recovered_and_verified(spark):
    """L36: every planted near-dup pair (doc_id % 5 == 1 paired with
    doc_id − 1) must appear in the output — the 7×9-bit banding is
    COMPLETE for Hamming ≤ 6 by pigeonhole, so a miss is a bug, not
    tuning. Every emitted pair is re-verified in plain Python: its
    recomputed Hamming distance must match the reported value and
    respect the ≤ 6 gate (precision 1.0), and unrelated planted-free
    pairs must not sneak in below the gate."""
    from lightcurator_spark.operators import multimodal as mm

    rows = SPECS["l36_image_phash_dedup"].fn(spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    planted = {(k - 1, k) for k in range(1, n_docs) if k % 5 == 1}
    assert planted <= set(got), sorted(planted - set(got))[:5]
    hashes = {}
    for (a, b), ham in got.items():
        for i in (a, b):
            if i not in hashes:
                px = mm.decode_bmp(mm.synth_phash_bmp(int(i)))
                hashes[i] = mm.phash63(px[:, :, 0].astype("float64"))
        ref = bin(hashes[a] ^ hashes[b]).count("1")
        assert ref == ham and ham <= 6, (a, b, ref, ham)


def test_l36b_binaryfile_path_equals_l36(spark):
    """L36b: the binaryFile-fed pipeline (real .bmp files on disk →
    (path, content) rows → decode from the binary COLUMN) must produce
    the EXACT pair set of l36 — the decode seam is the only difference
    between the two paths, so any divergence is a seam bug."""
    a = {
        (r.doc_a, r.doc_b): r.hamming
        for r in SPECS["l36_image_phash_dedup"].fn(spark, SF_DIR).collect()
    }
    b = {
        (r.doc_a, r.doc_b): r.hamming
        for r in SPECS["l36b_image_phash_binaryfile"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert a == b, (
        f"binaryFile path diverged: only-l36={sorted(set(a) - set(b))[:3]} "
        f"only-l36b={sorted(set(b) - set(a))[:3]}"
    )


def test_ml1_kmeans_matches_numpy_lloyd(spark):
    """ML1: the two-round Lloyd assignment must agree with an
    independent NumPy implementation using the same seeds and the
    same R4-before-argmin / R6-centroid rounding discipline."""
    import numpy as np

    from lightcurator_spark.plans import load_all
    from lightcurator_spark.registry import load_table

    sf = "/root/testdata/sf0.001"
    S = load_all()
    got = {
        r.vec_id: (r.cluster, r.dist)
        for r in S["ml1_kmeans_assign"].fn(spark, sf).collect()
    }

    rows = load_table(spark, sf, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype="int64")
    X = np.array([r.embedding for r in rows], dtype="float64")
    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]

    def r4(a):
        return np.floor(a * 1e4 + 0.5) / 1e4

    def assign(cent_ids, C):
        d = r4(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2))
        # np.argmin returns the FIRST index on exact ties, and the
        # centroid columns are ordered by ascending centroid id — so
        # ties already resolve to the smallest id, matching the op.
        best = np.argmin(d, axis=1)
        return best, d[np.arange(len(ids)), best]

    cent_ids = ids[:8]
    C = X[:8].copy()
    best, _ = assign(cent_ids, C)
    C1 = np.zeros_like(C)
    for k in range(8):
        members = X[best == k]
        if len(members):
            C1[k] = np.floor(members.mean(axis=0) * 1e6 + 0.5) / 1e6
        else:
            C1[k] = np.nan
    keep = ~np.isnan(C1[:, 0])
    best2, dist2 = assign(cent_ids[keep], C1[keep])
    kept_ids = cent_ids[keep]
    want = {
        int(i): (int(kept_ids[b]), float(d))
        for i, b, d in zip(ids, best2, dist2)
    }
    assert got == want


def test_ml2_ridge_matches_numpy_lstsq(spark):
    """ML2/ML2b: the exact-integer normal equations must reproduce
    NumPy's least-squares fit on the raw rows (lambda is tiny), and
    the ridge fit must beat the intercept-only baseline on RMSE."""
    import numpy as np

    from lightcurator_spark.operators import similarity as sim
    from lightcurator_spark.plans import load_all
    from lightcurator_spark.registry import load_table

    sf = "/root/testdata/sf0.001"
    S = load_all()
    row = S["ml2_normal_equations"].fn(spark, sf).first()
    D = sim._ML2_D
    G = np.zeros((D, D))
    for i in range(D):
        for j in range(i, D):
            G[i, j] = G[j, i] = row[f"g_{i}_{j}"]
    b = np.array([row[f"b_{i}"] for i in range(D)], dtype="float64")
    beta_moments = np.linalg.solve(G + 1e-9 * np.eye(D), b) / 100.0

    ev = load_table(spark, sf, "events").select("ts", "event_type", "value").collect()
    X, y = [], []
    import datetime

    epoch = datetime.date(1970, 1, 1)
    for r in ev:
        feats = [1, r.ts.hour, (r.ts.date() - epoch).days % 7]
        feats += [1 if r.event_type == t else 0 for t in sim._ML2_TYPES]
        X.append(feats)
        y.append(np.floor(r.value * 100 + 0.5) / 100.0)
    X = np.array(X, dtype="float64")
    y = np.array(y)
    beta_ls, *_ = np.linalg.lstsq(X, y, rcond=None)
    assert np.allclose(beta_moments, beta_ls, atol=1e-6), (
        beta_moments, beta_ls,
    )

    fit = {r.event_type: r for r in S["ml2b_ridge_predict"].fn(spark, sf).collect()}
    baseline_rmse = float(np.sqrt(((y - y.mean()) ** 2).mean()))
    overall = np.sqrt(
        sum(r.rmse**2 * r.n for r in fit.values()) / sum(r.n for r in fit.values())
    )
    assert overall <= baseline_rmse + 1e-6, (overall, baseline_rmse)


def test_a33_kendall_matches_python_bruteforce(spark):
    """A33's vectorized sign kernel vs an independent O(k²) pure-Python
    loop on a sample of users — same counts, same tau-b."""
    import numpy as np

    from lightcurator_spark.registry import load_table

    got = {
        r["user_id"]: r
        for r in SPECS["a33_kendall_tau"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    sample = [r["user_id"] for r in ev.select("user_id").distinct().limit(5).collect()]
    for uid in sample:
        rows = (
            ev.filter(F.col("user_id") == uid)
            .select(F.unix_micros("ts").alias("x"), "value")
            .collect()
        )
        xs = [r["x"] for r in rows]
        ys = [r["value"] for r in rows]
        c = d = tx = ty = 0
        n = len(xs)
        for i in range(n):
            for j in range(i + 1, n):
                sx = (xs[j] > xs[i]) - (xs[j] < xs[i])
                sy = (ys[j] > ys[i]) - (ys[j] < ys[i])
                if sx == 0:
                    tx += 1
                if sy == 0:
                    ty += 1
                if sx * sy > 0:
                    c += 1
                elif sx * sy < 0:
                    d += 1
        n0 = n * (n - 1) // 2
        r = got[uid]
        assert (r["n_pairs"], r["concordant"], r["discordant"]) == (n0, c, d)
        tau = (c - d) / np.sqrt(float(n0 - tx) * float(n0 - ty))
        assert r["kendall_tau"] == float(np.floor(tau * 1e4 + 0.5) / 1e4)


def test_a32_spearman_matches_numpy_rankcorr(spark):
    """A32's doubled-midrank moments vs NumPy Pearson over midranks
    (scipy-free): agree within the R4 grain."""
    import numpy as np

    from lightcurator_spark.registry import load_table

    got = {
        r["user_id"]: r["spearman_rho"]
        for r in SPECS["a32_spearman_rank_corr"].fn(spark, SF_DIR).collect()
    }

    def midranks(a):
        a = np.asarray(a)
        order = np.argsort(a, kind="stable")
        ranks = np.empty(len(a), dtype="float64")
        sa = a[order]
        i = 0
        while i < len(sa):
            j = i
            while j + 1 < len(sa) and sa[j + 1] == sa[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
            i = j + 1
        return ranks

    ev = load_table(spark, SF_DIR, "events")
    sample = [r["user_id"] for r in ev.select("user_id").distinct().limit(5).collect()]
    for uid in sample:
        rows = (
            ev.filter(F.col("user_id") == uid)
            .select(F.unix_micros("ts").alias("x"), "value")
            .collect()
        )
        rx = midranks([r["x"] for r in rows])
        ry = midranks([r["value"] for r in rows])
        rho = np.corrcoef(rx, ry)[0, 1]
        assert abs(got[uid] - rho) < 2e-4, (uid, got[uid], rho)


def test_a34_gini_matches_numpy_reference(spark):
    """A34 vs the NumPy sorted-rank Gini on quantized values — exact
    match at the R4 grain (both compute the same integer formula)."""
    import numpy as np

    got = {
        r["user_id"]: r["gini"]
        for r in SPECS["a34_gini_concentration"].fn(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sample = [r["user_id"] for r in ev.select("user_id").distinct().limit(5).collect()]
    for uid in sample:
        v = np.array(
            [r["value"] for r in ev.filter(F.col("user_id") == uid).collect()]
        )
        u = np.floor(v * 1e4 + 0.5).astype("int64")
        u.sort()
        n = len(u)
        i = np.arange(1, n + 1, dtype="int64")
        g = (2 * (i * u).sum() - (n + 1) * u.sum()) / (n * u.sum())
        assert got[uid] == float(np.floor(g * 1e4 + 0.5) / 1e4), uid


def test_d22_cusum_matches_python_loop(spark):
    """D22's windowed argmax vs an explicit per-user Python scan."""
    got = {
        r["user_id"]: r for r in SPECS["d22_cusum_changepoint"].fn(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sample = [r["user_id"] for r in ev.select("user_id").distinct().limit(5).collect()]
    for uid in sample:
        rows = sorted(
            (
                (r["ts"], r["event_id"], int(round(r["value"] * 1e4)))
                for r in ev.filter(F.col("user_id") == uid).collect()
            ),
        )
        n = len(rows)
        t = sum(u for _, _, u in rows)
        best = None
        s = 0
        for k, (_, _, u) in enumerate(rows, start=1):
            s += u
            m = n * s - k * t
            if best is None or abs(m) > abs(best[1]):
                best = (k, m)
        r = got[uid]
        assert (r["cp_index"], r["cusum_stat"]) == (best[0], best[1]), uid


def test_ml4_stump_is_global_minimum(spark):
    """ML4's returned split must beat (or tie, at a larger threshold)
    every other candidate threshold — checked by brute force over the
    cell table in Python."""
    import numpy as np

    row = SPECS["ml4_decision_stump"].fn(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "value", "event_type"
    )
    pdf = ev.toPandas()
    u = np.floor(pdf["value"].to_numpy() * 1e4 + 0.5).astype("int64")
    y = (pdf["event_type"] == "purchase").to_numpy().astype("int64")
    order = np.argsort(u, kind="stable")
    u, y = u[order], y[order]
    uu, idx = np.unique(u, return_index=True)
    n_cells = np.diff(np.append(idx, len(u)))
    pos_cells = np.add.reduceat(y, idx)
    ln = np.cumsum(n_cells)
    lp = np.cumsum(pos_cells)
    tn, tp = ln[-1], lp[-1]
    keep = ln < tn
    ln, lp, uu = ln[keep], lp[keep], uu[keep]
    rn, rp = tn - ln, tp - lp
    g = (
        (ln - (lp**2 + (ln - lp) ** 2) / ln)
        + (rn - (rp**2 + (rn - rp) ** 2) / rn)
    ) / tn
    g = np.floor(g * 1e4 + 0.5) / 1e4
    best = np.lexsort((uu, g))[0]
    assert row["gini"] == g[best]
    assert row["threshold"] == uu[best] / 1e4
    assert row["n_left"] == int(ln[best]) and row["pos_left"] == int(lp[best])


def test_l37_kl_is_nonnegative_and_zero_only_for_corpus_like(spark):
    """KL ≥ 0 up to quantization slack for every source; n_tokens and
    vocab_present consistent."""
    rows = SPECS["l37_source_kl_divergence"].fn(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        # micro-log quantization can push a near-zero KL slightly
        # negative; the bound is the 0.5e-4 per-unit rounding slack
        assert r["kl"] >= -1e-3, r
        assert r["vocab_present"] <= r["n_tokens"], r


def test_ml3_beats_majority_class(spark):
    """ML3's resubstitution accuracy must beat predicting the majority
    language for every doc — the minimum bar for a fitted classifier."""
    rows = SPECS["ml3_naive_bayes_langid"].fn(spark, SF_DIR).collect()
    total = sum(r["n_docs"] for r in rows)
    correct = sum(r["n_docs"] for r in rows if r["actual"] == r["predicted"])
    by_actual: dict = {}
    for r in rows:
        by_actual[r["actual"]] = by_actual.get(r["actual"], 0) + r["n_docs"]
    majority = max(by_actual.values())
    assert correct / total > majority / total, (correct, majority, total)


def test_g7_hyperball_tracks_exact_ball_sizes(spark):
    """G7's HLL estimates vs the EXACT 1/2-hop ball sizes computed in
    DuckDB: per-t mean relative error inside the m=64 HLL bound
    (σ ≈ 1.04/√64 ≈ 13%; assert a generous 0.30), rank correlation
    with truth, and monotonicity est(2) ≳ est(1)."""
    import duckdb
    import numpy as np

    got = {
        r["node"]: (r["est_ball_1"], r["est_ball_2"])
        for r in SPECS["g7_hyperball_reach"].fn(spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    exact = con.execute(
        """
        WITH d AS (SELECT l_partkey*2 AS a, l_suppkey*2+1 AS b
                   FROM lineitem GROUP BY 1, 2),
        sym AS (SELECT a AS src, b AS dst FROM d
                UNION ALL SELECT b, a FROM d),
        b1 AS (SELECT src, dst FROM sym UNION SELECT src, src FROM sym),
        b2 AS (SELECT b1.src, s.dst FROM b1 JOIN sym s ON s.src = b1.dst
               UNION SELECT src, dst FROM b1)
        SELECT b1c.src, n1, n2 FROM
          (SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS n1
           FROM b1 GROUP BY src) b1c
        JOIN
          (SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS n2
           FROM b2 GROUP BY src) b2c
        USING (src)
        """
    ).fetchall()
    n1 = {r[0]: r[1] for r in exact}
    n2 = {r[0]: r[2] for r in exact}
    assert set(got) == set(n1)
    rel1 = np.array([abs(got[v][0] - n1[v]) / n1[v] for v in got])
    rel2 = np.array([abs(got[v][1] - n2[v]) / n2[v] for v in got])
    assert rel1.mean() < 0.30, rel1.mean()
    assert rel2.mean() < 0.30, rel2.mean()
    est2 = np.array([got[v][1] for v in got])
    est1 = np.array([got[v][0] for v in got])
    assert (est2 >= est1 * 0.99).all()
    truth2 = np.array([n2[v] for v in got])
    corr = np.corrcoef(est2, truth2)[0, 1]
    assert corr > 0.8, corr


def test_ml6_isotonic_matches_naive_pava_and_axioms(spark):
    """ML6's stack PAVA vs an independent O(n²) pool-until-no-violator
    reference on sampled users, plus the projection axioms."""
    import numpy as np

    from lightcurator_spark.registry import load_table

    got = {
        r["user_id"]: r
        for r in SPECS["ml6_isotonic_fit"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    sample = [
        r["user_id"]
        for r in ev.select("user_id").distinct().limit(5).collect()
    ]

    def naive_pava(y):
        blocks = [[v, 1.0] for v in y]  # [mean, weight]
        changed = True
        while changed:
            changed = False
            for i in range(len(blocks) - 1):
                if blocks[i][0] > blocks[i + 1][0] + 1e-15:
                    w = blocks[i][1] + blocks[i + 1][1]
                    m = (blocks[i][0] * blocks[i][1]
                         + blocks[i + 1][0] * blocks[i + 1][1]) / w
                    blocks[i] = [m, w]
                    del blocks[i + 1]
                    changed = True
                    break
        return blocks

    for uid in sample:
        rows = sorted(
            (r["ts"], r["event_id"], r["value"])
            for r in ev.filter(F.col("user_id") == uid).collect()
        )
        y = np.array([r[2] for r in rows])
        blocks = naive_pava(y)
        means = np.array([b[0] for b in blocks])
        weights = np.array([b[1] for b in blocks])
        r = got[uid]
        assert r["n_blocks"] == len(blocks), uid
        assert r["fit_min"] == float(np.floor(means[0] * 1e4 + 0.5) / 1e4)
        assert r["fit_max"] == float(np.floor(means[-1] * 1e4 + 0.5) / 1e4)
        # axioms: monotone blocks, mean-preserving, beats constant fit
        assert (np.diff(means) >= -1e-12).all()
        assert abs((means * weights).sum() - y.sum()) < 1e-6
        assert r["sse_ratio"] is None or r["sse_ratio"] <= 1.0


def test_a37_bootstrap_band_properties(spark):
    """The deterministic bootstrap band must bracket sanely: lo ≤ hi,
    the band is reproducible run-to-run (same md5 draws), and most
    bands contain the point estimate (min/max of 16 resample medians
    almost always straddles it; tolerate rare one-sided keys)."""
    rows1 = SPECS["a37_bootstrap_median_ci"].fn(spark, SF_DIR).collect()
    rows2 = SPECS["a37_bootstrap_median_ci"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))
    n_contain = 0
    for r in rows1:
        assert r["boot_lo"] <= r["boot_hi"], r
        if r["boot_lo"] <= r["median_point"] <= r["boot_hi"]:
            n_contain += 1
    assert n_contain >= 0.9 * len(rows1), (n_contain, len(rows1))


def test_a39_bh_gate_opens_on_planted_drift(spark):
    """A39's corpus run shows the BH gate staying shut on stationary
    data; this proves it OPENS: 10 objects, 4 with a massive
    before/after mean shift. The shifted objects must all be
    discovered (their exact permutation p hits the 1/17 floor and
    4/10 > the p_min/q mass BH needs); null objects may ride along
    only within the q = 1/4 false-discovery allowance."""
    import math

    from lightcurator_spark.operators.stats_ext import _bh_fdr_battery

    rows = []
    eid = 0
    for uid in range(10):
        shifted = uid < 4
        for k in range(24):
            before = k < 12
            base = 50000 + ((eid * 7919) % 97) * 10  # deterministic noise
            if shifted and not before:
                base += 1_000_000
            rows.append((eid, uid, base, 1 if before else 0))
            eid += 1
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, u long, obs_arm long"
    )
    got = {r.user_id: r for r in _bh_fdr_battery(e).collect()}
    assert len(got) == 10
    planted = {u for u in range(4)}
    discovered = {u for u, r in got.items() if r.discovered == 1}
    assert planted <= discovered, (planted, discovered)
    # shifted objects sit on the exact p floor 1/17
    for u in planted:
        assert got[u].p_numer == 1, got[u]
    # false discoveries bounded well inside the q = 1/4 allowance
    assert len(discovered - planted) <= 2, discovered
    # ranks are a permutation of 1..m and p_value is the exact rational
    assert sorted(r.bh_rank for r in got.values()) == list(range(1, 11))
    for r in got.values():
        assert r.p_value == math.floor(r.p_numer / 17 * 1e4 + 0.5) / 1e4


def test_l40_bm25_rank_and_term_containment(spark):
    """Every retrieved doc must actually contain one of its query's
    terms, ranks must be 1..k dense per query, and scores must be
    positive and non-increasing with rank."""
    from lightcurator_spark.operators.text_analysis import _BM25_QUERY_TERMS

    rows = SPECS["l40_bm25_retrieval"].fn(spark, SF_DIR).collect()
    assert rows
    terms_by_q: dict[int, set[str]] = {}
    for q, t in _BM25_QUERY_TERMS:
        terms_by_q.setdefault(q, set()).add(t)
    docs = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["bm25"] > 0
        assert docs[r["doc_id"]] & terms_by_q[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["bm25"] for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_l41_dsir_separates_target_domain(spark):
    """The DSIR importance weight exists to UPWEIGHT target-like text:
    the mean log-ratio of 'en' documents must exceed the mean over
    every other language (else the score carries no signal)."""
    rows = SPECS["l41_dsir_importance"].fn(spark, SF_DIR).collect()
    en = [r["log_ir_weight"] for r in rows if r["lang"] == "en"]
    rest = [r["log_ir_weight"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_g8_candidates_nonadjacent_with_real_common_neighbors(spark):
    """Scored pairs must be NON-edges of the mutual-6-NN graph, have
    >= 1 common neighbor, and the integer-units score must equal a
    Python recomputation from the same graph."""
    import math

    rows = SPECS["g8_adamic_adar"].fn(spark, SF_DIR).collect()
    assert rows
    # Rebuild the mutual top-6 graph in plain Python from the corpus.
    import duckdb

    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "supplier"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    w = con.execute(
        """
        SELECT least(c.c_nationkey, s.s_nationkey), greatest(c.c_nationkey, s.s_nationkey), count(*)
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE c.c_nationkey <> s.s_nationkey GROUP BY 1, 2
        """
    ).fetchall()
    nbrs: dict[int, list] = {}
    for a, b, cnt in w:
        nbrs.setdefault(a, []).append((-cnt, b))
        nbrs.setdefault(b, []).append((-cnt, a))
    top = {x: {y for _, y in sorted(v)[:6]} for x, v in nbrs.items()}
    edges = {
        (min(x, y), max(x, y))
        for x, ys in top.items()
        for y in ys
        if x in top.get(y, set())
    }
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for r in rows:
        x, y = r["node_x"], r["node_y"]
        assert (x, y) not in edges
        common = adj[x] & adj[y]
        assert len(common) == r["n_common"] >= 1
        units = sum(math.floor(1e8 / math.log(len(adj[z])) + 0.5) for z in common)
        assert abs(math.floor(units / 1e4 + 0.5) / 1e4 - r["aa_score"]) < 1e-9


def test_dq7_watermark_segment_has_zero_lag(spark):
    """Lags are non-negative, exactly one-or-more segments sit at lag 0
    (whichever carries the global max), and staleness matches the 6 h
    threshold row-by-row."""
    rows = SPECS["dq7_freshness_audit"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r["lag_us"] >= 0 for r in rows)
    assert any(r["lag_us"] == 0 for r in rows)
    for r in rows:
        assert r["is_stale"] == (r["lag_us"] > 21600000000)


def test_ml9_matches_numpy_gd_and_reduces_loss(spark):
    """The 3-step GD result must equal a NumPy full-batch recomputation
    on the same sufficient cells (same quantize-before-sum gradient),
    and the fitted weights must achieve lower log-loss than w=0."""
    import math

    import numpy as np

    row = SPECS["ml9_logistic_gd"].fn(spark, SF_DIR).collect()[0]
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    cells: dict[tuple[int, int], list] = {}
    for r in ev:
        h = r["ts"].hour
        dw = (r["ts"].date() - __import__("datetime").date(1970, 1, 1)).days % 7
        c = cells.setdefault((h, dw), [0, 0])
        c[0] += 1
        c[1] += 1 if r["event_type"] == "purchase" else 0
    nt = sum(c[0] for c in cells.values())
    w = np.zeros(3)
    for _ in range(3):
        units = np.zeros(3)
        for (h, dw), (n, npos) in cells.items():
            x = np.array([1.0, h / 24.0, dw / 7.0])
            p = 1.0 / (1.0 + math.exp(-(w @ x)))
            resid = n * p - npos
            units += np.array(
                [math.floor(resid * xj * 1e9 + 0.5) for xj in x]
            )
        w = w - 2.0 * (units / 1e9 / nt)

    def r4(x):
        return math.floor(x * 10000 + 0.5) / 10000

    assert (r4(w[0]), r4(w[1]), r4(w[2])) == (
        row["coef_intercept"],
        row["coef_hour"],
        row["coef_dow"],
    )
    assert row["n"] == nt

    def loss(wv):
        tot = 0.0
        for (h, dw), (n, npos) in cells.items():
            z = wv @ np.array([1.0, h / 24.0, dw / 7.0])
            p = 1.0 / (1.0 + math.exp(-z))
            p = min(max(p, 1e-12), 1 - 1e-12)
            tot += -(npos * math.log(p) + (n - npos) * math.log(1 - p))
        return tot / nt

    assert loss(w) < loss(np.zeros(3))


def test_q31b_boundary_deciles_agree_with_ntile_within_interpolation(spark):
    """Q31b vs Q31 (r8 verdict item 1): with near-unique cents, exact
    type-7 boundary scoring may differ from ntile only at interpolated
    cuts — per-decile customer counts within ±3 of ntile's forced
    equal counts, identical totals, and the decile revenue ordering
    (1 = richest) strictly decreasing in both."""
    exact = {
        r["decile"]: (r["n_customers"], r["revenue_cents"])
        for r in SPECS["q31_revenue_pareto"].fn(spark, SF_DIR).collect()
    }
    bnd = {
        r["decile"]: (r["n_customers"], r["revenue_cents"])
        for r in SPECS["q31b_pareto_boundary_scored"].fn(spark, SF_DIR).collect()
    }
    assert set(exact) == set(bnd) == set(range(1, 11))
    assert sum(v[0] for v in exact.values()) == sum(v[0] for v in bnd.values())
    assert sum(v[1] for v in exact.values()) == sum(v[1] for v in bnd.values())
    for d in range(1, 11):
        assert abs(exact[d][0] - bnd[d][0]) <= 3, (d, exact[d], bnd[d])
    rev_by_decile = [bnd[d][1] / bnd[d][0] for d in range(1, 11)]
    assert all(
        a > b for a, b in zip(rev_by_decile, rev_by_decile[1:])
    ), rev_by_decile


def test_q32b_boundary_scores_are_tie_consistent_and_monotone(spark):
    """Q32b's semantic contract vs Q32's ntile: (a) tie-consistency —
    equal measure values always get equal scores (ntile SPLITS tie
    runs by custkey; boundary scoring cannot); (b) monotonicity —
    scores never decrease as the value grows; (c) on the near-unique
    monetary measure, quintile populations stay within 1% of n/5
    (disagreement is interpolation-only); (d) every q32b-vs-q32 score
    disagreement on the heavily-tied frequency measure is attributable
    to a tie run (the disagreeing value is shared by >1 customer)."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    rfm = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            ).alias("r_us"),
            F.count(F.lit(1)).alias("f"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("m_cents"),
        )
        .toPandas()
    )
    n = len(rfm)
    import numpy as np

    for col in ("r_us", "f", "m_cents"):
        vals = rfm[col].to_numpy()
        cuts = np.quantile(vals, [0.2, 0.4, 0.6, 0.8])  # type-7 = Spark/DuckDB
        bscore = 1 + (vals[:, None] > cuts[None, :]).sum(axis=1)
        # (a) tie-consistency
        for v in np.unique(vals):
            assert len(set(bscore[vals == v])) == 1
        # (b) monotonicity
        order = np.argsort(vals, kind="stable")
        assert (np.diff(bscore[order]) >= 0).all()
        # ntile(5) over (value, custkey) — the q32 exact scoring
        key = np.lexsort((rfm["custkey"].to_numpy(), vals))
        ntile = np.zeros(n, dtype=int)
        base, rem = divmod(n, 5)
        start = 0
        for b in range(5):
            size = base + (1 if b < rem else 0)
            ntile[key[start : start + size]] = b + 1
            start += size
        disagree = vals[bscore != ntile]
        if col == "m_cents":
            # (c) near-unique: populations within 1% of n/5
            for s in range(1, 6):
                assert abs((bscore == s).sum() - n / 5) <= max(3, 0.01 * n)
        # (d) disagreements only at tie runs or interpolated cuts:
        # the disagreeing value is non-unique, or adjacent to a cut
        # (within one sorted position)
        sorted_vals = np.sort(vals)
        for v in np.unique(disagree):
            tied = (vals == v).sum() > 1
            pos = np.searchsorted(sorted_vals, v)
            near_cut = any(
                abs(pos - q * (n - 1)) <= 2.0 for q in (0.2, 0.4, 0.6, 0.8)
            )
            assert tied or near_cut, (col, v, (vals == v).sum(), pos)


def test_l50b_census_equals_exact_l50(spark):
    """L50b (banded legs) must reproduce the exact l50 agreement
    census on this corpus — both bandings measured at full recall
    (the L3 ≡ L2 device applied to the composite), and every
    surviving pair's score is exact, so the censuses are bit-equal."""
    a = sorted(
        tuple(r)
        for r in SPECS["l50_cross_modal_dedup_agreement"]
        .fn(spark, SF_DIR)
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in SPECS["l50b_cross_modal_dedup_lsh"].fn(spark, SF_DIR).collect()
    )
    assert a == b, (a, b)


def test_ml5b_prediction_agreement_floor(spark):
    """ML5b's per-vector prediction must agree with the exact ml5 on
    ≥ 75 % of vectors (measured 0.88 at sf0.001, 0.82 at sf0.01 —
    this corpus is deliberately weakly clustered, IVF's adversarial
    regime; the loss is tie-order stability, never a score error).
    Reconstructs per-vector predictions for both forms with the
    shared vote kernel so the comparison is apples-to-apples."""
    from pyspark.sql.window import Window

    from lightcurator_spark.operators.analytics_ext import (
        semantic_cell_assignments,
    )
    from lightcurator_spark.operators.similarity import dot
    from lightcurator_spark.registry import load_table

    def vote(nn):
        votes = nn.groupBy("vec_id", "nb_label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        pred = votes.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("cnt").desc(), F.col("nb_label").asc()
                )
            ),
        ).filter(F.col("rk") == 1)
        return {r["vec_id"]: r["nb_label"] for r in pred.collect()}

    e = load_table(spark, SF_DIR, "embeddings")
    a = e.select(
        "vec_id",
        F.col("embedding").alias("va"),
        F.sqrt(dot("embedding", "embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("nb_id"),
        F.col("label").alias("nb_label"),
        F.col("embedding").alias("vb"),
        F.sqrt(dot("embedding", "embedding")).alias("nb"),
    )
    cos = (
        F.floor(
            dot("va", "vb") / (F.col("na") * F.col("nb")) * 10000 + F.lit(0.5)
        )
        / 10000
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("nb_id").asc()
    )
    exact = vote(
        a.join(b, F.col("vec_id") != F.col("nb_id"))
        .select("vec_id", "nb_label", cos.alias("sim"), "nb_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    assigned = semantic_cell_assignments(
        spark, SF_DIR, k=16, probes=8, fit="sample"
    )
    ai = assigned.select(
        "vec_id",
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        F.explode("probe_cells").alias("cell"),
    )
    bi = assigned.join(
        load_table(spark, SF_DIR, "embeddings").select("vec_id", "label"),
        "vec_id",
    ).select(
        F.col("vec_id").alias("nb_id"),
        F.col("label").alias("nb_label"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("cell_id").alias("cell"),
    )
    ivf = vote(
        ai.join(bi, "cell")
        .filter(F.col("vec_id") != F.col("nb_id"))
        .select("vec_id", "nb_label", cos.alias("sim"), "nb_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    assert set(ivf) == set(exact), "every vector must get a prediction"
    agree = sum(1 for k, v in exact.items() if ivf[k] == v) / len(exact)
    assert agree >= 0.75, f"IVF kNN agreement {agree:.3f} < 0.75"
    # the registered query returns the same confusion census the IVF
    # predictions imply (self-consistency of the exported shape)
    census = {
        (r["actual"], r["predicted"]): r["n_vecs"]
        for r in SPECS["ml5b_knn_classifier_ivf"].fn(spark, SF_DIR).collect()
    }
    assert sum(census.values()) == len(ivf)


def test_two_level_assignment_fidelity_floor(spark):
    """The two-level quantizer (the r10 SCALING parameter law made
    code): primary-cell agreement with exact single-level assignment
    must hold ≥ 0.9 at the default coarse_probes=3 (measured 0.93 at
    k=64 on this corpus; 0.85/0.96 at 2/4), every vector must get
    exactly `probes` probe cells led by its primary, and the member
    partition must cover all k cells (no center orphaned by the
    coarse clustering)."""
    import numpy as np

    from lightcurator_spark.operators.analytics_ext import (
        sampled_kmeans_centers,
        two_level_probe_cells,
    )
    from lightcurator_spark.registry import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    k = 64
    centers = sampled_kmeans_centers(spark, SF_DIR, k, fraction=1.0)
    tl = two_level_probe_cells(spark, e, centers, probes=8)
    rows = {
        r["vec_id"]: (r["cell_id"], list(r["probe_cells"]))
        for r in tl.collect()
    }
    assert len(rows) == e.count(), "every vector must be assigned"
    X = np.array(
        [list(r.embedding) for r in e.orderBy("vec_id").select("embedding").collect()],
        dtype="float64",
    )
    ids = [r.vec_id for r in e.orderBy("vec_id").select("vec_id").collect()]
    C = np.array(centers)
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    exact = d2.argmin(1)
    agree = sum(
        1 for i, vid in enumerate(ids) if rows[vid][0] == exact[i]
    ) / len(ids)
    assert agree >= 0.9, f"two-level primary agreement {agree:.3f} < 0.9"
    for vid, (cell, pc) in rows.items():
        assert len(pc) == 8 and pc[0] == cell and len(set(pc)) == 8
        assert all(0 <= c < k for c in pc)


def test_l4f_two_level_ivf_ann_properties(spark):
    """l4f (IVF with two-level assignment) must score returned pairs
    exactly and keep recall >= 0.5 vs brute force (l4d's bar;
    measured 0.82 at sf0.001, 0.66 at sf0.01 — weakly-clustered
    corpus, the adversarial regime)."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    approx = SPECS["l4f_knn_ivf_two_level"].fn(spark, SF_DIR).collect()
    assert approx, "two-level IVF ANN returned no rows"
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    recall = sum(
        1 for r in approx if (r.query_id, r.vec_id) in exact
    ) / len(exact)
    assert recall >= 0.5, f"two-level IVF recall too low: {recall:.2f}"


def test_l4g_nsw_graph_ann_properties(spark):
    """l4g (NSW-style graph index + beam search) must score returned
    pairs exactly, rank correctly per query, and keep recall >= 0.85
    vs brute force — the highest floor in the ANN family (measured
    0.94 at sf0.001, 0.96 at sf0.01, above l4f's 0.82/0.78 on the
    same adversarial corpus)."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    approx = SPECS["l4g_knn_nsw"].fn(spark, SF_DIR).collect()
    assert approx, "NSW graph ANN returned no rows"
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    by_q: dict = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True), f"beam ranking broken for {q}"
    recall = sum(
        1 for r in approx if (r.query_id, r.vec_id) in exact
    ) / len(exact)
    assert recall >= 0.85, f"NSW graph ANN recall too low: {recall:.2f}"


def test_l4h_incremental_insert_properties(spark):
    """l4h (NSW incremental insert) must score exactly, keep recall
    >= 0.85 vs brute force over the WHOLE corpus (measured 0.96 at
    sf0.001, 0.98 at sf0.01), and return every delta-resident true
    neighbor — inserted nodes must be reachable THROUGH the graph,
    not merely present in the node table."""
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    got = SPECS["l4h_nsw_incremental_insert"].fn(spark, SF_DIR).collect()
    assert got, "incremental NSW returned no rows"
    for r in got:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    recall = sum(
        1 for r in got if (r.query_id, r.vec_id) in exact
    ) / len(exact)
    assert recall >= 0.85, f"incremental NSW recall too low: {recall:.2f}"
    delta_true = {p for p in exact if p[1] % 7 == 3}
    assert delta_true, "query set must have delta-resident true neighbors"
    delta_hit = {
        (r.query_id, r.vec_id)
        for r in got
        if r.vec_id % 7 == 3 and (r.query_id, r.vec_id) in exact
    }
    missing = delta_true - delta_hit
    assert not missing, f"inserted nodes unreachable via graph: {missing}"


def test_l4i_nsw_delete_properties(spark):
    """l4i (NSW tombstone delete): (a) a deleted vector is NEVER
    returned — the planted guarantee; (b) the deletion is adversarial
    (the full-corpus ground truth contains deleted true neighbors, so
    excluding them must actually change answers); (c) recall >= 0.85
    vs brute force over the SURVIVING corpus — bypass compaction must
    preserve routability, not just filter results; (d) returned-pair
    scores are exact and ranks well-formed (the family contract)."""
    from pyspark.sql.window import Window

    from lightcurator_spark.operators.similarity import R4, dot
    from lightcurator_spark.registry import load_table

    got = SPECS["l4i_nsw_delete"].fn(spark, SF_DIR).collect()
    assert got, "NSW delete search returned no rows"
    # (a) the planted guarantee
    dead_returned = [r for r in got if r.vec_id % 10 == 1]
    assert not dead_returned, f"tombstoned vectors returned: {dead_returned}"
    assert all(r.query_id % 10 != 1 for r in got)
    # (b) deletion must be adversarial vs the full-corpus truth
    exact_full = {
        (r.query_id, r.vec_id)
        for r in SPECS["l4_knn_bruteforce"].fn(spark, SF_DIR).collect()
    }
    assert any(v % 10 == 1 for _, v in exact_full), (
        "tombstone set contains no full-corpus true neighbors — the "
        "delete test would be vacuous"
    )
    # (c) recall vs brute force over SURVIVORS (l4's exact kernel,
    # corpus and query set filtered to vec_id % 10 != 1)
    e = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % 10 != 1)
        .withColumn("nv", F.sqrt(dot("embedding", "embedding")))
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nv").alias("nq"),
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            R4(dot("qv", "embedding") / (F.col("nq") * F.col("nv"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    recall = sum(1 for r in got if (r.query_id, r.vec_id) in exact) / len(
        exact
    )
    assert recall >= 0.85, f"post-delete recall too low: {recall:.2f}"
    # (d) exact scoring + well-formed ranks
    for r in got:
        if (r.query_id, r.vec_id) in exact:
            assert abs(exact[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, len(rows) + 1))


def test_l51_epoch_shuffle_properties(spark):
    """l51 (deterministic epoch shuffle): each epoch is a complete
    disjoint cover of the corpus, the two epochs produce DIFFERENT
    permutations, shards are roughly balanced, and re-running yields
    the identical assignment (seed-only reproducibility)."""
    rows = SPECS["l51_epoch_shard_shuffle"].fn(spark, SF_DIR).collect()
    docs = {r.doc_id for r in rows}
    by_epoch: dict = {0: {}, 1: {}}
    for r in rows:
        by_epoch[r.epoch][r.doc_id] = (r.shard, r.pos)
    assert set(by_epoch[0]) == set(by_epoch[1]) == docs, "complete cover"
    assert by_epoch[0] != by_epoch[1], "epochs must permute differently"
    n_moved = sum(
        1 for d in docs if by_epoch[0][d] != by_epoch[1][d]
    )
    assert n_moved > len(docs) // 2, "most docs must move between epochs"
    for ep in (0, 1):
        sizes = {}
        for shard, _pos in by_epoch[ep].values():
            sizes[shard] = sizes.get(shard, 0) + 1
        mean = sum(sizes.values()) / len(sizes)
        assert max(sizes.values()) <= 2 * mean, f"epoch {ep} shard skew"
        # positions are a contiguous 1..n ranking per shard
        per_shard: dict = {}
        for shard, pos in by_epoch[ep].values():
            per_shard.setdefault(shard, []).append(pos)
        for shard, ps in per_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1))
    again = SPECS["l51_epoch_shard_shuffle"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again)), (
        "assignment must be reproducible from the seed alone"
    )


def test_l52_audio_fingerprint_dedup_properties(spark):
    """l52 (audio fingerprint near-dup): 100% recall on the planted
    (5k+1, 5k+2) pairs, every emitted pair's Hamming distance
    re-verified in plain Python against the independent NumPy
    fingerprint, and no false pairs at the threshold (measured:
    planted <= 1, unrelated >= 15 on this corpus)."""
    from lightcurator_spark.operators.multimodal import (
        audio_fingerprint60,
        synth_fp_pcm,
    )

    from lightcurator_spark.registry import load_table

    rows = SPECS["l52_audio_fingerprint_dedup"].fn(spark, SF_DIR).collect()
    assert rows
    n_docs = load_table(spark, SF_DIR, "documents").count()
    planted = {
        (i - 1, i) for i in range(n_docs) if i % 5 == 2 and i > 0
    }
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert planted <= got, f"missed planted pairs: {planted - got}"
    assert got == planted, f"false pairs at threshold: {got - planted}"
    for r in rows:
        ha = audio_fingerprint60(synth_fp_pcm(r.doc_a))
        hb = audio_fingerprint60(synth_fp_pcm(r.doc_b))
        assert bin(ha ^ hb).count("1") == r.hamming <= 5


def test_l53_video_shot_dedup_properties(spark):
    """l53 (video shot-fingerprint near-dup): 100% recall on the
    planted (5k+2, 5k+3) re-encode pairs with zero false pairs, full
    4-of-4 shot agreement on every emitted pair, and per-pair Python
    re-verification of the shot hashes."""
    import numpy as np

    from lightcurator_spark.operators.multimodal import (
        phash63,
        synth_video_frames,
    )
    from lightcurator_spark.registry import load_table

    rows = SPECS["l53_video_shot_dedup"].fn(spark, SF_DIR).collect()
    assert rows
    n_docs = load_table(spark, SF_DIR, "documents").count()
    planted = {(i - 1, i) for i in range(n_docs) if i % 5 == 3 and i > 0}
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert planted <= got, f"missed planted videos: {planted - got}"
    assert got == planted, f"false video pairs: {got - planted}"

    def shots(doc_id):
        fr = synth_video_frames(doc_id)
        diffs = np.abs(np.diff(fr, axis=0)).mean(axis=(1, 2))
        med = float(np.median(diffs))
        starts = [0] + [int(c) for c in np.flatnonzero(diffs > 3 * med) + 1]
        return [phash63(fr[s]) for s in starts]

    for r in rows:
        assert r.n_matching_shots == 4, "planted dups share all 4 shots"
        ha, hb = shots(r.doc_a), shots(r.doc_b)
        hams = [bin(x ^ y).count("1") for x, y in zip(ha, hb)]
        assert all(h <= 6 for h in hams)
        assert sum(hams) == r.sum_hamming


def test_seeded_sampling_ops_are_deterministic(spark):
    """TRAPS #32 tripwire: every operator whose docstring claims a
    seeded sample/quantizer must return IDENTICAL rows across two
    executions in one session — a seed in the signature is not a seed
    in the plan (PySpark's sample() dropped a positionally-confused
    seed silently). Runs the quantizer-trained family twice."""
    for name in (
        "l4f_knn_ivf_two_level",
        "l4g_knn_nsw",
        "ml5b_knn_classifier_ivf",
    ):
        a = sorted(map(tuple, SPECS[name].fn(spark, SF_DIR).collect()))
        b = sorted(map(tuple, SPECS[name].fn(spark, SF_DIR).collect()))
        assert a == b, f"{name} is not deterministic across executions"


def test_g5_scalar_argmax_key_inside_monotonicity_window(spark):
    """r13 tripwire (VERDICT item 1 of "What's wrong"): g5/g5b rank
    labels with the scalar key ``sw * 10^9 - label``, which is monotone
    in (sw, -label) ONLY while label < 10^9 and sw*10^9 - label fits in
    an int64 — past that it wraps silently under non-ANSI arithmetic
    and corrupts the argmax with no runtime signal. Assert the actual
    corpus sits inside the window WITH HEADROOM at the largest
    materialized dataset available (the 16x replica when present, the
    bench SF otherwise): max node id and the largest possible per-round
    weight sum (a node's total incident co-occurrence weight — an upper
    bound on any (src, label) sw) must clear the documented bounds."""
    import os

    from lightcurator_spark.registry import load_table

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    replica = os.path.join(repo, ".scale_replica", "sf0.1x16")
    sf_dir = replica if os.path.isdir(replica) else "/root/testdata/sf0.1"
    li = load_table(spark, sf_dir, "lineitem")
    d = li.groupBy(
        (F.col("l_partkey") * 2).alias("a"),
        (F.col("l_suppkey") * 2 + 1).alias("b"),
    ).agg(F.count(F.lit(1)).alias("w"))
    sym = d.select(F.col("a").alias("node"), "w").unionByName(
        d.select(F.col("b").alias("node"), "w")
    )
    row = sym.groupBy("node").agg(F.sum("w").alias("sw")).agg(
        F.max("node").alias("max_label"), F.max("sw").alias("max_sw")
    ).collect()[0]
    assert row.max_label < 10**9, (
        f"g5 scalar argmax: node id {row.max_label} breaks the "
        f"label < 1e9 monotonicity bound - switch to the struct key"
    )
    # require 4x headroom against int64 on the packed key
    assert row.max_sw * (10**9) < (2**63 - 1) // 4, (
        f"g5 scalar argmax: incident weight sum {row.max_sw} is within "
        f"4x of int64 wrap on sw*1e9 - switch to the struct key"
    )

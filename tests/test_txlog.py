"""TxLog table-format guarantees (the docstring's three claims)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from lightcurator_spark.sources.txlog import TxLogTable


def _mk(spark, tmp_path, rows, mode="append"):
    t = TxLogTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(rows, "id long, v string")
    t.commit(df, mode)
    return t


def test_half_written_commit_is_invisible(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    # simulate a crashed writer: temp entry present, never renamed
    tmp = os.path.join(t.log_dir, ".1.json.deadbeef")
    with open(tmp, "w") as fh:
        json.dump({"version": 1, "add": ["ghost/file.parquet"], "remove": []}, fh)
    assert [e["version"] for e in t.entries()] == [0]
    assert t.read_snapshot(spark).count() == 2


def test_snapshot_isolation_across_overwrite(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    before = t.read_snapshot(spark)
    assert before.count() == 2
    t.commit(
        spark.createDataFrame([(9, "z")], "id long, v string"), "overwrite"
    )
    # the already-resolved reader still sees the old rows (remove is a
    # log entry, not a deletion), while new readers see only the new
    assert sorted(r["id"] for r in before.collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [9]


def test_time_travel_reconstructs_every_version(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.commit(spark.createDataFrame([(2, "b")], "id long, v string"), "append")
    t.commit(spark.createDataFrame([(3, "c")], "id long, v string"), "overwrite")
    assert sorted(r["id"] for r in t.read_snapshot(spark, 0).collect()) == [1]
    assert sorted(r["id"] for r in t.read_snapshot(spark, 1).collect()) == [1, 2]
    assert sorted(r["id"] for r in t.read_snapshot(spark, 2).collect()) == [3]
    # version resolution is monotone: latest == version 2
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [3]


def test_append_after_overwrite_composes(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.commit(spark.createDataFrame([(2, "b")], "id long, v string"), "overwrite")
    t.commit(spark.createDataFrame([(3, "c")], "id long, v string"), "append")
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [2, 3]
    entries = t.entries()
    all_added = {f for e in entries for f in e["add"]}
    v0_added = set(entries[0]["add"])
    assert set(t.active_files()) == all_added - v0_added


def test_txlog_events_demo_counts(spark):
    from lightcurator_spark.plans import load_all

    specs = load_all()
    cur = {
        r["event_type"]: r["n"]
        for r in specs["s20_txlog_snapshot"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert set(cur) == {"error"}
    past = {
        r["event_type"]: r["n"]
        for r in specs["s20b_txlog_time_travel"].fn(
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert set(past) == {"purchase", "click"}
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert cur["error"] == want["error"]
    assert past["click"] == want["click"]


def test_concurrent_version_race_loses_no_commit(spark, tmp_path):
    """Two committers racing to the same version: the second must land
    at the NEXT version (put-if-absent), never clobber the first."""
    t = _mk(spark, tmp_path, [(1, "a")])
    # simulate a racer that already published version 1
    racer = os.path.join(t.log_dir, "1.json")
    with open(racer, "w") as fh:
        json.dump({"version": 1, "add": [], "remove": []}, fh)
    # this committer computed version 1 too late — must retry to 2
    v = t.commit(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert v == 2
    assert [e["version"] for e in t.entries()] == [0, 1, 2]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2]


def test_two_writer_race_both_commits_land(spark, tmp_path):
    """TRUE two-writer race (not simulated): two threads commit to the
    same table concurrently; put-if-absent + retry must land BOTH
    commits at distinct versions with no lost update."""
    import threading

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(0, "seed")], "id long, v string"))
    results, errors = [], []

    def write(i):
        try:
            df = spark.createDataFrame([(i, f"w{i}")], "id long, v string")
            results.append(TxLogTable(str(tmp_path / "tbl")).commit(df))
        except Exception as exc:  # pragma: no cover - failure surface
            errors.append(exc)

    threads = [threading.Thread(target=write, args=(i,)) for i in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sorted(results) == [1, 2], results
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [0, 1, 2]


def test_checkpoint_fold_equals_full_fold(spark, tmp_path):
    """Checkpointed resolution is pure acceleration: at every version,
    checkpoint+suffix == full fold, through appends AND an overwrite;
    a deleted checkpoint degrades gracefully to the full fold."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    for i in range(4):
        t.commit(spark.createDataFrame([(i, "a")], "id long, v string"))
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"), "overwrite")
    t.commit(spark.createDataFrame([(10, "y")], "id long, v string"))
    ckpts = sorted(
        f for f in os.listdir(t.log_dir) if f.endswith(".checkpoint.json")
    )
    assert ckpts == ["1.checkpoint.json", "3.checkpoint.json", "5.checkpoint.json"]
    for v in (0, 1, 2, 3, 4, 5, None):
        assert t.active_files(v) == t.active_files(v, use_checkpoint=False), v
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [9, 10]
    # checkpoints are never load-bearing: delete them all, same answers
    for f in ckpts:
        os.unlink(os.path.join(t.log_dir, f))
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [9, 10]


def test_checkpoint_commit_count_unaffected(spark, tmp_path):
    """Checkpoint files must not shift version arithmetic: after a
    checkpoint, the next commit still gets the next sequential
    version."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=1)
    v0 = t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    v1 = t.commit(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert (v0, v1) == (0, 1)
    assert [e["version"] for e in t.entries()] == [0, 1]


def test_vacuum_kills_pre_horizon_time_travel_only(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.commit(spark.createDataFrame([(2, "b")], "id long, v string"), "append")
    t.commit(spark.createDataFrame([(3, "c")], "id long, v string"), "overwrite")
    deleted = t.vacuum(retain_version=2)
    assert deleted, "v0/v1 files should be physically gone"
    # current snapshot untouched
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [3]
    # pre-horizon time travel now fails (files physically missing)
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read_snapshot(spark, version=1).collect()


def test_prune_log_bounds_listing_and_keeps_post_horizon_travel(spark, tmp_path):
    """prune_log on a 50-commit table: the log listing collapses to
    O(interval) entries, every version ≥ the horizon still
    reconstructs EXACTLY its pre-prune snapshot, reads below the
    anchor die (the vacuum horizon semantics), and the next commit
    continues the version sequence (no v-reuse after a full prune)."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=10)
    for i in range(50):
        mode = "overwrite" if i == 25 else "append"
        t.commit(
            spark.createDataFrame([(i, f"c{i}")], "id long, v string"), mode
        )
    horizon = 45  # anchor = checkpoint at v39
    expect = {
        v: sorted(r["id"] for r in t.read_snapshot(spark, v).collect())
        for v in range(39, 50)
    }
    deleted = t.prune_log(horizon)
    assert deleted, "50 commits past checkpoints must yield prunable entries"
    # listing is now O(interval): only the post-anchor suffix remains
    assert len(t._entry_files()) == 10  # v40..v49
    assert [int(f.split(".")[0]) for f in sorted(t._entry_files())] == list(
        range(40, 50)
    )
    # every version ≥ anchor (a fortiori ≥ horizon) reconstructs exactly
    for v, ids in expect.items():
        got = sorted(r["id"] for r in t.read_snapshot(spark, v).collect())
        assert got == ids, f"v{v} diverged after prune_log"
    # below the anchor there is no state to fold
    import pytest as _pytest

    with _pytest.raises(Exception):
        t.read_snapshot(spark, version=20).collect()
    # version arithmetic survives: next commit is v50, not v0
    v = t.commit(spark.createDataFrame([(99, "z")], "id long, v string"))
    assert v == 50
    assert 99 in {r["id"] for r in t.read_snapshot(spark).collect()}


def test_prune_log_without_checkpoint_is_a_noop(spark, tmp_path):
    """Entries are only deleted when a checkpoint provably carries
    their state: a table too young for its first checkpoint prunes
    nothing."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=100)
    for i in range(3):
        t.commit(spark.createDataFrame([(i, "x")], "id long, v string"))
    assert t.prune_log(2) == []
    assert len(t._entry_files()) == 3


def test_full_fold_refuses_pruned_table(spark, tmp_path):
    """After prune_log, checkpoints are LOAD-BEARING: the
    no-checkpoint full fold can no longer reconstruct state, so it
    must raise instead of silently returning the post-anchor suffix
    as if it were the whole history (r8 advice fix)."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    for i in range(4):
        t.commit(spark.createDataFrame([(i, "x")], "id long, v string"))
    # pre-prune: both folds agree
    before = t.active_files()
    assert before == t.active_files(use_checkpoint=False)
    assert t.prune_log(3), "ckpt@3 should anchor a prune"
    # checkpointed fold still resolves the full state
    assert t.active_files() == before
    assert t.read_snapshot(spark).count() == 4
    # the full fold is impossible and says so loudly
    with pytest.raises(ValueError, match="load-bearing"):
        t.active_files(use_checkpoint=False)


def test_reader_never_breaks_under_concurrent_vacuum_and_prune(spark, tmp_path):
    """The horizon contract under TRUE concurrency (r8 verdict item 6
    + advice item 4): reader threads continuously resolve snapshots at
    versions ≥ the announced horizon while the writer interleaves
    commits with vacuum() + prune_log() at advancing horizons. No
    reader may ever observe a missing-file error or an empty/partial
    resolution for a version that was ≥ the horizon when it failed —
    the listdir-then-open race in entries() and the checkpoint-
    re-resolution in _fold_state are exactly what this exercises."""
    import random
    import threading

    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    for i in range(4):
        t.commit(
            spark.createDataFrame([(i, f"v{i}")], "id long, v string"),
            "append",
            stats_cols=["id"],
        )
    horizon = [0]
    stop = threading.Event()
    errors: list = []
    folds = [0]
    lock = threading.Lock()

    def reader(seed):
        rnd = random.Random(seed)
        h = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
        while not stop.is_set():
            hz = horizon[0]
            latest = h._next_version() - 1
            v = rnd.randint(hz, max(hz, latest))
            try:
                files = h.active_files(v)
                assert files, f"v{v} (horizon {hz}) resolved EMPTY"
                c = h.count_snapshot(v)
                assert c is None or c > 0
                with lock:
                    folds[0] += 1
            except Exception as exc:
                # a version below the CURRENT horizon is legitimately
                # dead (the writer advanced past our pick mid-fold);
                # anything else is a broken reader — the bug class
                if v >= horizon[0]:
                    with lock:
                        errors.append((v, horizon[0], repr(exc)))
                    return

    readers = [threading.Thread(target=reader, args=(s,)) for s in range(4)]
    for th in readers:
        th.start()
    try:
        for i in range(4, 20):
            t.commit(
                spark.createDataFrame(
                    [(i, f"v{i}")], "id long, v string"
                ),
                "overwrite" if i % 5 == 0 else "append",
                stats_cols=["id"],
            )
            if i % 4 == 3:
                hz = t._next_version() - 2
                horizon[0] = hz  # announce BEFORE destroying history
                t.vacuum(hz)
                t.prune_log(hz)
    finally:
        stop.set()
        for th in readers:
            th.join()
    assert not errors, errors
    assert folds[0] > 50, f"readers only completed {folds[0]} folds"
    # the surviving state is intact end to end
    assert t.read_snapshot(spark).count() > 0


def test_eight_writer_race_every_commit_lands_exactly_once(spark, tmp_path):
    """N=8 threads × M=6 commits with DIFFERENT checkpoint intervals
    per handle (so checkpoints interleave with contested commits):
    put-if-absent + retry must land all 48 commits at 48 distinct
    versions, the final snapshot must hold every row exactly once, and
    the checkpointed fold must equal the from-scratch fold at the
    end — the concurrency claim stressed beyond the pairwise case."""
    import threading

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(-1, "seed")], "id long, v string"))
    results, errors = [], []
    lock = threading.Lock()

    def write(worker):
        # per-worker handle with its own checkpoint cadence
        h = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=3 + worker % 4)
        try:
            for j in range(6):
                i = worker * 100 + j
                df = spark.createDataFrame([(i, f"w{i}")], "id long, v string")
                v = h.commit(df)
                with lock:
                    results.append(v)
        except Exception as exc:  # pragma: no cover - failure surface
            with lock:
                errors.append(exc)

    threads = [threading.Thread(target=write, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sorted(results) == list(range(1, 49)), sorted(results)
    rows = [r["id"] for r in t.read_snapshot(spark).collect()]
    assert len(rows) == len(set(rows)) == 49  # 48 + seed, no dup, no loss
    assert t.active_files() == t.active_files(use_checkpoint=False)


def test_change_feed_matches_fileset_difference(spark, tmp_path):
    """read_changes between two versions = inserts (files active only
    at the later) + deletes (files active only at the earlier); a
    no-change span raises instead of returning an empty frame."""
    import pytest as _pytest

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.commit(spark.createDataFrame([(3, "c")], "id long, v string"), "append")
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"), "overwrite")
    ch01 = t.read_changes(spark, 0, 1)
    assert sorted((r["id"], r["change_type"]) for r in ch01.collect()) == [
        (3, "insert")
    ]
    ch12 = t.read_changes(spark, 1, 2)
    assert sorted((r["id"], r["change_type"]) for r in ch12.collect()) == [
        (1, "delete"),
        (2, "delete"),
        (3, "delete"),
        (9, "insert"),
    ]
    with _pytest.raises(ValueError, match="no changes"):
        t.read_changes(spark, 2, 2)


def test_stats_pruned_read_equals_filtered_full_read(spark, tmp_path):
    """File skipping must be invisible to the answer: the pruned read
    equals read_snapshot + the same row filter, while provably
    scanning fewer files."""
    t = TxLogTable(str(tmp_path / "tbl"))
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, float(lo + i)) for i in range(10)], "id long, x double"
        )
        t.commit(df, "append", stats_cols=["x"])
    kept, skipped = t.prune_files("x", 200.0, 300.0)
    assert skipped and kept and set(kept).isdisjoint(skipped)
    pruned = sorted(
        r["id"]
        for r in t.read_snapshot_pruned(spark, "x", 200.0, 300.0).collect()
    )
    full = sorted(
        r["id"]
        for r in t.read_snapshot(spark)
        .filter(F.col("x").between(200.0, 300.0))
        .collect()
    )
    assert pruned == full == list(range(200, 210))


def test_fully_pruned_predicate_returns_empty_not_error(spark, tmp_path):
    """An out-of-range BETWEEN that skips EVERY file is a legitimate
    empty result — the pruned path must behave exactly like
    read_snapshot(...).filter(...) (zero rows, same schema), never
    raise (r8 advice fix)."""
    t = TxLogTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, x double"
    )
    t.commit(df, "append", stats_cols=["x"])
    kept, skipped = t.prune_files("x", 1e6, 2e6)
    assert not kept and skipped
    out = t.read_snapshot_pruned(spark, "x", 1e6, 2e6)
    assert out.count() == 0
    assert out.schema == t.read_snapshot(spark).schema


def test_stats_free_files_are_never_skipped(spark, tmp_path):
    """A commit without stats_cols yields unprunable files: the pruner
    must keep them for ANY predicate (skipping is acceleration, never
    a correctness decision)."""
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame([(1, 5.0)], "id long, x double"),
        "append",
        stats_cols=["x"],
    )
    t.commit(spark.createDataFrame([(2, 500.0)], "id long, x double"), "append")
    kept, skipped = t.prune_files("x", 1000.0, 2000.0)
    # the stats-free file survives an impossible predicate; the
    # stats-carrying file is skipped
    assert len(kept) >= 1 and skipped
    stats = t.active_stats()
    assert any(s is None or s.get("x") is None for s in stats.values())


def test_stats_fold_through_overwrite_and_checkpoint(spark, tmp_path):
    """Overwrite must drop removed files' stats from the fold, and the
    checkpointed stats fold must equal the entry-suffix fold."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(
        spark.createDataFrame([(1, 10.0)], "id long, x double"),
        "append",
        stats_cols=["x"],
    )
    t.commit(
        spark.createDataFrame([(2, 20.0)], "id long, x double"),
        "append",
        stats_cols=["x"],
    )  # ckpt@1
    t.commit(
        spark.createDataFrame([(3, 999.0)], "id long, x double"),
        "overwrite",
        stats_cols=["x"],
    )
    stats = t.active_stats()
    assert len(stats) == len(t.active_files())
    vals = [s["x"] for s in stats.values() if s and s.get("x")]
    assert vals == [[999.0, 999.0]]
    # pre-overwrite stats still resolve for time travel through ckpt@1
    old = t.active_stats(1)
    assert sorted(s["x"][0] for s in old.values() if s and s.get("x")) == [
        10.0,
        20.0,
    ]


def test_pruned_read_composes_with_time_travel(spark, tmp_path):
    """Zone-map pruning must respect the version parameter: after an
    overwrite narrows the value range, a pruned read at the OLD
    version still sees the old bands (stats resolve per-version)."""
    t = TxLogTable(str(tmp_path / "tbl"))
    for lo in (0, 100):
        t.commit(
            spark.createDataFrame(
                [(lo + i, float(lo + i)) for i in range(5)], "id long, x double"
            ),
            "append",
            stats_cols=["x"],
        )
    t.commit(
        spark.createDataFrame([(999, 999.0)], "id long, x double"),
        "overwrite",
        stats_cols=["x"],
    )
    old = sorted(
        r["id"]
        for r in t.read_snapshot_pruned(spark, "x", 100.0, 200.0, version=1).collect()
    )
    assert old == list(range(100, 105))
    kept, skipped = t.prune_files("x", 100.0, 200.0, version=1)
    assert skipped, "the low band should be skipped at v1"
    # at the LATEST version every surviving file is out of range (the
    # overwrite's 999-row) or empty (zero-row part files are skippable
    # under any predicate via the __nrows stat) — nothing is scanned
    new_kept, new_skipped = t.prune_files("x", 100.0, 200.0)
    assert new_kept == [] and new_skipped


def test_prune_random_sequences_preserve_post_anchor_state(spark, tmp_path):
    """Property: under RANDOM interleavings of append / overwrite /
    prune_log (checkpoint_interval=2, so anchors move mid-sequence),
    every version at or above the highest prune anchor reconstructs
    exactly the shadow model's state, and version arithmetic never
    regresses. The directed tests pin one scripted history; this pins
    the CLASS."""
    import uuid

    from hypothesis import given, settings
    from hypothesis import strategies as st

    op_strategy = st.lists(
        st.one_of(
            st.tuples(st.just("append"), st.integers(1, 3)),
            st.tuples(st.just("overwrite"), st.integers(1, 3)),
            st.tuples(st.just("prune"), st.just(0)),
        ),
        min_size=4,
        max_size=9,
    ).filter(
        lambda ops: sum(1 for o in ops if o[0] != "prune") >= 3
        and ops[0][0] != "prune"
    )

    @given(op_strategy)
    @settings(max_examples=5, deadline=None)
    def run(ops):
        t = TxLogTable(
            str(tmp_path / f"tbl_{uuid.uuid4().hex[:8]}"),
            checkpoint_interval=2,
        )
        shadow: list[set[int]] = []  # per-version active id sets
        next_id = 0
        max_anchor = -1
        for kind, arg in ops:
            if kind == "prune":
                if not shadow:
                    continue
                retain = len(shadow) - 1  # latest version
                ckpt = t._latest_checkpoint(retain)
                t.prune_log(retain)
                if ckpt is not None:
                    max_anchor = max(max_anchor, ckpt["version"])
                continue
            ids = list(range(next_id, next_id + arg))
            next_id += arg
            df = spark.createDataFrame(
                [(i, f"v{i}") for i in ids], "id long, v string"
            )
            v = t.commit(df, kind)
            assert v == len(shadow), (v, len(shadow))
            prev = shadow[-1] if (shadow and kind == "append") else set()
            shadow.append(prev | set(ids))
        # every version >= the highest anchor must reconstruct exactly
        for v in range(max(max_anchor, 0), len(shadow)):
            got = {r["id"] for r in t.read_snapshot(spark, v).collect()}
            assert got == shadow[v], (v, got, shadow[v])

    run()


def test_metadata_count_exact_or_none(spark, tmp_path):
    """count_snapshot answers from the log fold when every active file
    carries stats — exact across appends, overwrites, and time travel
    — and returns None (caller must scan) the moment any active file
    lacks stats."""
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame([(i, float(i)) for i in range(7)], "id long, x double"),
        "append",
        stats_cols=["x"],
    )
    t.commit(
        spark.createDataFrame([(i, float(i)) for i in range(5)], "id long, x double"),
        "append",
        stats_cols=["x"],
    )
    assert t.count_snapshot() == 12 == t.read_snapshot(spark).count()
    assert t.count_snapshot(0) == 7
    t.commit(
        spark.createDataFrame([(1, 1.0)], "id long, x double"),
        "overwrite",
        stats_cols=["x"],
    )
    assert t.count_snapshot() == 1
    assert t.count_snapshot(1) == 12  # time travel folds old stats
    # a stats-free commit poisons the fast path — None, never a guess
    t.commit(spark.createDataFrame([(2, 2.0)], "id long, x double"), "append")
    assert t.count_snapshot() is None
    assert t.read_snapshot(spark).count() == 2


def test_commit_replace_is_atomic_and_time_travels(spark, tmp_path):
    """S23's primitive: commit_replace swaps an explicit file subset
    in ONE entry — the pre-merge snapshot stays readable (remove is a
    log entry), the post-merge snapshot sees new+untouched rows, and
    untouched files are byte-identical (never rewritten)."""
    t = TxLogTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "id long, v string"
    ).repartitionByRange(4, "id").sortWithinPartitions("id")
    t.commit(df, "append", stats_cols=["id"])
    files = t.active_files()
    assert len(files) == 4
    # rewrite only the file(s) containing id 0-1
    touched = [
        f for f, s in t.active_stats().items()
        if s and s.get("id") and s["id"][0] <= 1
    ]
    assert 1 <= len(touched) < len(files)
    untouched = sorted(set(files) - set(touched))
    mtimes = {
        f: os.path.getmtime(os.path.join(t.path, f)) for f in untouched
    }
    repl = spark.createDataFrame(
        [(0, "NEW0"), (1, "NEW1"), (99, "INS")], "id long, v string"
    )
    v = t.commit_replace(repl, remove=touched, stats_cols=["id"])
    assert v == 1
    got = {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()}
    assert got[0] == "NEW0" and got[1] == "NEW1" and got[99] == "INS"
    assert all(got[i] == f"v{i}" for i in range(2, 8))
    # time travel: the pre-merge state is intact
    old = {r["id"]: r["v"] for r in t.read_snapshot(spark, 0).collect()}
    assert old == {i: f"v{i}" for i in range(8)}
    # untouched files were never rewritten
    for f in untouched:
        assert os.path.getmtime(os.path.join(t.path, f)) == mtimes[f]


def test_commit_replace_refuses_stale_remove_set(spark, tmp_path):
    """Conflict semantics: if a racing commit already removed a file
    in the replace set, commit_replace must fail loudly — silently
    publishing would double-remove / resurrect state."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    victim = t.active_files()
    t.commit(
        spark.createDataFrame([(2, "b")], "id long, v string"), "overwrite"
    )
    with pytest.raises(ValueError, match="no longer active"):
        t.commit_replace(
            spark.createDataFrame([(3, "c")], "id long, v string"),
            remove=victim,
        )


def test_commit_txn_ledger_survives_checkpoint_and_prune(spark, tmp_path):
    """T21's primitive: txn ids fold through checkpoints like the file
    list, so a replayed batch stays a no-op even after prune_log
    deleted the entry that carried its tag."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    assert t.commit_txn(df, "app/0") == 0
    assert t.commit_txn(df, "app/1") == 1  # writes ckpt@1
    # replay before prune: no-op
    assert t.commit_txn(df, "app/0") is None
    assert t._next_version() == 2
    assert t.prune_log(1), "ckpt@1 anchors a prune"
    # replay after prune: the ledger came through the checkpoint
    assert t.commit_txn(df, "app/1") is None
    assert t._next_version() == 2
    assert t.read_snapshot(spark).count() == 2
    # a genuinely new txn still commits
    assert t.commit_txn(df, "app/2") == 2
    assert t.read_snapshot(spark).count() == 3


def test_restore_refuses_vacuumed_target_and_preserves_history(spark, tmp_path):
    """RESTORE is metadata-only, so it must fail loudly when the
    target's bytes are gone (vacuumed past it), and a successful
    restore keeps BOTH directions of history readable."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.commit(spark.createDataFrame([(2, "b")], "id long, v string"), "overwrite")
    v = t.restore(0)
    assert v == 2
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1]
    # the undone overwrite is still auditable
    assert sorted(r["id"] for r in t.read_snapshot(spark, 1).collect()) == [2]
    # vacuum past v1 kills restore-to-1 loudly (its bytes are gone),
    # while the current (restored) state survives
    t.vacuum(retain_version=2)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(1)
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1]


def test_clone_is_zero_copy_and_isolated(spark, tmp_path):
    from lightcurator_spark.sources.txlog import clone_from

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.commit(spark.createDataFrame([(3, "c")], "id long, v string"))
    c = clone_from(t, str(tmp_path / "clone"))
    clone_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(c.path)
        for f in fs
        if f.endswith(".parquet")
    )
    assert clone_bytes == 0, "shallow clone must copy zero data bytes"
    assert sorted(r["id"] for r in c.read_snapshot(spark).collect()) == [1, 2, 3]
    # divergence isolation, both directions
    c.commit(spark.createDataFrame([(4, "d")], "id long, v string"))
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert sorted(r["id"] for r in c.read_snapshot(spark).collect()) == [1, 2, 3, 4]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [
        1, 2, 3, 9,
    ]
    # every pre-clone source file still exists
    for f in t.active_files(1):
        assert os.path.exists(os.path.join(t.path, f))


def test_clone_vacuum_never_deletes_borrowed(spark, tmp_path):
    from lightcurator_spark.sources.txlog import clone_from

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    c = clone_from(t, str(tmp_path / "clone"))
    c.commit(spark.createDataFrame([(3, "c")], "id long, v string"))  # v1
    c.commit(
        spark.createDataFrame([(4, "d")], "id long, v string"), "overwrite"
    )  # v2: borrowed + v1 files now dead
    deleted = c.vacuum(2)
    assert deleted and all(not os.path.isabs(f) for f in deleted)
    # borrowed bytes survive; the source still reads
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2]


def test_clone_carries_stats_for_pruned_reads(spark, tmp_path):
    from lightcurator_spark.sources.txlog import clone_from

    t = TxLogTable(str(tmp_path / "tbl"))
    for lo in (0, 100):
        t.commit(
            spark.createDataFrame(
                [(lo + i, "x") for i in range(10)], "id long, v string"
            ).coalesce(1),
            stats_cols=["id"],
        )
    c = clone_from(t, str(tmp_path / "clone"))
    kept, skipped = c.prune_files("id", 105, 200)
    assert len(kept) == 1 and len(skipped) == 1, (
        "clone must zone-map-prune via the borrowed stats"
    )


def test_as_of_timestamp_boundaries(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.commit(spark.createDataFrame([(2, "b")], "id long, v string"))
    ts = {e["version"]: e["ts"] for e in t.entries()}
    # exact commit instant resolves that commit (<=, Delta semantics)
    assert t.version_as_of(ts[0]) == 0
    assert t.version_as_of(ts[1]) == 1
    assert t.version_as_of(ts[1] + 1e6) == 1
    import pytest

    with pytest.raises(ValueError):
        t.version_as_of(ts[0] - 3600)


def test_wap_discard_leaves_no_trace(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    staged = t.stage(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert t.read_staged(spark, staged).count() == 1
    # staged bytes are invisible to every reader
    assert t.read_snapshot(spark).count() == 1
    t.discard_staged(staged)
    for f in staged:
        assert not os.path.exists(os.path.join(t.path, f))
    assert [e["version"] for e in t.entries()] == [0]
    import pytest

    with pytest.raises(ValueError):
        t.publish_staged(staged)  # discarded files cannot be published


def test_wap_publish_is_atomic_and_stat_carrying(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, "x") for i in range(5)], "id long, v string"
        ).coalesce(1),
        stats_cols=["id"],
    )
    staged = t.stage(
        spark.createDataFrame(
            [(100 + i, "y") for i in range(5)], "id long, v string"
        ).coalesce(1)
    )
    v = t.publish_staged(staged, stats_cols=["id"])
    assert v == 1
    assert t.read_snapshot(spark).count() == 10
    kept, skipped = t.prune_files("id", 100, 200)
    assert len(kept) == 1 and len(skipped) == 1, (
        "published staged files must carry zone-map stats"
    )


def test_rename_column_is_metadata_only_and_versioned(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    files_before = t.active_files()
    v = t.rename_column("v", "label")
    assert t.active_files() == files_before, "rename must touch no files"
    cur = t.read_snapshot(spark)
    assert set(cur.columns) == {"id", "label"}
    assert sorted(r["label"] for r in cur.collect()) == ["a", "b"]
    # time travel below the rename sees the OLD schema
    old = t.read_snapshot(spark, version=v - 1)
    assert set(old.columns) == {"id", "v"}


def test_append_after_rename_lands_physically_unified(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.rename_column("v", "label")
    t.commit(spark.createDataFrame([(2, "b")], "id long, label string"))
    snap = t.read_snapshot(spark)
    assert set(snap.columns) == {"id", "label"}
    assert sorted((r["id"], r["label"]) for r in snap.collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # physically every file still carries the original column name
    import pyarrow.parquet as pq

    for f in t.active_files():
        assert pq.read_schema(os.path.join(t.path, f)).names == ["id", "v"]


def test_rename_chain_and_validation(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path, [(1, "a")])
    t.rename_column("v", "b")
    t.rename_column("b", "c")
    assert set(t.read_snapshot(spark).columns) == {"id", "c"}
    assert t.column_mapping() == {"v": "c"}
    with pytest.raises(ValueError):
        t.rename_column("nope", "x")  # absent source
    with pytest.raises(ValueError):
        t.rename_column("c", "id")  # shadowing an existing column
    with pytest.raises(ValueError):
        t.rename_column("c", "c")  # identity


def test_rename_survives_checkpoint_and_prune(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.rename_column("v", "label")  # v1 -> writes ckpt at v1
    for i in range(2, 5):
        t.commit(
            spark.createDataFrame([(i, "x")], "id long, label string")
        )
    t.vacuum(4)
    t.prune_log(4)
    snap = t.read_snapshot(spark)
    assert set(snap.columns) == {"id", "label"}
    assert snap.count() == 4
    assert t.column_mapping() == {"v": "label"}


def test_rename_composes_with_stats_pruning(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    for lo in (0, 100):
        t.commit(
            spark.createDataFrame(
                [(lo + i, "x") for i in range(10)], "id long, v string"
            ).coalesce(1),
            stats_cols=["id"],
        )
    t.rename_column("id", "entity_id")
    # prune on the LOGICAL name; stats were recorded physically
    kept, skipped = t.prune_files("entity_id", 105, 200)
    assert len(kept) == 1 and len(skipped) == 1
    got = t.read_snapshot_pruned(spark, "entity_id", 105, 200)
    assert got.count() == 5 and "entity_id" in got.columns
    # post-rename commits record stats under the physical name too
    t.commit(
        spark.createDataFrame(
            [(200 + i, "y") for i in range(10)], "entity_id long, v string"
        ).coalesce(1),
        stats_cols=["entity_id"],
    )
    kept2, skipped2 = t.prune_files("entity_id", 205, 300)
    assert len(kept2) == 1 and len(skipped2) == 2


def test_add_column_is_metadata_only_with_default(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    files_before = t.active_files()
    v = t.add_column("score", 0.5, "double")
    assert t.active_files() == files_before
    snap = t.read_snapshot(spark)
    assert set(snap.columns) == {"id", "v", "score"}
    assert all(r["score"] == 0.5 for r in snap.collect())
    # time travel below the add does not show the column
    assert "score" not in t.read_snapshot(spark, v - 1).columns


def test_add_column_mixed_physical_schemas_unify(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.add_column("score", 0.0, "double")
    t.commit(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    )
    rows = {r["id"]: r["score"] for r in t.read_snapshot(spark).collect()}
    # pre-add file fills the default; post-add file keeps real values
    assert rows == {1: 0.0, 2: 9.5}


def test_add_column_validation_and_rename_composition(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path, [(1, "a")])
    t.add_column("score", 1.0, "double")
    with pytest.raises(ValueError):
        t.add_column("score", 2.0, "double")  # duplicate logical name
    with pytest.raises(ValueError):
        t.add_column("v", 0.0, "double")  # collides with a data column
    # an added column is renameable like any other
    t.rename_column("score", "weight")
    snap = t.read_snapshot(spark)
    assert "weight" in snap.columns and "score" not in snap.columns
    assert all(r["weight"] == 1.0 for r in snap.collect())
    with pytest.raises(ValueError):
        t.add_column("weight", 0.0, "double")  # collides post-rename


def test_add_column_survives_checkpoint_and_prune(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.add_column("score", 7.0, "double")  # v1 -> ckpt
    for i in range(2, 5):
        t.commit(
            spark.createDataFrame(
                [(i, "x", float(i))], "id long, v string, score double"
            )
        )
    t.vacuum(4)
    t.prune_log(4)
    rows = {r["id"]: r["score"] for r in t.read_snapshot(spark).collect()}
    assert rows == {1: 7.0, 2: 2.0, 3: 3.0, 4: 4.0}


# ---- round 10: advice fixes + MoR deletes + DROP COLUMN + OCC ----


def test_added_column_stored_nulls_read_back_as_null(spark, tmp_path):
    """r9 advice (medium): a post-add file that STORES a NULL in the
    added column must read it back as NULL, not the default — defaults
    apply only where the column is physically absent (Delta rule)."""
    t = _mk(spark, tmp_path, [(1, "a")])
    t.add_column("score", 0.5, "double")
    t.commit(
        spark.createDataFrame(
            [(2, "b", None), (3, "c", 9.0)], "id long, v string, score double"
        )
    )
    rows = {r["id"]: r["score"] for r in t.read_snapshot(spark).collect()}
    assert rows == {1: 0.5, 2: None, 3: 9.0}
    # the pruned read path resolves the same way
    pruned = {
        r["id"]: r["score"]
        for r in t.read_snapshot_pruned(spark, "id", 1, 3).collect()
    }
    assert pruned == rows


def test_clone_carries_renames_and_added_columns(spark, tmp_path):
    """r9 advice (medium): a shallow clone of a schema-evolved table
    must present the LOGICAL schema — renames and added-column
    defaults ride in the clone's v0 metadata."""
    from lightcurator_spark.sources.txlog import clone_from

    t = _mk(spark, tmp_path, [(1, "a")])
    t.rename_column("v", "name")
    t.add_column("score", 2.5, "double")
    t.commit(
        spark.createDataFrame(
            [(2, "b", None)], "id long, name string, score double"
        )
    )
    c = clone_from(t, str(tmp_path / "clone"))
    snap = c.read_snapshot(spark)
    assert set(snap.columns) == {"id", "name", "score"}
    rows = {r["id"]: (r["name"], r["score"]) for r in snap.collect()}
    # pre-add borrowed file fills the default; stored NULL stays NULL
    assert rows == {1: ("a", 2.5), 2: ("b", None)}
    # writes into the clone keep mapping logical -> physical
    c.commit(
        spark.createDataFrame(
            [(3, "c", 1.0)], "id long, name string, score double"
        )
    )
    assert {
        r["id"]: r["name"] for r in c.read_snapshot(spark).collect()
    } == {1: "a", 2: "b", 3: "c"}
    # ...and the source never sees any of it
    assert set(t.read_snapshot(spark).columns) == {"id", "name", "score"}
    assert t.read_snapshot(spark).count() == 2


def test_clone_refuses_populated_destination(spark, tmp_path):
    import pytest

    from lightcurator_spark.sources.txlog import clone_from

    t = _mk(spark, tmp_path, [(1, "a")])
    victim = _mk(spark, tmp_path / "sub", [(9, "z")])
    with pytest.raises(ValueError, match="not\\s+empty"):
        clone_from(t, str(tmp_path / "sub" / "tbl"))
    # the victim is untouched
    assert victim.read_snapshot(spark).count() == 1
    # explicit overwrite is allowed and destroys deliberately
    c = clone_from(t, str(tmp_path / "sub" / "tbl"), overwrite=True)
    assert {r["id"] for r in c.read_snapshot(spark).collect()} == {1}


def test_change_feed_across_add_column_boundary(spark, tmp_path):
    """r9 advice (low): a change range spanning an add_column must
    present every leg at to_version's logical schema (defaults filled
    for pre-add files, stored values read back from post-add files)."""
    t = _mk(spark, tmp_path, [(1, "a")])
    t.add_column("score", 0.5, "double")  # v1
    t.commit(
        spark.createDataFrame([(2, "b", 9.0)], "id long, v string, score double")
    )  # v2
    t.commit(
        spark.createDataFrame([(3, "c", 1.0)], "id long, v string, score double"),
        "overwrite",
    )  # v3: removes the v0 (pre-add) and v2 files
    ch = t.read_changes(spark, 0, 3)
    assert set(ch.columns) == {"id", "v", "score", "change_type"}
    got = sorted((r["id"], r["change_type"], r["score"]) for r in ch.collect())
    # NET semantics: id=2's file was added AND removed inside the
    # range, so it cancels; id=1 (pre-add file) deletes at to_version's
    # schema with the default filled; id=3 inserts with its stored value
    assert got == [(1, "delete", 0.5), (3, "insert", 1.0)]
    # a range ending BEFORE the overwrite shows the mixed-schema insert
    mid = sorted(
        (r["id"], r["change_type"], r["score"])
        for r in t.read_changes(spark, 0, 2).collect()
    )
    assert mid == [(2, "insert", 9.0)]


def test_delete_mor_rewrites_nothing_and_reads_right(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(10)], "id long, v string"
        ).repartition(4),
        stats_cols=["id"],
    )
    files_before = set(t.active_files())
    data_dirs_before = sorted(
        d for d in os.listdir(t.path) if d != "_log"
    )
    v = t.delete_mor(spark, (F.col("id") >= 3) & (F.col("id") <= 5), "id")
    # ZERO data files rewritten, added, or removed — one metadata entry
    assert set(t.active_files()) == files_before
    assert sorted(d for d in os.listdir(t.path) if d != "_log") == data_dirs_before
    assert {r["id"] for r in t.read_snapshot(spark).collect()} == {
        0, 1, 2, 6, 7, 8, 9,
    }
    # time travel below the delete still shows the rows
    assert t.read_snapshot(spark, v - 1).count() == 10
    # metadata count subtracts the DVs
    assert t.count_snapshot() == 7
    assert t.count_snapshot(v - 1) == 10


def test_delete_mor_validation(spark, tmp_path):
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
        )
    )
    with pytest.raises(ValueError, match="matched no rows"):
        t.delete_mor(spark, F.col("id") > 100, "id")
    with pytest.raises(ValueError, match="unique"):
        t.delete_mor(spark, F.col("id") == 1, "id")  # duplicate key
    t2 = TxLogTable(str(tmp_path / "tbl2"))
    t2.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t2.delete_mor(spark, F.col("id") == 1, "id")
    with pytest.raises(ValueError, match="keyed on"):
        t2.delete_mor(spark, F.col("id") == 2, "v")  # mixed DV keys


def test_delete_mor_then_optimize_materializes_dvs(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(8)], "id long, v string"
        ).repartition(4)
    )
    t.delete_mor(spark, F.col("id") % 2 == 0, "id")
    assert t._fold_state().dvs, "delete must record deletion vectors"
    # OPTIMIZE: rewrite the snapshot; removed files drop their DVs
    before = t.active_files()
    t.commit_replace(t.read_snapshot(spark).coalesce(1), remove=before)
    assert not t._fold_state().dvs, "compaction must retire the DVs"
    assert {r["id"] for r in t.read_snapshot(spark).collect()} == {1, 3, 5, 7}
    # pre-compaction time travel still applies the DVs
    assert t.read_snapshot(spark, 1).count() == 4
    assert t.read_snapshot(spark, 0).count() == 8


def test_delete_mor_survives_checkpoint_prune_and_vacuum(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)], "id long, v string"
        ).repartition(2)
    )  # v0
    t.delete_mor(spark, F.col("id") < 2, "id")  # v1 -> ckpt
    t.commit(
        spark.createDataFrame([(100, "x")], "id long, v string")
    )  # v2
    t.vacuum(2)
    t.prune_log(2)
    assert {r["id"] for r in t.read_snapshot(spark).collect()} == {
        2, 3, 4, 5, 100,
    }
    # checkpointed fold == live fold for the DV state too
    assert t.count_snapshot() is None or t.count_snapshot() == 5


def test_delete_mor_change_feed_emits_dv_deletes(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(5)], "id long, v string"
        )
    )  # v0
    t.delete_mor(spark, F.col("id").isin(1, 3), "id")  # v1
    ch = t.read_changes(spark, 0, 1)
    got = sorted((r["id"], r["change_type"]) for r in ch.collect())
    assert got == [(1, "delete"), (3, "delete")]
    # and an insert after the delete composes: feed over the full range
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"))  # v2
    ch2 = t.read_changes(spark, 0, 2)
    got2 = sorted((r["id"], r["change_type"]) for r in ch2.collect())
    assert got2 == [(1, "delete"), (3, "delete"), (9, "insert")]


def test_drop_column_is_metadata_only_and_versioned(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    files_before = t.active_files()
    v = t.drop_column("v")
    assert t.active_files() == files_before, "drop must touch no file"
    snap = t.read_snapshot(spark)
    assert snap.columns == ["id"]
    # pre-drop time travel still shows the column
    assert set(t.read_snapshot(spark, v - 1).columns) == {"id", "v"}
    # post-drop appends lack the column physically; mixed files unify
    t.commit(spark.createDataFrame([(3,)], "id long"))
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2, 3]
    # re-adding the retired physical name is refused
    with pytest.raises(ValueError, match="dropped"):
        t.add_column("v", "x", "string")
    # writing the dropped column is refused
    with pytest.raises(ValueError, match="dropped"):
        t.commit(spark.createDataFrame([(4, "d")], "id long, v string"))
    with pytest.raises(ValueError, match="not a current logical column"):
        t.drop_column("ghost")
    with pytest.raises(ValueError, match="last column"):
        t.drop_column("id")


def test_drop_column_composes_with_rename_and_add(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, "a")])
    t.rename_column("v", "name")
    t.add_column("score", 1.5, "double")
    t.drop_column("name")  # dropping a RENAMED column drops the physical
    snap = t.read_snapshot(spark)
    assert set(snap.columns) == {"id", "score"}
    assert snap.collect()[0]["score"] == 1.5
    # dropping an ADDED column removes its default
    t.drop_column("score")
    assert t.read_snapshot(spark).columns == ["id"]


def test_drop_column_survives_checkpoint_and_prune(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.drop_column("v")  # v1 -> ckpt
    t.commit(spark.createDataFrame([(2,)], "id long"))  # v2
    t.prune_log(2)
    assert t.read_snapshot(spark).columns == ["id"]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2]


def test_clone_carries_dvs_and_dropped_columns(spark, tmp_path):
    from lightcurator_spark.sources.txlog import clone_from

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}", float(i)) for i in range(6)],
            "id long, v string, x double",
        )
    )
    t.delete_mor(spark, F.col("id") < 2, "id")
    t.drop_column("x")
    c = clone_from(t, str(tmp_path / "clone"))
    snap = c.read_snapshot(spark)
    assert set(snap.columns) == {"id", "v"}
    assert {r["id"] for r in snap.collect()} == {2, 3, 4, 5}
    # the clone's DVs are independent state: deleting more in the
    # clone never touches the source
    c.delete_mor(spark, F.col("id") == 2, "id")
    assert {r["id"] for r in c.read_snapshot(spark).collect()} == {3, 4, 5}
    assert {r["id"] for r in t.read_snapshot(spark).collect()} == {2, 3, 4, 5}


def test_concurrent_disjoint_replaces_all_land(spark, tmp_path):
    """OCC rebase (r9 verdict item 4): N writers each rewriting a
    DISJOINT file subset must all commit — losing the version race
    rebases onto the new log tip and retries, because disjoint
    replaces commute. Every rewrite lands exactly once and the final
    state is the serial outcome."""
    import threading

    t = TxLogTable(str(tmp_path / "tbl"))
    # 6 single-file commits -> 6 independently-owned files
    for i in range(6):
        t.commit(
            spark.createDataFrame([(i, f"r{i}")], "id long, v string").coalesce(1)
        )
    owned = {i: [f] for i, f in enumerate(sorted(
        f for e in t.entries() for f in e["add"]
    ))}
    # map file -> the id it holds (commit order == version order)
    errors, landed = [], []
    lock = threading.Lock()

    def rewrite(worker):
        h = TxLogTable(str(tmp_path / "tbl"))
        try:
            df = spark.createDataFrame(
                [(worker + 100, f"w{worker}")], "id long, v string"
            ).coalesce(1)
            v = h.commit_replace(df, remove=owned[worker])
            with lock:
                landed.append(v)
        except Exception as exc:  # pragma: no cover
            with lock:
                errors.append(exc)

    threads = [threading.Thread(target=rewrite, args=(w,)) for w in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sorted(landed) == list(range(6, 12)), sorted(landed)
    got = sorted(r["id"] for r in t.read_snapshot(spark).collect())
    assert got == [100, 101, 102, 103, 104, 105]
    # serializable: checkpoint-free fold agrees
    assert t.active_files() == t.active_files(use_checkpoint=False)


def test_overlapping_replace_conflict_fails_loudly(spark, tmp_path):
    """The other half of OCC: two writers rewriting the SAME file do
    NOT commute — exactly one lands, the loser raises instead of
    resurrecting or double-removing the file."""
    import threading

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1))
    target = t.active_files()
    outcomes = []
    lock = threading.Lock()
    barrier = threading.Barrier(2)

    def rewrite(worker):
        h = TxLogTable(str(tmp_path / "tbl"))
        df = spark.createDataFrame(
            [(worker + 10, f"w{worker}")], "id long, v string"
        ).coalesce(1)
        barrier.wait()
        try:
            h.commit_replace(df, remove=target)
            with lock:
                outcomes.append(("ok", worker))
        except ValueError:
            with lock:
                outcomes.append(("conflict", worker))

    threads = [threading.Thread(target=rewrite, args=(w,)) for w in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    tags = sorted(tag for tag, _ in outcomes)
    # both may serialize cleanly (one finishes before the other starts
    # validating), but NEVER both succeed on the same remove set
    # unless the first's output was the second's input — with the same
    # `target` list that is impossible, so: exactly one ok
    assert tags == ["conflict", "ok"], outcomes
    assert t.read_snapshot(spark).count() == 1


def test_delete_mor_conflict_with_concurrent_rewrite_fails_loudly(
    spark, tmp_path
):
    """OCC for MoR deletes: a compaction that rewrites a targeted file
    between the delete's targeting scan and its publish must make the
    delete FAIL (publishing would silently lose it — the rows now live
    in files the DV doesn't name). Simulated by racing a
    commit_replace in between via a second handle."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)], "id long, v string"
        ).coalesce(1)
    )
    # monkeypatch-free race: capture the targeting by pre-computing the
    # per-file plan, then let a rewrite land before publish. We emulate
    # by calling delete_mor AFTER the rewrite with a stale predicate
    # match impossible — instead drive the internal seam: target, then
    # rewrite, then publish via a second delete on the same handle
    # whose targeting re-runs (fresh) — so the REAL race needs the
    # in-method check. Exercise it directly:
    racer = TxLogTable(str(tmp_path / "tbl"))
    files = t.active_files()
    # start a delete whose targeting sees v0, but interleave a rewrite
    # before the publish by patching _next_version to trigger the swap
    orig_next = t._next_version
    raced = {"done": False, "calls": 0}

    def next_with_race():
        raced["calls"] += 1
        # call #1 is delete_mor's base-version capture (before the
        # targeting fold); the rewrite must land AFTER targeting and
        # BEFORE publish, i.e. at call #2
        if raced["calls"] == 2 and not raced["done"]:
            raced["done"] = True
            racer.commit_replace(
                racer.read_snapshot(spark).coalesce(1), remove=files
            )
        return orig_next()

    t._next_version = next_with_race  # type: ignore[method-assign]
    with pytest.raises(ValueError, match="conflict race"):
        t.delete_mor(spark, F.col("id") < 2, "id")
    t._next_version = orig_next  # type: ignore[method-assign]
    # the table is intact and a fresh delete against the new snapshot works
    assert t.read_snapshot(spark).count() == 6
    t.delete_mor(spark, F.col("id") < 2, "id")
    assert t.read_snapshot(spark).count() == 4


def test_txlog_random_mor_lifecycle_matches_model(spark, tmp_path):
    """Model-based randomized lifecycle for the round-10 verbs: a
    seeded random sequence of append / overwrite / MoR delete /
    compaction / rename / vacuum+prune must keep the table's snapshot
    equal to a driver-side dict model AFTER EVERY STEP, with the
    checkpointed fold agreeing with the from-scratch fold while the
    log is unpruned and the metadata count agreeing with the scan
    whenever it answers. This is the prune-sequences property test's
    discipline applied to deletion vectors + schema evolution — the
    interactions (DV through checkpoint, DV dying on compaction,
    rename of the VALUE column while DVs key the id column) are where
    single-scenario tests miss."""
    import random

    rng = random.Random(42)
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=3)
    val_col = "v"
    model: dict[int, str] = {}
    next_id = [0]
    pruned = [False]

    def fresh_rows(k):
        rows = [(next_id[0] + i, f"r{next_id[0] + i}") for i in range(k)]
        next_id[0] += k
        return rows

    def df_for(rows):
        return spark.createDataFrame(
            rows, f"id long, {val_col} string"
        ).coalesce(rng.choice([1, 2]))

    rows0 = fresh_rows(5)
    t.commit(df_for(rows0))
    model.update(dict(rows0))

    def check():
        snap = {
            r["id"]: r[val_col]
            for r in t.read_snapshot(spark).collect()
        }
        assert snap == model
        if not pruned[0]:
            assert t.active_files() == t.active_files(use_checkpoint=False)
        mc = t.count_snapshot()
        assert mc is None or mc == len(model)

    for step in range(24):
        op = rng.choice(
            ["append", "append", "delete", "delete", "compact",
             "overwrite", "rename", "gc"]
        )
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            t.commit(df_for(rows))
            model.update(dict(rows))
        elif op == "delete" and model:
            doomed = rng.sample(
                sorted(model), rng.randint(1, min(3, len(model)))
            )
            t.delete_mor(spark, F.col("id").isin(doomed), "id")
            for d in doomed:
                model.pop(d)
        elif op == "compact" and model:
            t.commit_replace(
                t.read_snapshot(spark).coalesce(1),
                remove=t.active_files(),
            )
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 3))
            t.commit(df_for(rows), "overwrite")
            model = dict(rows)
        elif op == "rename":
            new = "w" if val_col == "v" else "v"
            t.rename_column(val_col, new)
            val_col = new
        elif op == "gc":
            latest = t._next_version() - 1
            t.vacuum(latest)
            if t.prune_log(latest):
                pruned[0] = True
        check()
    assert model, "the sequence should end non-empty (seed-dependent)"


def test_tags_pin_vacuum_and_resolve_by_name(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"), "overwrite")
    t.create_tag("golden", 0)
    with pytest.raises(ValueError, match="already pins"):
        t.create_tag("golden", 1)
    with pytest.raises(ValueError, match="cannot tag"):
        t.create_tag("future", 99)
    with pytest.raises(ValueError, match="unknown tag"):
        t.read_snapshot(spark, "ghost")
    # vacuum keeps the tagged bytes below the horizon
    assert t.vacuum(t._next_version() - 1) == []
    assert sorted(r["id"] for r in t.read_snapshot(spark, "golden").collect()) == [1, 2]
    # restore resolves tag names too (active_files goes through the fold)
    t.restore(0)
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2]
    # drop releases: the next vacuum reaps v0's files once untagged+dead
    t.commit(spark.createDataFrame([(7, "q")], "id long, v string"), "overwrite")
    t.drop_tag("golden")
    with pytest.raises(ValueError, match="no tag"):
        t.drop_tag("golden")
    assert t.vacuum(t._next_version() - 1), "released bytes must be reapable"


def test_tags_survive_checkpoint_and_prune(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(spark.createDataFrame([(1, "a")], "id long, v string"))  # v0
    t.commit(spark.createDataFrame([(2, "b")], "id long, v string"))  # v1 ckpt
    t.create_tag("pin", 1)  # v2
    for i in range(3, 6):
        t.commit(
            spark.createDataFrame([(i, "x")], "id long, v string"), "overwrite"
        )
    latest = t._next_version() - 1
    t.vacuum(latest)
    t.prune_log(latest)
    # the tag state AND its version's reconstruction both survived
    assert t.list_tags() == {"pin": 1}
    assert sorted(r["id"] for r in t.read_snapshot(spark, "pin").collect()) == [1, 2]
    # prune never advanced past the tag: version arithmetic intact
    v = t.commit(spark.createDataFrame([(9, "y")], "id long, v string"))
    assert v == latest + 1


def test_upsert_mor_replaces_and_inserts_without_rewrites(spark, tmp_path):
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"old{i}") for i in range(6)], "id long, v string"
        ).repartition(3)
    )
    files_before = set(t.active_files())
    delta = spark.createDataFrame(
        [(2, "NEW2"), (4, "NEW4"), (100, "INS")], "id long, v string"
    ).coalesce(1)
    v = t.upsert_mor(spark, delta, "id")
    # nothing removed or rewritten; only the delta's files added
    assert files_before < set(t.active_files())
    assert not (files_before - set(t.active_files()))
    got = {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()}
    assert got == {
        0: "old0", 1: "old1", 2: "NEW2", 3: "old3", 4: "NEW4",
        5: "old5", 100: "INS",
    }
    # time travel below the upsert shows the old rows
    assert {
        r["id"]: r["v"] for r in t.read_snapshot(spark, v - 1).collect()
    }[2] == "old2"
    # metadata count: 6 - 2 dv'd + 3 new = 7 (stats-free -> None ok)
    mc = t.count_snapshot()
    assert mc is None or mc == 7
    # the upserted key survives its own DV (file-scoped anti-join);
    # a second upsert of the SAME key replaces the replacement
    t.upsert_mor(
        spark,
        spark.createDataFrame([(2, "NEWER2")], "id long, v string"),
        "id",
    )
    assert {
        r["id"]: r["v"] for r in t.read_snapshot(spark).collect()
    }[2] == "NEWER2"
    # validation: ambiguous delta
    with pytest.raises(ValueError, match="not unique in the delta"):
        t.upsert_mor(
            spark,
            spark.createDataFrame([(1, "a"), (1, "b")], "id long, v string"),
            "id",
        )
    # compaction materializes all DVs away, state unchanged
    before = {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()}
    t.commit_replace(t.read_snapshot(spark).coalesce(1), remove=t.active_files())
    assert not t._fold_state().dvs
    assert {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()} == before


def test_upsert_mor_change_feed_and_checkpoint(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )  # v0
    t.upsert_mor(
        spark,
        spark.createDataFrame([(2, "B2"), (9, "i")], "id long, v string"),
        "id",
    )  # v1 -> ckpt
    ch = t.read_changes(spark, 0, 1)
    got = sorted((r["id"], r["v"], r["change_type"]) for r in ch.collect())
    # the replaced row deletes; the new version + pure insert arrive
    assert got == [(2, "B2", "insert"), (2, "b", "delete"), (9, "i", "insert")]
    t.prune_log(1)
    assert {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()} == {
        1: "a", 2: "B2", 3: "c", 9: "i",
    }


def test_cdf_update_images_pair_replaced_keys_only(spark, tmp_path):
    """read_changes_with_images: a key leaving AND arriving in the
    range is an update pair; a key only leaving stays delete; a key
    only arriving stays insert; a table with no MoR key returns the
    plain feed unchanged."""
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )  # v0
    t.delete_mor(spark, F.col("id") == 3, "id")  # v1: pure delete
    t.upsert_mor(
        spark,
        spark.createDataFrame([(2, "B2"), (9, "i")], "id long, v string"),
        "id",
    )  # v2: update (2) + insert (9)
    ch = t.read_changes_with_images(spark, 0, 2)
    got = sorted((r["id"], r["v"], r["change_type"]) for r in ch.collect())
    assert got == [
        (2, "B2", "update_postimage"),
        (2, "b", "update_preimage"),
        (3, "c", "delete"),
        (9, "i", "insert"),
    ]
    # no MoR key -> plain feed passthrough
    t2 = _mk(spark, tmp_path / "plain", [(1, "a")])
    t2.commit(spark.createDataFrame([(2, "b")], "id long, v string"))
    plain = t2.read_changes_with_images(spark, 0, 1)
    assert [r["change_type"] for r in plain.collect()] == ["insert"]


def test_drop_column_refuses_live_dv_key(spark, tmp_path):
    """r10 ADVICE fix: dropping the live DV key column with
    outstanding deletion vectors would make every subsequent read and
    compaction raise inside _read_files (the anti-join projects the
    key) — the table would be unrecoverable via the public API."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "id long, v string, w long",
        )
    )
    t.delete_mor(spark, F.col("id") == 2, "id")
    with pytest.raises(ValueError, match="deletion-vector key"):
        t.drop_column("id")
    # the RENAMED presentation of the key is refused too
    t.rename_column("id", "doc_id")
    with pytest.raises(ValueError, match="deletion-vector key"):
        t.drop_column("doc_id")
    # other columns still droppable; after compaction the key drops
    t.drop_column("w")
    t.commit_replace(t.read_snapshot(spark).coalesce(1), remove=t.active_files())
    v = t.drop_column("doc_id")
    assert t.read_snapshot(spark).columns == ["v"]
    assert t.read_snapshot(spark, v - 1).count() == 2


def test_mor_conflict_check_keys_files_and_adds(spark, tmp_path):
    """Delta-style MoR write-write conflicts (r10 ADVICE fix): a
    commit in the (targeting, publish] window that carries DVs on the
    same keys/files, or ADDS files containing the same keys, must
    fail the publish loudly."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)], "id long, v string"
        ).repartition(2)
    )  # v0
    base = t._next_version() - 1
    targeted = set(t.active_files())
    # racer 1: upsert_mor replaces key 2 (DV + new file) at v1
    t.upsert_mor(
        spark, spark.createDataFrame([(2, "B2")], "id long, v string"), "id"
    )
    # same keys -> conflict
    with pytest.raises(ValueError, match="conflict race"):
        t._mor_conflict_check(spark, base, "id", [2], set())
    # same files (different keys) -> conflict
    with pytest.raises(ValueError, match="conflict race"):
        t._mor_conflict_check(spark, base, "id", [99], targeted)
    # racer 2: a plain blind APPEND of key 7 (no DV payload at all) at
    # v2 — a stale MoR targeting of key 7 would miss the new file
    t.commit(spark.createDataFrame([(7, "n7")], "id long, v string"))
    with pytest.raises(ValueError, match="added files"):
        t._mor_conflict_check(spark, base + 1, "id", [7], set())
    # disjoint keys and files -> clean
    t._mor_conflict_check(spark, base, "id", [99], set())


def test_mor_conflict_detected_end_to_end(spark, tmp_path):
    """Interleaved-writer proof: a racer committing an upsert of the
    SAME key between this delete's targeting snapshot and its publish
    must fail the delete (previously both published silently)."""
    import pytest

    path = str(tmp_path / "tbl")
    t = TxLogTable(path)
    t.commit(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        )
    )
    racer = TxLogTable(path)
    real = t._next_version
    state = {"calls": 0, "injected": False}

    def hooked():
        v = real()
        state["calls"] += 1
        if state["calls"] == 2 and not state["injected"]:
            # between targeting and publish: racer replaces key 2
            state["injected"] = True
            racer.upsert_mor(
                spark,
                spark.createDataFrame([(2, "B2")], "id long, v string"),
                "id",
            )
            return real()
        return v

    t._next_version = hooked
    with pytest.raises(ValueError, match="conflict race"):
        t.delete_mor(spark, F.col("id") == 2, "id")
    # the racer's commit is intact; key 2 shows its replaced value
    assert sorted(
        (r["id"], r["v"]) for r in racer.read_snapshot(spark).collect()
    ) == [(1, "a"), (2, "B2"), (3, "c")]


def test_create_tag_refuses_unreconstructible_versions(spark, tmp_path):
    """r10 ADVICE fix: tagging a version below a prune_log anchor used
    to fold to a silently-EMPTY state (vacuous contiguity), so the tag
    pinned nothing; tagging a vacuumed version pinned deleted bytes."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    for i in range(6):  # v0..v5, checkpoints at 1, 3, 5
        t.commit(
            spark.createDataFrame([(i, f"r{i}")], "id long, v string"),
            "overwrite" if i == 3 else "append",
        )
    t.vacuum(4)
    t.prune_log(4)
    assert not os.path.exists(os.path.join(t.log_dir, "0.json"))
    with pytest.raises(ValueError, match="reconstructible"):
        t.create_tag("ancient", 0)
    # at/above the anchor still taggable and readable by name
    t.create_tag("ok", 4)
    assert t.read_snapshot(spark, "ok").count() == 2  # v3 overwrite + v4
    # vacuumed-files case (no prune): fresh table, overwrite, vacuum
    t2 = TxLogTable(str(tmp_path / "tbl2"))
    t2.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    t2.commit(
        spark.createDataFrame([(9, "z")], "id long, v string"), "overwrite"
    )
    t2.vacuum(1)
    with pytest.raises(ValueError, match="vacuumed"):
        t2.create_tag("dead", 0)


def test_dv_read_survives_percent_encoded_table_path(spark, tmp_path):
    """r10 ADVICE fix: _metadata.file_path is a URI — a table path
    with a space arrives percent-encoded, and the read-side DV
    anti-join must decode it exactly like the driver-side targeting
    (before the fix, deleted rows silently resurfaced in scans while
    count_snapshot still subtracted them). The path also carries a
    literal `+` (URLDecoder would map it to a space) and `%`. Both
    JSON-portable key types run through the Arrow-built DV relation
    (its key field takes the scanned column's type), for snapshot and
    change-feed reads; a NULL delta key is one distinct value (a blind
    insert), not a uniqueness breach."""
    for ktype, key in (("int", int), ("string", str)):
        t = TxLogTable(str(tmp_path / f"tbl {ktype} a+b%c"))
        schema = f"id {ktype}, v string"
        t.commit(
            spark.createDataFrame([(key(i), f"r{i}") for i in range(5)], schema),
            stats_cols=["id"],
        )
        v = t.delete_mor(spark, F.col("id").isin(key(1), key(3)), "id")
        got = sorted(r["id"] for r in t.read_snapshot(spark).collect())
        assert got == [key(0), key(2), key(4)], (
            "DV anti-join must survive URI encoding"
        )
        assert t.count_snapshot() == 3
        ch = t.read_changes(spark, v - 1, v)
        assert sorted(r["id"] for r in ch.collect()) == [key(1), key(3)]
        # upsert through the same path
        t.upsert_mor(
            spark,
            spark.createDataFrame([(key(2), "NEW"), (None, "NUL")], schema),
            "id",
        )
        rows = dict(
            (r["id"], r["v"]) for r in t.read_snapshot(spark).collect()
        )
        assert rows == {key(0): "r0", key(2): "NEW", key(4): "r4", None: "NUL"}


def test_dv_reads_broadcast_a_local_relation_keyed_on_the_key(spark, tmp_path):
    """Plan tripwire for the DV join: after a delete_mor, the snapshot
    and change-feed reads broadcast the inline DV pairs from a
    LocalTableScan (a list-built pickled-row RDD shows as `Scan
    ExistingRDD` and costs a broadcast job through a Python worker),
    and the join hashes on the key column alone — the source-file
    match must stay in the residual condition, which the planner
    would otherwise lift into the hash keys."""
    import re

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)], "id long, v string"
        )
    )
    v = t.delete_mor(spark, F.col("id").isin(1, 4), "id")
    for df in (t.read_snapshot(spark), t.read_changes(spark, v - 1, v)):
        df.collect()  # the executed plan string then holds the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan
        assert re.search(
            r"BroadcastExchange [^\n]*\n\s*\+- LocalTableScan", plan
        ), plan
        keys = re.findall(r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\]", plan)
        assert keys, plan
        for left, right in keys:
            assert re.fullmatch(r"id#\d+L?", left), plan
            assert re.fullmatch(r"__dv_key#\d+L?", right), plan


def test_bulk_upsert_mor_sidecar_roundtrip(spark, tmp_path):
    """Bulk MoR (r10 verdict fix #1): past inline_max the DV keys land
    in a _dv/ sidecar parquet (the log entry holds per-file COUNTS
    only) and every read/count/travel/compaction behaves exactly like
    the inline form."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=3)
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(2000)], "id long, v string"
        ).repartition(4),
        stats_cols=["id"],
    )  # v0
    delta = spark.createDataFrame(
        [(i, f"NEW{i}") for i in range(500, 1500)]  # 1000 replaced
        + [(i, f"INS{i}") for i in range(5000, 5200)],  # 200 inserted
        "id long, v string",
    )
    t.upsert_mor(spark, delta, "id", stats_cols=["id"], inline_max=100)
    e = t.entries()[-1]
    assert "sidecar" in e["dv"], "bulk path must write a sidecar"
    assert all(isinstance(n, int) for n in e["dv"]["files"].values())
    assert sum(e["dv"]["files"].values()) == 1000
    st = t._fold_state()
    assert st.dv_side and not st.dvs
    # read correctness: replaced rows show new values, inserts appear
    rows = {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()}
    assert len(rows) == 2200
    assert rows[500] == "NEW500" and rows[499] == "r499"
    assert rows[5100] == "INS5100"
    # metadata count subtracts sidecar counts
    assert t.count_snapshot() == 2200
    # time travel below the upsert shows the old rows
    assert t.read_snapshot(spark, 0).count() == 2000
    # checkpoint + prune fold the sidecar state (v2 -> ckpt at v2)
    t.commit(spark.createDataFrame([(9999, "x")], "id long, v string"),
             stats_cols=["id"])  # v2 -> checkpoint
    t.vacuum(2, sidecar_ttl=0.0)
    t.prune_log(2)
    assert t.count_snapshot() == 2201
    rows2 = {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()}
    assert rows2[700] == "NEW700" and rows2[1499] == "NEW1499"
    # live sidecar survives a vacuum with ttl=0 (it is referenced)
    assert t._fold_state().dv_side
    # compaction materializes: DV state empties, snapshot unchanged
    before = sorted((r["id"], r["v"]) for r in t.read_snapshot(spark).collect())
    t.commit_replace(t.read_snapshot(spark).coalesce(2),
                     remove=t.active_files())
    st2 = t._fold_state()
    assert not st2.dvs and not st2.dv_side
    after = sorted((r["id"], r["v"]) for r in t.read_snapshot(spark).collect())
    assert before == after
    # the dead sidecar is reaped only by vacuum (ttl=0 forces it now)
    dead = t.vacuum(t._next_version() - 1, sidecar_ttl=0.0)
    assert any(f.startswith("_dv/") for f in dead)
    assert not os.path.isdir(os.path.join(t.path, "_dv")) or not os.listdir(
        os.path.join(t.path, "_dv")
    )


def test_bulk_delete_mor_sidecar_and_change_feed(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, i % 7) for i in range(1000)], "id long, grp long"
        ).repartition(3),
        stats_cols=["id"],
    )  # v0
    t.delete_mor(spark, F.col("id") % 2 == 0, "id", inline_max=50)  # v1
    e = t.entries()[-1]
    assert "sidecar" in e["dv"] and sum(e["dv"]["files"].values()) == 500
    assert t.read_snapshot(spark).count() == 500
    assert t.count_snapshot() == 500
    assert {r["id"] % 2 for r in t.read_snapshot(spark).collect()} == {1}
    # change feed: the 500 dv-deleted rows surface as deletes
    ch = t.read_changes(spark, 0, 1)
    got = ch.groupBy("change_type").count().collect()
    assert {(r["change_type"], r["count"]) for r in got} == {("delete", 500)}
    # a second bulk delete composes (sidecar + sidecar)
    t.delete_mor(spark, F.col("id").isin(1, 3, 5), "id", inline_max=1)
    assert t.count_snapshot() == 497
    assert t.dv_debt()["sidecars"] == 2


def test_bulk_and_inline_dvs_compose(spark, tmp_path):
    """A trickle (inline) delete over a table already carrying a bulk
    sidecar must fold both forms into one anti-join."""
    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(400)], "id long, v string"
        ),
        stats_cols=["id"],
    )
    t.delete_mor(spark, F.col("id") < 200, "id", inline_max=10)  # sidecar
    t.delete_mor(spark, F.col("id") == 300, "id")  # inline
    st = t._fold_state()
    assert st.dv_side and st.dvs
    assert t.count_snapshot() == 199
    ids = {r["id"] for r in t.read_snapshot(spark).collect()}
    assert 300 not in ids and 100 not in ids and 350 in ids
    assert t.dv_debt()["dv_rows"] == 201


def test_dv_debt_advisory_fires_and_clears(spark, tmp_path):
    """r10 verdict fix #2: trickle upserts accumulate read-tax; the
    advisory names the compact-now moment; OPTIMIZE provably clears it
    with the snapshot unchanged."""
    t = TxLogTable(str(tmp_path / "tbl"))
    t.DV_COMPACT_ADVISORY = 5  # instance-scoped threshold for the test
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(20)], "id long, v string"
        ),
        stats_cols=["id"],
    )
    assert t.dv_debt() == {
        "dv_rows": 0, "dv_files": 0, "sidecars": 0,
        "will_broadcast": True, "advise_compact": False,
    }
    for i in range(3):
        t.upsert_mor(
            spark,
            spark.createDataFrame(
                [(j, f"u{i}-{j}") for j in range(i * 2, i * 2 + 2)],
                "id long, v string",
            ),
            "id",
        )
    debt = t.dv_debt()
    assert debt["dv_rows"] == 6 and debt["advise_compact"] is True
    before = sorted(
        (r["id"], r["v"]) for r in t.read_snapshot(spark).collect()
    )
    t.commit_replace(t.read_snapshot(spark).coalesce(1),
                     remove=t.active_files())
    debt2 = t.dv_debt()
    assert debt2["dv_rows"] == 0 and debt2["advise_compact"] is False
    after = sorted(
        (r["id"], r["v"]) for r in t.read_snapshot(spark).collect()
    )
    assert before == after


def test_clone_carries_sidecar_dvs(spark, tmp_path):
    """A shallow clone of a table with bulk sidecar DVs materializes
    ONE re-keyed sidecar it owns — reads agree with the source and the
    source's vacuum cannot break the clone."""
    src = TxLogTable(str(tmp_path / "src"))
    src.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(300)], "id long, v string"
        ),
        stats_cols=["id"],
    )
    src.delete_mor(spark, F.col("id") < 100, "id", inline_max=10)  # sidecar
    src.delete_mor(spark, F.col("id") == 200, "id")  # inline too
    from lightcurator_spark.sources.txlog import clone_from

    cl = clone_from(src, str(tmp_path / "cl"))
    want = sorted(r["id"] for r in src.read_snapshot(spark).collect())
    got = sorted(r["id"] for r in cl.read_snapshot(spark).collect())
    assert got == want and len(got) == 199
    assert cl.count_snapshot() == 199
    # clone owns its sidecar: source vacuum (ttl=0) leaves clone intact
    src.vacuum(src._next_version() - 1, sidecar_ttl=0.0)
    assert sorted(r["id"] for r in cl.read_snapshot(spark).collect()) == want


def test_partition_spec_evolution_lifecycle(spark, tmp_path):
    """Spec evolution: metadata-only changes, per-spec layouts coexist
    in one read, pruning follows each file's OWN stats, the current
    spec folds through checkpoint+prune, and [] returns the table to
    plain appends."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=3)
    rows = [(i, ["a", "b", "c"][i % 3], i % 5) for i in range(90)]
    df = spark.createDataFrame(rows, "id long, cat string, grp long")
    t.commit(df.filter("id < 30"), "append", stats_cols=["id"])  # v0
    with pytest.raises(ValueError, match="not a current logical"):
        t.set_partition_spec(["nope"])
    t.set_partition_spec(["cat"])  # v1
    t.append_partitioned(spark, df.filter("id >= 30 and id < 60"))  # v2
    t.set_partition_spec(["grp"])  # v3 -> checkpoint at v3? (interval 3)
    t.append_partitioned(spark, df.filter("id >= 60"))  # v4
    assert [v for v, _ in t.partition_spec_history()] == [1, 3]
    assert t.read_snapshot(spark).count() == 90
    # per-file pruning follows each spec generation's own stats
    kept_cat, skip_cat = t.prune_files("cat", "a", "a")
    assert skip_cat, "cat-spec files of other cats must skip"
    kept_grp, skip_grp = t.prune_files("grp", 2, 2)
    assert skip_grp, "grp-spec files of other grps must skip"
    # census survives checkpoint+prune with the spec intact
    t.vacuum(4)
    t.prune_log(4)
    assert t._fold_state().pspec == ("grp",)
    assert t.read_snapshot(spark).count() == 90
    # empty spec -> plain appends again
    t.set_partition_spec([])
    v = t.append_partitioned(spark, spark.createDataFrame(
        [(1000, "z", 9)], "id long, cat string, grp long"))
    assert t.read_snapshot(spark).count() == 91
    # a RENAME after the spec keeps pruning working (physical names)
    t2 = TxLogTable(str(tmp_path / "tbl2"))
    t2.commit(df.limit(10), "append")
    t2.set_partition_spec(["cat"])
    t2.rename_column("cat", "category")
    t2.append_partitioned(
        spark,
        spark.createDataFrame(
            [(500, "zz", 1)], "id long, category string, grp long"
        ),
    )
    assert t2.partition_spec_history()[-1][1] == ["category"]
    kept, skipped = t2.prune_files("category", "zz", "zz")
    assert len(kept) >= 1
    assert t2.read_snapshot(spark).filter("category = 'zz'").count() == 1


def test_commit_schema_enforcement_and_merge(spark, tmp_path):
    """r11 writer contract: an append that forks the schema raises;
    merge_schema=True widens atomically (new column rides in the data
    commit, old files read it as the NULL default); type conflicts
    always raise; absent ADDED columns stay legal (presence-decided);
    absent BASE columns are filled as typed NULLs only under merge."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit(spark.createDataFrame([(3, "c")], "id long, w string"))
    with pytest.raises(ValueError, match="type conflict"):
        t.commit(spark.createDataFrame([(3, 4)], "id long, v long"))
    # widen: one atomic commit carries files + add_column payload
    v = t.commit(
        spark.createDataFrame(
            [(3, "c", 9)], "id long, v string, score long"
        ),
        merge_schema=True,
    )
    e = t.entries()[-1]
    assert e["add"] and e.get("add_column", {}).get("score")
    rows = {r["id"]: (r["v"], r["score"]) for r in t.read_snapshot(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9)}
    # time travel below the widening does not show the column
    assert "score" not in t.read_snapshot(spark, v - 1).columns
    # absent ADDED column stays legal without merge_schema
    t.commit(spark.createDataFrame([(4, "d")], "id long, v string"))
    assert t.read_snapshot(spark).filter("id = 4").collect()[0]["score"] is None
    # absent BASE column needs merge_schema and fills typed NULL
    with pytest.raises(ValueError, match="schema mismatch"):
        t.commit(spark.createDataFrame([(5,)], "id long"))
    t.commit(spark.createDataFrame([(5,)], "id long"), merge_schema=True)
    r5 = t.read_snapshot(spark).filter("id = 5").collect()[0]
    assert r5["v"] is None and r5["score"] is None
    # re-adding a dropped column is still refused through merge
    t.drop_column("score")
    with pytest.raises(ValueError, match="dropped"):
        t.commit(
            spark.createDataFrame([(6, "e", 1)], "id long, v string, score long"),
            merge_schema=True,
        )


def test_maintenance_plan_fires_applies_and_clears(spark, tmp_path):
    """maintenance_plan: trickle churn raises small-file and DV debt,
    a long history raises the log debt; applying compact → vacuum →
    prune_log clears all three with the snapshot unchanged."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=5)
    t.SMALL_FILE_MAX = 3
    t.DV_COMPACT_ADVISORY = 4
    t.LOG_ENTRY_MAX = 8
    for i in range(6):  # six 1-row appends: small files + entries
        t.commit(
            spark.createDataFrame([(i, f"r{i}")], "id long, v string"),
            stats_cols=["id"],
        )
    for i in range(3):  # trickle upserts: DV debt
        t.upsert_mor(
            spark,
            spark.createDataFrame(
                [(j, f"u{i}-{j}") for j in (2 * i, 2 * i + 1)],
                "id long, v string",
            ),
            "id",
        )
    plan = t.maintenance_plan()
    assert plan["compact"] and plan["prune_log"]
    assert plan["small_files"] > 3 and plan["dv_rows"] == 6
    assert any("dv_rows" in r for r in plan["compact_reasons"])
    assert any("open tax" in r for r in plan["compact_reasons"])
    before = sorted(
        (r["id"], r["v"]) for r in t.read_snapshot(spark).collect()
    )
    # apply in the documented order
    t.commit_replace(
        t.read_snapshot(spark).coalesce(1),
        remove=t.active_files(),
        stats_cols=["id"],
    )
    horizon = t._next_version() - 1
    t.vacuum(horizon, sidecar_ttl=0.0)
    t.prune_log(horizon)
    plan2 = t.maintenance_plan()
    assert not plan2["compact"] and not plan2["prune_log"]
    assert plan2["dv_rows"] == 0 and plan2["small_files"] <= 1
    after = sorted(
        (r["id"], r["v"]) for r in t.read_snapshot(spark).collect()
    )
    assert before == after, "maintenance must never change the snapshot"


def test_upsert_and_partitioned_appends_are_schema_enforced(
    spark, tmp_path
):
    """r12 (r11 ADVICE medium): the writer-side schema contract must
    bind EVERY append-shaped path, not just commit() — a misspelled or
    type-conflicting upsert_mor delta / append_partitioned insert
    previously forked the footer groups silently."""
    import pytest

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    # upsert_mor: misspelled column raises, type conflict raises
    with pytest.raises(ValueError, match="schema mismatch"):
        t.upsert_mor(
            spark, spark.createDataFrame([(1, "x")], "id long, w string"), "id"
        )
    with pytest.raises(ValueError, match="type conflict"):
        t.upsert_mor(
            spark, spark.createDataFrame([(1, 7)], "id long, v long"), "id"
        )
    # merge_schema widens atomically through the upsert entry
    t.upsert_mor(
        spark,
        spark.createDataFrame(
            [(2, "B", 9), (3, "c", 1)], "id long, v string, score long"
        ),
        "id",
        merge_schema=True,
    )
    assert t.entries()[-1].get("add_column", {}).get("score")
    rows = {
        r["id"]: (r["v"], r["score"])
        for r in t.read_snapshot(spark).collect()
    }
    assert rows == {1: ("a", None), 2: ("B", 9), 3: ("c", 1)}
    # append_partitioned under a live spec: same enforcement
    t2 = TxLogTable(str(tmp_path / "tbl2"))
    t2.commit(
        spark.createDataFrame([(1, "a", 0)], "id long, cat string, grp long")
    )
    t2.set_partition_spec(["cat"])
    with pytest.raises(ValueError, match="schema mismatch"):
        t2.append_partitioned(
            spark,
            spark.createDataFrame(
                [(2, "b", 1, 5.0)],
                "id long, cat string, grp long, junk double",
            ),
        )
    t2.append_partitioned(
        spark,
        spark.createDataFrame(
            [(2, "b", 1, 5.0)],
            "id long, cat string, grp long, w double",
        ),
        merge_schema=True,
    )
    got = {
        r["id"]: r["w"] for r in t2.read_snapshot(spark).collect()
    }
    assert got == {1: None, 2: 5.0}


def test_enforcement_baseline_is_version_ordered(spark, tmp_path):
    """r12 (r11 ADVICE low): the baseline footer must come from the
    NEWEST commit by version, not the lexicographically-last path
    ('v9-…' sorts after 'v10-…'). Build 11 commits so v9 exists next
    to v10 and verify the parser orders them correctly, then prove
    enforcement accepts an append matching the widened schema that
    only the NEWEST file carries physically."""
    assert TxLogTable._file_commit_version("v9-abcd/part-0.parquet") == 9
    assert TxLogTable._file_commit_version("v10-abcd/part-0.parquet") == 10
    assert (
        max(
            ["v9-zzzz/f.parquet", "v10-aaaa/f.parquet"],
            key=TxLogTable._file_commit_version,
        )
        == "v10-aaaa/f.parquet"
    )
    t = TxLogTable(str(tmp_path / "tbl"))
    for i in range(10):  # v0..v9
        t.commit(spark.createDataFrame([(i, "x")], "id long, v string"))
    # v10 widens; its files are the only ones physically carrying w
    t.commit(
        spark.createDataFrame([(10, "y", 1)], "id long, v string, w long"),
        merge_schema=True,
    )
    # a follow-up append carrying w must be accepted WITHOUT merge
    # (w is now an added column of record; under the old sorted()
    # sample the baseline could be the v9 footer, which also works —
    # the pinned parser above is the actual regression guard)
    t.commit(
        spark.createDataFrame([(11, "z", 2)], "id long, v string, w long")
    )
    assert t.read_snapshot(spark).count() == 12


def test_branch_write_isolation_both_directions(spark, tmp_path):
    """s46: branch commits are invisible to main; main commits after
    the fork are invisible to the branch — both directions, including
    time travel on each ref."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    br = t.create_branch("exp")
    # branch writes: an append and a CoW-style overwrite stay off main
    br.commit(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert sorted(r["id"] for r in br.read_snapshot(spark).collect()) == [
        1, 2, 3,
    ]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2]
    # main writes after the fork stay off the branch
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"))
    assert sorted(r["id"] for r in br.read_snapshot(spark).collect()) == [
        1, 2, 3,
    ]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [
        1, 2, 9,
    ]
    assert t.list_branches()["exp"]["base"] == br.base_version


def test_branch_fast_forward_merge_and_conflict(spark, tmp_path):
    """s46: fast-forward publishes the branch's net effect as one
    atomic main commit (and releases the pin tag in the same entry);
    a main that moved past the fork raises loudly."""
    import pytest

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    br = t.create_branch("exp")
    br.commit(spark.createDataFrame([(3, "c")], "id long, v string"))
    br.commit(
        spark.createDataFrame([(4, "d", 7)], "id long, v string, w long"),
        merge_schema=True,
    )
    assert f"__branch_exp" in t.list_tags()
    v = t.merge_branch("exp")
    rows = {
        r["id"]: (r["v"], r["w"]) for r in t.read_snapshot(spark).collect()
    }
    assert rows == {
        1: ("a", None), 2: ("b", None), 3: ("c", None), 4: ("d", 7),
    }
    assert "__branch_exp" not in t.list_tags(), "pin released atomically"
    # time travel below the merge shows pre-merge main
    assert sorted(
        r["id"] for r in t.read_snapshot(spark, v - 1).collect()
    ) == [1, 2]
    # conflict: main moves past a new fork -> loud refusal
    br2 = t.create_branch("exp2")
    br2.commit(spark.createDataFrame([(5, "e")], "id long, v string"))
    t.commit(spark.createDataFrame([(6, "f")], "id long, v string"))
    with pytest.raises(ValueError, match="fast-forward impossible"):
        t.merge_branch("exp2")
    # the branch itself still reads consistently after the refusal
    assert sorted(r["id"] for r in br2.read_snapshot(spark).collect()) == [
        1, 2, 3, 4, 5,
    ]


def test_branch_survives_checkpoint_and_prune(spark, tmp_path):
    """s46: branch folds anchor on their own materialized base
    checkpoint, so pruning MAIN's log below the fork cannot break
    branch reads; the pin tag also keeps main's fork point
    reconstructable (the s38 retention contract)."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    for i in range(6):
        t.commit(spark.createDataFrame([(i, "x")], "id long, v string"))
    br = t.create_branch("exp")
    br.commit(spark.createDataFrame([(100, "y")], "id long, v string"))
    # advance main legitimately after... no — keep fast-forwardable:
    # prune main's log hard (pin tag bounds the anchor)
    t.vacuum(t._next_version() - 1)
    t.prune_log(t._next_version() - 1)
    assert br.read_snapshot(spark).count() == 7
    # branch checkpoints work too: enough branch commits to roll one
    for i in range(3):
        br.commit(
            spark.createDataFrame([(200 + i, "z")], "id long, v string")
        )
    assert br.read_snapshot(spark).count() == 10
    v = t.merge_branch("exp")
    assert t.read_snapshot(spark, v).count() == 10


def test_branch_mor_delete_merges_back(spark, tmp_path):
    """s46 × S34: a MoR delete committed ON the branch rides the
    fast-forward as a DV payload — merged main must not show the
    deleted row, while pre-merge main still does."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    br = t.create_branch("exp")
    br.delete_mor(spark, F.col("id") == 2, "id")
    assert sorted(r["id"] for r in br.read_snapshot(spark).collect()) == [
        1, 3,
    ]
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [
        1, 2, 3,
    ]
    v = t.merge_branch("exp")
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [
        1, 3,
    ]
    assert sorted(
        r["id"] for r in t.read_snapshot(spark, v - 1).collect()
    ) == [1, 2, 3]


def test_drop_branch_reaps_only_branch_files(spark, tmp_path):
    """s46: dropping an unmerged branch deletes the data files only
    its own log referenced and releases the pin; main is untouched."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b")])
    br = t.create_branch("dead_end")
    br.commit(spark.createDataFrame([(3, "c")], "id long, v string"))
    deleted = t.drop_branch("dead_end")
    assert deleted, "branch-only files must be reaped"
    assert "__branch_dead_end" not in t.list_tags()
    assert "dead_end" not in t.list_branches()
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [1, 2]


def test_bloom_point_prune_no_false_negatives_and_skips(spark, tmp_path):
    """s47: a committed value's file is ALWAYS kept (Bloom errors are
    one-sided); absent probe values skip most files; point read equals
    the full-scan filter for present and absent keys alike."""
    t = TxLogTable(str(tmp_path / "tbl"))
    rows = [(i, f"u{i % 7}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, tag string")
    # 4 files, ids interleaved so zone maps are useless for points
    t.commit(
        df.repartition(4, F.col("tag")),
        stats_cols=["id"],
        bloom_cols=["id"],
    )
    # no false negatives: every present key's owning file is kept
    import pyarrow.parquet as pq
    import os as _os

    owner = {}
    for f in t.active_files():
        for v in pq.read_table(
            _os.path.join(t.path, f), columns=["id"]
        ).column("id").to_pylist():
            owner[v] = f
    for probe in (0, 7, 123, 399):
        kept, _ = t.prune_files_point("id", probe)
        assert owner[probe] in kept, f"false negative for id={probe}"
        got = sorted(
            tuple(r) for r in t.read_snapshot_point(spark, "id", probe).collect()
        )
        want = sorted(
            tuple(r)
            for r in t.read_snapshot(spark)
            .filter(F.col("id") == probe)
            .collect()
        )
        assert got == want and len(got) == 1
    # absent keys: most files skipped, read returns empty == filter
    skipped_total = 0
    for probe in (1000, 5555, 987654):
        kept, skipped = t.prune_files_point("id", probe)
        skipped_total += len(skipped)
        assert (
            t.read_snapshot_point(spark, "id", probe).count() == 0
        )
    assert skipped_total >= 9, (
        f"Bloom skipped only {skipped_total}/12 file-probes for absent keys"
    )


def test_bloom_stats_survive_checkpoint_and_prune(spark, tmp_path):
    """s47 × s20d/f: Bloom bits are stats — they must fold through
    checkpoints and keep pruning after the pre-anchor log is gone."""
    t = TxLogTable(str(tmp_path / "tbl"), checkpoint_interval=2)
    for batch in range(4):
        rows = [(batch * 100 + i, "x") for i in range(100)]
        t.commit(
            spark.createDataFrame(rows, "id long, tag string"),
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    t.prune_log(t._next_version() - 1)
    kept, skipped = t.prune_files_point("id", 250)
    assert skipped, "post-prune fold lost the Bloom stats"
    assert t.read_snapshot_point(spark, "id", 250).count() == 1


def _pair(spark, tmp_path):
    from lightcurator_spark.sources.txlog import TxLogTable

    fact = TxLogTable(str(tmp_path / "fact"))
    idx = TxLogTable(str(tmp_path / "idx"))
    fact.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    idx.commit(spark.createDataFrame([(1, 1), (2, 1)], "id long, n long"))
    return fact, idx


def test_multi_table_txn_torn_write_invisible_everywhere(spark, tmp_path):
    """s48: a crash at EVERY point before the decision leaves both
    tables reading their pre-txn state at every version."""
    import pytest

    from lightcurator_spark.sources.txlog import multi_table_commit

    fact, idx = _pair(spark, tmp_path)
    delta_f = spark.createDataFrame([(3, "c")], "id long, v string")
    delta_i = spark.createDataFrame([(3, 1)], "id long, n long")
    for crash in ("stage", "first_entry", "entries"):
        with pytest.raises(RuntimeError, match="injected crash"):
            multi_table_commit(
                [(fact, delta_f), (idx, delta_i)], _crash_after=crash
            )
        for t in (fact, idx):
            for v in range(t._next_version()):
                ids = sorted(
                    r["id"] for r in t.read_snapshot(spark, v).collect()
                )
                assert 3 not in ids, (
                    f"torn txn ({crash}) visible at {t.path} v{v}"
                )
    # the change feed must not leak in-doubt files either
    assert all(
        r["id"] != 3
        for r in fact.read_changes(spark, -1, None).collect()
    )


def test_multi_table_txn_commit_and_janitor_abort(spark, tmp_path):
    """s48: the success path makes both deltas visible at the
    versions the entries already hold; an expired in-doubt txn is
    aborted by the next checkpoint writer and vacuum reaps its
    bytes."""
    import pytest

    from lightcurator_spark.sources.txlog import (
        _txn_decision, multi_table_commit,
    )

    fact, idx = _pair(spark, tmp_path)
    versions = multi_table_commit(
        [
            (fact, spark.createDataFrame([(3, "c")], "id long, v string")),
            (idx, spark.createDataFrame([(3, 1)], "id long, n long")),
        ]
    )
    assert sorted(r["id"] for r in fact.read_snapshot(spark).collect()) == [
        1, 2, 3,
    ]
    assert sorted(r["id"] for r in idx.read_snapshot(spark).collect()) == [
        1, 2, 3,
    ]
    assert versions[fact.path] == 1 and versions[idx.path] == 1
    # janitor: ttl=0 in-doubt txn is aborted by the next checkpoint
    with pytest.raises(RuntimeError, match="injected crash"):
        multi_table_commit(
            [
                (fact, spark.createDataFrame([(9, "z")], "id long, v string")),
                (idx, spark.createDataFrame([(9, 9)], "id long, n long")),
            ],
            ttl=0.0,
            _crash_after="entries",
        )
    fact._write_checkpoint(fact._next_version() - 1)
    # the abort is now decided; the entry folds as a no-op forever
    e = fact.entries()[-1]
    assert e.get("txn_manifest") is not None
    assert _txn_decision(e["txn_manifest"]) == "abort"
    assert sorted(r["id"] for r in fact.read_snapshot(spark).collect()) == [
        1, 2, 3,
    ]
    # vacuum reaps the aborted files (they are dead by decision)
    reaped = fact.vacuum(fact._next_version() - 1)
    assert any("staged-" in f for f in reaped)
    # late coordinator commit after the janitor's abort fails loudly
    from lightcurator_spark.sources.txlog import _txn_decide

    assert _txn_decide(e["txn_manifest"], "commit") == "abort"


def test_multi_table_txn_inflight_files_survive_vacuum(spark, tmp_path):
    """s48: an in-doubt txn INSIDE its ttl is not dead — vacuum must
    not reap its staged bytes, and a later commit makes them live."""
    import pytest

    from lightcurator_spark.sources.txlog import (
        _txn_decide, multi_table_commit,
    )

    fact, idx = _pair(spark, tmp_path)
    with pytest.raises(RuntimeError, match="injected crash"):
        multi_table_commit(
            [
                (fact, spark.createDataFrame([(7, "g")], "id long, v string")),
                (idx, spark.createDataFrame([(7, 1)], "id long, n long")),
            ],
            ttl=3600.0,
            _crash_after="entries",
        )
    reaped = fact.vacuum(fact._next_version() - 1)
    assert not any("staged-" in f for f in reaped), (
        "vacuum reaped an in-flight txn's bytes"
    )
    # a (recovered) coordinator can still commit — both sides appear
    e = fact.entries()[-1]
    assert _txn_decide(e["txn_manifest"], "commit") == "commit"
    assert sorted(r["id"] for r in fact.read_snapshot(spark).collect()) == [
        1, 2, 7,
    ]
    assert sorted(r["id"] for r in idx.read_snapshot(spark).collect()) == [
        1, 2, 7,
    ]


def test_branch_rebase_then_fast_forward(spark, tmp_path):
    """s46 rebase: a diverged branch (main moved past the fork)
    refuses fast-forward, rebases cleanly onto the new head, then
    fast-forwards — final main = main's moves + branch's moves."""
    import pytest

    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    br = t.create_branch("exp")
    br.commit(spark.createDataFrame([(4, "d")], "id long, v string"))
    br.delete_mor(spark, F.col("id") == 2, "id")
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"))
    with pytest.raises(ValueError, match="fast-forward impossible"):
        t.merge_branch("exp")
    nbr = t.rebase_branch("exp")
    # the rebased branch sees main's move AND its own
    assert sorted(r["id"] for r in nbr.read_snapshot(spark).collect()) == [
        1, 3, 4, 9,
    ]
    assert nbr.entries()[-1].get("rebased_from")
    t.merge_branch("exp")
    assert sorted(r["id"] for r in t.read_snapshot(spark).collect()) == [
        1, 3, 4, 9,
    ]


def test_branch_rebase_conflicts_raise(spark, tmp_path):
    """s46 rebase conflict matrix: both-sides-removed files, DVs
    anchored on files main dropped, and two-sided schema evolution
    each refuse loudly."""
    import pytest

    # (a) both sides overwrote (removed) the same base files
    t = _mk(spark, tmp_path, [(1, "a")])
    br = t.create_branch("exp")
    br.commit(spark.createDataFrame([(5, "e")], "id long, v string"), "overwrite")
    t.commit(spark.createDataFrame([(6, "f")], "id long, v string"), "overwrite")
    with pytest.raises(ValueError, match="both sides rewrote"):
        t.rebase_branch("exp")
    # (b) branch DVs target a file main removed
    t2 = TxLogTable(str(tmp_path / "t2"))
    t2.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    br2 = t2.create_branch("exp")
    br2.delete_mor(spark, F.col("id") == 1, "id")
    t2.commit(spark.createDataFrame([(7, "g")], "id long, v string"), "overwrite")
    with pytest.raises(ValueError, match="no longer carries"):
        t2.rebase_branch("exp")
    # (c) both sides evolved schema
    t3 = TxLogTable(str(tmp_path / "t3"))
    t3.commit(spark.createDataFrame([(1, "a")], "id long, v string"))
    br3 = t3.create_branch("exp")
    br3.add_column("bscore", 0, "long")
    t3.add_column("mscore", 0, "long")
    with pytest.raises(ValueError, match="schema merges are never silent"):
        t3.rebase_branch("exp")


def test_branch_rebase_carries_dvs_and_schema(spark, tmp_path):
    """s46 rebase: one-sided branch schema evolution and fork-new DVs
    ride the rebase squash; merge lands them on main."""
    t = _mk(spark, tmp_path, [(1, "a"), (2, "b"), (3, "c")])
    br = t.create_branch("exp")
    br.delete_mor(spark, F.col("id") == 3, "id")
    br.commit(
        spark.createDataFrame([(4, "d", 7)], "id long, v string, w long"),
        merge_schema=True,
    )
    t.commit(spark.createDataFrame([(9, "z")], "id long, v string"))
    t.rebase_branch("exp")
    t.merge_branch("exp")
    rows = {
        r["id"]: (r["v"], r["w"]) for r in t.read_snapshot(spark).collect()
    }
    assert rows == {
        1: ("a", None), 2: ("b", None), 4: ("d", 7), 9: ("z", None),
    }


def test_fsck_ttl_and_sidecar_classes(spark, tmp_path):
    """s49: an unreferenced file inside the TTL is 'inflight' (never
    repaired); past the TTL it becomes 'orphan'; _dv sidecars classify
    live vs orphan by fold reference."""
    import os as _os
    import time as _time

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    # fresh unreferenced write -> inflight, repair leaves it
    d = _os.path.join(t.path, "v55-feed")
    _os.makedirs(d)
    p = _os.path.join(d, "part-x.parquet")
    with open(p, "wb") as fh:
        fh.write(b"PAR1xPAR1")
    cls = {r["path"]: r["class"] for r in t.fsck_report(ttl=3600.0)}
    assert cls["v55-feed/part-x.parquet"] == "inflight"
    assert t.fsck_repair(ttl=3600.0) == []
    # backdated -> orphan, repaired
    _os.utime(p, (_time.time() - 9999, _time.time() - 9999))
    assert t.fsck_repair(ttl=3600.0) == ["v55-feed/part-x.parquet"]
    # live sidecar from a MoR delete is sidecar_live; a planted dead
    # one past TTL is sidecar_orphan
    t.delete_mor(spark, F.col("id") == 1, "id", inline_max=0)
    dead_sc = _os.path.join(t.path, "_dv", "deadbeef.parquet")
    with open(dead_sc, "wb") as fh:
        fh.write(b"PAR1deadPAR1")
    _os.utime(dead_sc, (_time.time() - 9999, _time.time() - 9999))
    classes = {}
    for r in t.fsck_report(ttl=3600.0):
        classes.setdefault(r["class"], []).append(r["path"])
    assert "_dv/deadbeef.parquet" in classes.get("sidecar_orphan", [])
    assert classes.get("sidecar_live"), "MoR sidecar must be live"
    assert t.read_snapshot(spark).count() == 1


def _jobs_of(spark, fn):
    """Run `fn` in a fresh Spark job group; return (its result, the
    number of Spark jobs it started). The listener bus is drained so
    the status tracker holds every job the call submitted."""
    import uuid

    sc = spark.sparkContext
    group = f"txlog-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_mor_verbs_and_snapshot_builds_run_few_spark_jobs(spark, tmp_path):
    """Job-count tripwire for the lakehouse verbs on a 3-file table
    with stats and an inline DV. Building a snapshot read takes its
    schema from the parquet footers, so it starts no job. A trickle
    delete_mor runs the bounded targeting collect, the key broadcast
    and the bounded table-wide probe (its targeting scan needs no DV
    broadcast here: Catalyst pushes the key predicate onto the DV
    relation and finds it empty). An upsert_mor of a local delta
    collects its keys without a job and runs the key broadcast, the
    targeting collect and the delta write; the table's DV is keyed
    outside the delta, so its scan carries no DV join."""
    from pyspark.sql import types as T

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(30)], "id long, v string"
        ).repartition(3),
        stats_cols=["id"],
    )
    assert len(t.active_files()) == 3
    t.delete_mor(spark, F.col("id") == 1, "id")
    assert t._fold_state().dvs

    snap, n = _jobs_of(spark, lambda: t.read_snapshot(spark))
    assert n == 0, f"read_snapshot build started {n} job(s)"
    assert snap.count() == 29

    _, n = _jobs_of(
        spark, lambda: t.delete_mor(spark, F.col("id").isin(4, 17), "id")
    )
    assert n <= 3, f"delete_mor started {n} jobs"

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    delta = TxLogTable._local_df(spark, schema, [[5, 40], ["NEW5", "INS40"]])
    _, n = _jobs_of(spark, lambda: t.upsert_mor(spark, delta, "id"))
    assert n <= 3, f"upsert_mor started {n} jobs"
    rows = {r["id"]: r["v"] for r in t.read_snapshot(spark).collect()}
    assert len(rows) == 28 and rows[5] == "NEW5" and rows[40] == "INS40"
    assert not {1, 4, 17} & set(rows)


def test_mor_contract_errors_identical_on_inline_and_bulk_paths(
    spark, tmp_path
):
    """Every MoR contract error is raised with the same message and in
    the same order whether the checks run on the bounded driver-side
    collect (inline_max=None) or distributed (inline_max=0)."""
    import re

    import pytest
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    for regime, im in (("inline", None), ("bulk", 0)):
        t = TxLogTable(str(tmp_path / regime))
        t.commit(
            spark.createDataFrame(
                [(1, "a"), (1, "b"), (1, "c"), (2, "d"), (3, "e")],
                "id long, v string",
            ).repartition(2)
        )

        def raises(msg, call):
            with pytest.raises(ValueError, match=f"^{re.escape(msg)}$"):
                call()

        def delete(pred):
            return lambda: t.delete_mor(spark, pred, "id", inline_max=im)

        def upsert(rows):
            # Arrow-built: no Python worker, so the test stays cheap
            cols = [list(c) for c in zip(*rows)]
            delta = TxLogTable._local_df(spark, schema, cols)
            return lambda: t.upsert_mor(spark, delta, "id", inline_max=im)

        raises("delete_mor: predicate matched no rows", delete(F.col("id") > 9))
        # duplicate matched keys win over the table-wide breach
        dup = "'id' is not unique among matched rows — DV anti-join " \
            "semantics need a unique key"
        raises(f"delete_mor: {dup}", delete(F.col("id") <= 2))
        # a matched key shared by unmatched rows: the exact count
        raises(
            "delete_mor: 3 rows share the 1 matched 'id' values — key "
            "must be unique table-wide",
            delete(F.col("v") == "a"),
        )
        ambiguous = "upsert_mor: 'id' is not unique in the delta — two " \
            "versions of one key is ambiguous"
        raises(ambiguous, upsert([(7, "x"), (7, "y")]))
        raises(ambiguous, upsert([(None, "x"), (None, "y")]))
        raises(f"upsert_mor: {dup}", upsert([(1, "z")]))
        assert t.entries()[-1]["version"] == 0, "a failed verb committed"
        # a NULL delta key is one distinct value: a blind insert
        upsert([(2, "D"), (None, "N")])()
        got = sorted(
            (r["id"] if r["id"] is not None else -1, r["v"])
            for r in t.read_snapshot(spark).collect()
        )
        assert got == [
            (-1, "N"), (1, "a"), (1, "b"), (1, "c"), (2, "D"), (3, "e"),
        ], regime
        dv = t.entries()[-1]["dv"]
        assert ("sidecar" in dv) == (regime == "bulk"), dv
        raises(
            "delete_mor: table already carries DVs keyed on 'id'; cannot "
            "mix with 'v'",
            lambda: t.delete_mor(spark, F.col("id") == 3, "v", inline_max=im),
        )


def test_footer_schema_reads_equal_inferred_reads(spark, tmp_path):
    """Snapshot reads take each schema group's schema from the Spark
    row-metadata key in its first file's footer. Across add_column,
    rename_column, drop_column, a merge_schema append and a sidecar
    DV, that schema equals what Spark infers, and a parquet file
    written without the key (pyarrow) falls back to inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    t = TxLogTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame(
            [(i, f"r{i}", i * 1.5) for i in range(20)],
            "id long, v string, x double",
        ).repartition(2),
        stats_cols=["id"],
    )
    t.add_column("w", 7, "int")
    t.commit(
        spark.createDataFrame(
            [(20, "r20", 0.5, None), (21, "r21", 1.5, 3)],
            "id long, v string, x double, w int",
        )
    )
    t.rename_column("v", "label")
    t.drop_column("x")
    t.commit(
        spark.createDataFrame(
            [(22, "r22", 1, "extra")], "id long, label string, w int, z string"
        ),
        merge_schema=True,
    )
    t.delete_mor(spark, F.col("id") < 5, "id", inline_max=2)  # sidecar
    st = t._fold_state()
    assert st.dv_side

    groups: dict = {}
    for f in sorted(st.active):
        names = frozenset(pq.read_schema(os.path.join(t.path, f)).names)
        groups.setdefault(names, []).append(f)
    assert len(groups) == 3
    for fs in groups.values():
        paths = [os.path.join(t.path, f) for f in fs]
        assert t._scan(spark, fs).schema == spark.read.parquet(*paths).schema
    sidecar = os.path.join(t.path, next(iter(st.dv_side)))
    pairs = t._dv_pairs_df(spark, {}, st.dv_side, T.LongType())
    assert pairs.schema == spark.read.parquet(sidecar).schema

    rows = {
        r["id"]: (r["label"], r["w"], r["z"])
        for r in t.read_snapshot(spark).collect()
    }
    assert sorted(rows) == list(range(5, 23))
    assert rows[5] == ("r5", 7, None)
    assert rows[20] == ("r20", None, None)
    assert rows[22] == ("r22", 1, "extra")

    # a file without Spark's footer key (physical names: `label` is
    # stored as `v`) reads through inference
    staged = os.path.join(t.path, "staged-arrow")
    os.makedirs(staged)
    pq.write_table(
        pa.table({"id": pa.array([100, 101], pa.int64()),
                  "v": ["p", "q"], "w": pa.array([1, 2], pa.int32()),
                  "z": ["s", None]}),
        os.path.join(staged, "part-0.parquet"),
    )
    rel = ["staged-arrow/part-0.parquet"]
    assert t._scan(spark, rel).schema == spark.read.parquet(
        os.path.join(t.path, rel[0])
    ).schema
    assert sorted(
        (r["id"], r["label"]) for r in t.read_staged(spark, rel).collect()
    ) == [(100, "p"), (101, "q")]
    t.publish_staged(rel)
    assert {r["id"] for r in t.read_snapshot(spark).collect()} == set(
        range(5, 23)
    ) | {100, 101}

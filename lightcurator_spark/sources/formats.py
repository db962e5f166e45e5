"""Source formats & sinks — SURVEY §2.1 S2–S5 + §2.11 D1, wave W5.

The reference ingests directories of files (FITS frames, plain-text
observation lists — reconstruction, SURVEY §1.1); the engine's
equivalents are schema-explicit CSV/JSONL readers, the whole-file
binary source, and the partitioned parquet sink that IS the
"database of light curves" persistence layer.

Fixture files for S2/S3 are generated deterministically under the
repo's scratch dir (never outside /root/repo) and rewritten
idempotently on each call.

Scale notes: CSV/JSONL readers get explicit schemas (no inferSchema —
inference is a full extra pass at 100 TB). The parquet sink partitions
by a low-cardinality analysis key and sorts within partitions by
(object, time) — the SURVEY §4.3 layout policy substituting for
Z-order: partition pruning on the outer key, min/max row-group skip on
the sort keys.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightcurator_spark.plans.registry import EAGER_BUCKETED, EAGER_FILES, query
from lightcurator_spark.registry import load_table

from lightcurator_spark.scratch import SCRATCH_ROOT as _SCRATCH

_OBS_ROWS = [
    (1, "frame_0001.fits", "2024-01-01 00:10:00", "g", 30.0),
    (2, "frame_0002.fits", "2024-01-01 00:20:00", "g", 30.0),
    (3, "frame_0003.fits", "2024-01-01 00:30:00", "r", 60.0),
    (4, "frame_0004.fits", "2024-01-01 00:40:00", "r", 60.0),
    (5, "frame_0005.fits", "2024-01-01 00:50:00", "i", 45.0),
]

_OBS_VALUES_SQL = ", ".join(
    f"({i}, '{f}', TIMESTAMP '{ts}', '{b}', {e})" for i, f, ts, b, e in _OBS_ROWS
)


def _write_fixture(name: str, content: str) -> str:
    os.makedirs(_SCRATCH, exist_ok=True)
    path = os.path.join(_SCRATCH, name)
    with open(path, "w") as fh:
        fh.write(content)
    return path


_ENSURE_LOCK = threading.Lock()


def ensure_bucketed(spark, table: str, df_fn, key: str, buckets: int = 8) -> None:
    """Idempotently materialize ``lc_bucketed.<name>`` as a
    ``bucketBy(buckets, key).sortBy(key)`` parquet table — the S7
    layout primitive, factored out so iterative operators (g5b graph
    rounds) can pin THEIR derived tables to a hash layout on disk and
    join against them exchange-free. ``df_fn`` is called only when the
    table does not already exist (a once-per-corpus amortized write,
    the bucketing economics S7 documents).

    Thread-safe within a process (r13): concurrent plan builds from
    driver threads (guide §2.6 — the test sweeps build 448 plans from
    a pool, and g5b/g6b share one edge table) serialize the
    check-then-write on a process lock; cross-PROCESS isolation is
    per-process scratch dirs as before (test_scratch_isolation)."""
    with _ENSURE_LOCK:
        _ensure_bucketed_locked(spark, table, df_fn, key, buckets)


def _ensure_bucketed_locked(
    spark, table: str, df_fn, key: str, buckets: int = 8
) -> None:
    os.makedirs(_SCRATCH, exist_ok=True)
    # warehouse.dir is a static conf; a per-database LOCATION keeps the
    # bucketed tables inside the repo scratch dir regardless of session.
    loc = os.path.join(_SCRATCH, "warehouse", "lc_bucketed.db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS lc_bucketed LOCATION '{loc}'")
    if spark.catalog.tableExists(table):
        return
    # the in-memory catalog forgets tables across sessions but the
    # managed location survives — clear it or saveAsTable refuses
    import shutil

    shutil.rmtree(
        os.path.join(loc, table.split(".", 1)[1]), ignore_errors=True
    )
    df_fn().write.bucketBy(buckets, key).sortBy(key).mode(
        "overwrite"
    ).format("parquet").saveAsTable(table)


@query(
    "s2_csv_scan",
    oracle=f"""
    SELECT frame_id, file_name, obs_ts, band, exposure_s
    FROM (VALUES {_OBS_VALUES_SQL})
         t(frame_id, file_name, obs_ts, band, exposure_s)
    """,
)
def s2_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: schema-explicit CSV ingest — the observation-list reader
    (make_list stage analog). Schema is declared, never inferred."""
    csv = "\n".join(f"{i},{f},{ts},{b},{e}" for i, f, ts, b, e in _OBS_ROWS)
    path = _write_fixture("obs_list.csv", csv + "\n")
    return spark.read.schema(
        "frame_id INT, file_name STRING, obs_ts TIMESTAMP_NTZ, band STRING, exposure_s DOUBLE"
    ).csv(path)


@query(
    "s3_jsonl_scan",
    oracle=f"""
    SELECT frame_id, file_name, obs_ts, band, exposure_s
    FROM (VALUES {_OBS_VALUES_SQL})
         t(frame_id, file_name, obs_ts, band, exposure_s)
    """,
)
def s3_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: schema-explicit JSON-lines ingest (header/metadata records)."""
    jsonl = "\n".join(
        json.dumps(
            {
                "frame_id": i,
                "file_name": f,
                "obs_ts": ts,
                "band": b,
                "exposure_s": e,
            }
        )
        for i, f, ts, b, e in _OBS_ROWS
    )
    path = _write_fixture("obs_list.jsonl", jsonl + "\n")
    return spark.read.schema(
        "frame_id INT, file_name STRING, obs_ts TIMESTAMP_NTZ, band STRING, exposure_s DOUBLE"
    ).json(path)


@query(
    "s4_binary_file_source",
    oracle=None,
    note="rows-only: absolute paths/mtimes are environment-specific",
)
def s4_binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: whole-file binary source — the FITS-directory-walk analog and
    the ingest edge of the multimodal column pattern (L7). Emits
    (file_name, length, head_md5) for every file in the dataset dir."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.md5(F.col("content")).alias("content_md5"),
    ).orderBy("file_name")


@query(
    "s5_partitioned_sink",
    eager=EAGER_FILES,
    oracle="""
    SELECT event_type, count(*) AS n,
           floor((sum(value)) * 10000 + 0.5) / 10000 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def s5_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: partitioned parquet sink + read-back — the light-curve
    database persistence layer. Writes events partitioned by band
    (event_type) and sorted within partitions by (user_id, ts) — the
    SURVEY §4.3 layout policy (partition pruning + min/max skip).
    The oracle checks the read-back aggregates, proving the write is
    lossless and the partition columns round-trip."""
    out = os.path.join(_SCRATCH, "lightcurve_db")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.repartition("event_type")
        .sortWithinPartitions("user_id", "ts")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias("sum_value"),
    )


@query(
    "d1_observation_log",
    oracle=None,
    note="rows-only: built from the live directory listing (env-specific sizes)",
)
def d1_observation_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: observation-log builder — directory of files → typed, ordered
    observation table (the make_list stage): binary source (S4) +
    projection (P1) + global sort (O1)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return (
        files.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("size_bytes"),
            F.regexp_extract(
                F.element_at(F.split("path", "/"), -1), "^([a-z]+)", 1
            ).alias("table_name"),
        )
        .orderBy("file_name")
    )


@query(
    "s7_bucketed_colocated_join",
    eager=EAGER_BUCKETED,
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def s7_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: bucketed tables + co-located (shuffle-free) join — the 100 TB
    pattern for a join both sides of which are too big to broadcast and
    re-joined often enough to amortize a one-time bucketed write.

    ``bucketBy(8, key).sortBy(key)`` pins both tables to the same hash
    partitioning ON DISK; Catalyst's bucketing rule then plans the join
    with NO Exchange on either side (asserted by tests/test_plans.py) —
    at cluster scale that removes the dominant all-to-all shuffle of
    every repeated fact-to-fact join. The MERGE hint forces the
    sort-merge path so the demo cannot silently degrade to a broadcast.
    """
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    ot, ct = f"lc_bucketed.orders_b_{tag}", f"lc_bucketed.customer_b_{tag}"
    ensure_bucketed(
        spark, ot, lambda: load_table(spark, sf_dir, "orders"), "o_custkey"
    )
    ensure_bucketed(
        spark, ct, lambda: load_table(spark, sf_dir, "customer"), "c_custkey"
    )
    o = spark.table(ot).hint("MERGE")
    c = spark.table(ct).hint("MERGE")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.floor(F.sum("o_totalprice") * 10000 + F.lit(0.5)) / 10000).alias(
                "total"
            ),
        )
    )


_S8_ROWS = [
    (fid, f"frame_{fid:04d}.fits", "g" if fid % 2 == 0 else "r", 30.0 + fid)
    for fid in range(20)
]

_S8_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({fid}, '{p}', '{b}', {e})" for fid, p, b, e in _S8_ROWS
) + ") t(frame_id, path, band, exposure_s)"


@query("s8_python_datasource", oracle=_S8_ORACLE)
def s8_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: custom source via the Spark 4 Python DataSource API — the
    extension point a real FITS/instrument reader would use: the source
    declares its schema and ITS OWN partitioning (4 input partitions
    here, verified parallel), and each partition streams rows from
    arbitrary Python (file walker, instrument API, archive client)
    straight into Tungsten rows. The demo source emits a deterministic
    observation log; the oracle is the same rows as VALUES.

    Scale: partitions() is the parallelism contract — a production
    frame source returns one partition per file-group/night, giving the
    cluster N independent readers with no driver bottleneck.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class ObsReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(4)]

        def read(self, partition):
            base = partition.value * 5
            for i in range(5):
                fid = base + i
                yield (
                    fid,
                    f"frame_{fid:04d}.fits",
                    "g" if fid % 2 == 0 else "r",
                    30.0 + fid,
                )

    class ObsSource(DataSource):
        @classmethod
        def name(cls):
            return "obs_frames"

        def schema(self):
            return "frame_id int, path string, band string, exposure_s double"

        def reader(self, schema):
            return ObsReader()

    spark.dataSource.register(ObsSource)
    return spark.read.format("obs_frames").load()


_S9_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"({n * 10 + i}, 'obs_{n}_{i}')" for n in range(3) for i in range(10)
) + ") t(obs_id, name)"


@query(
    "s9_python_stream_source",
    oracle=_S9_ORACLE,
    eager="runs its Python stream source into a memory sink and polls it",
)
def s9_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: custom STREAMING source via the Spark 4 Python DataSource
    API (``SimpleDataSourceStreamReader``) — the extension point a live
    instrument/telescope feed plugs into: the reader owns its offset
    space (micro-batch counter here), ``read(start)`` pulls the next
    batch from arbitrary Python, and ``readBetweenOffsets`` makes
    replay after failure deterministic (exactly-once downstream of the
    checkpoint). The demo feed emits 3 deterministic 10-row batches and
    then runs dry, so the availableNow catch-up terminates and the
    result is oracle-checkable as VALUES — a streaming source with a
    value-hash-verified end state.
    """
    import uuid as _uuid

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class TickReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"n": 0}

        def read(self, start):
            n = start["n"]
            if n >= 3:
                return iter([]), {"n": n}
            rows = [(n * 10 + i, f"obs_{n}_{i}") for i in range(10)]
            return iter(rows), {"n": n + 1}

        def readBetweenOffsets(self, start, end):
            rows = []
            for n in range(start["n"], end["n"]):
                rows += [(n * 10 + i, f"obs_{n}_{i}") for i in range(10)]
            return iter(rows)

    class TickSource(DataSource):
        @classmethod
        def name(cls):
            return "obs_ticks"

        def schema(self):
            return "obs_id int, name string"

        def simpleStreamReader(self, schema):
            return TickReader()

    spark.dataSource.register(TickSource)
    import time as _time

    # availableNow snapshots only the FIRST offset advance of a simple
    # stream reader, so run real micro-batches and stop when the feed
    # runs dry (3 batches x 10 rows). The Python stream-runner process
    # connects back to the JVM over a local socket with a short auth
    # timeout; on a saturated host that connect can flake, so retry the
    # whole (cheap, deterministic) stream up to 3 times.
    last_err: Exception | None = None
    for _ in range(3):
        name = "ticks_" + _uuid.uuid4().hex[:12]
        try:
            q = (
                spark.readStream.format("obs_ticks")
                .load()
                .writeStream.format("memory")
                .queryName(name)
                .trigger(processingTime="0 seconds")
                .start()
            )
            deadline = _time.time() + 60
            while _time.time() < deadline and spark.table(name).count() < 30:
                if q.exception() is not None:
                    raise q.exception()
                _time.sleep(0.3)
            q.stop()
            q.awaitTermination()
            if spark.table(name).count() == 30:
                return spark.table(name)
            last_err = RuntimeError("stream ended with incomplete output")
        except Exception as e:  # transient runner/socket failure — retry
            last_err = e
    raise last_err if last_err else RuntimeError("s9 stream failed")


@query(
    "s10_orc_roundtrip",
    eager=EAGER_FILES,
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           floor((sum(l_quantity)) * 10000 + 0.5) / 10000 AS sum_qty,
           floor((sum(l_extendedprice)) * 10000 + 0.5) / 10000 AS sum_price
    FROM lineitem GROUP BY 1, 2
    """,
)
def s10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: ORC sink + scan — the second columnar format Spark ships
    natively (vectorized reader, predicate pushdown, zlib/zstd), for
    interop with Hive-era warehouses. Writes a lineitem projection to
    ORC, reads it back, and aggregates; the oracle runs the same
    aggregate over the original parquet, so a hash match proves the
    ORC write→read roundtrip is lossless for long/double/string.
    (DuckDB cannot read ORC — roundtrip-vs-parquet IS the oracle.)"""
    out = os.path.join(_SCRATCH, "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("l_quantity") * 10000 + F.lit(0.5)) / 10000).alias("sum_qty"),
        (F.floor(F.sum("l_extendedprice") * 10000 + F.lit(0.5)) / 10000).alias(
            "sum_price"
        ),
    )


@query(
    "s11_compact_small_files",
    eager=EAGER_FILES,
    oracle="""
    SELECT event_type, count(*) AS n,
           floor((sum(value)) * 10000 + 0.5) / 10000 AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def s11_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: small-file compaction — the operational fix for the classic
    100 TB failure mode where streaming/incremental sinks (T7) leave
    thousands of KB-sized files and scan planning starts to cost more
    than scanning. Stage 1 deliberately fragments events into 64
    files; stage 2 compacts by rewriting with a repartition sized to
    the target file count (at cluster scale: totalBytes /
    maxPartitionBytes, here 4) + sortWithinPartitions to restore the
    S5 layout policy (min/max skip on the sort keys survives
    compaction). The oracle aggregates the compacted read-back —
    proving compaction is content-lossless — and the paired plan test
    asserts the file count actually dropped 64 → ≤8."""
    frag = os.path.join(_SCRATCH, "events_fragmented")
    compact = os.path.join(_SCRATCH, "events_compacted")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    (
        spark.read.parquet(frag)
        .repartition(4)
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(compact)
    )
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# 8-bit × 8-bit Morton interleave, written once and expanded into both
# dialects (DuckDB text below, Spark Column in the operator) from the
# same loop so the two surfaces cannot drift.
_S12_Z_SQL = " + ".join(
    f"(((px >> {i}) & 1) * {1 << (2 * i)} + ((sx >> {i}) & 1) * {1 << (2 * i + 1)})"
    for i in range(8)
)

_S12_ORACLE = f"""
WITH q AS (
  SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx FROM lineitem
),
z AS (SELECT px, sx, ({_S12_Z_SQL}) AS zval FROM q)
SELECT CAST(zval // 256 AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(px) AS BIGINT) AS px_min, CAST(max(px) AS BIGINT) AS px_max,
       CAST(min(sx) AS BIGINT) AS sx_min, CAST(max(sx) AS BIGINT) AS sx_max
FROM z GROUP BY 1
"""


@query(
    "s12_zorder_layout",
    oracle=_S12_ORACLE,
    eager=EAGER_FILES,
)
def s12_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: Z-order (Morton) clustering layout — the multi-dimensional
    data-skipping write S5's single-sort layout can't give: sorting by
    (partkey, suppkey) clusters only the leading key, so a filter on
    suppkey alone skips nothing. Interleaving the bits of both
    (quantized to 8 bits each) and range-partitioning + sorting on the
    Z value bounds BOTH keys' min/max ranges within every file, so
    parquet footer stats prune scans for predicates on either dimension
    — the lakehouse OPTIMIZE ZORDER BY pattern, built from primitives:
    ``repartitionByRange(z)`` (sampled range exchange, balanced files
    even under key skew) + ``sortWithinPartitions(z)`` (footer min/max
    tight per row group).

    The write+read-back proves the layout is content-lossless; the
    returned per-Z-bucket min/max of both dimensions measures the
    clustering that footer pruning will exploit (each bucket covers
    ≤1/16 of each dimension's range instead of all of it). A paired
    plan test asserts the written files' Z ranges are pairwise
    disjoint. Scale: one range exchange over the fact, agg is
    partial/final on a 256-value key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    px = (F.col("l_partkey") % 256).cast("int")
    sx = (F.col("l_suppkey") % 256).cast("int")
    z = F.lit(0)
    for i in range(8):
        z = (
            z
            + F.shiftright(F.col("px"), i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
            + F.shiftright(F.col("sx"), i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i + 1))
        )
    out = os.path.join(_SCRATCH, "lineitem_zorder")
    (
        li.select(px.alias("px"), sx.alias("sx"))
        .withColumn("zval", z)
        .repartitionByRange(16, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(F.expr("zval div 256").alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("px").cast("long").alias("px_min"),
        F.max("px").cast("long").alias("px_max"),
        F.min("sx").cast("long").alias("sx_min"),
        F.max("sx").cast("long").alias("sx_max"),
    )


@query(
    "s13_schema_evolution",
    eager=EAGER_FILES,
    oracle="""
    WITH merged AS (
      SELECT event_id, user_id, value, NULL AS event_type, 1 AS v
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT event_id, user_id, value, event_type, 2 AS v
      FROM events WHERE event_id % 2 = 1
    )
    SELECT CAST(v AS INT) AS v,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(event_type) AS BIGINT) AS n_typed,
           floor((sum(value)) * 10000 + 0.5) / 10000 AS sum_value
    FROM merged GROUP BY v
    """,
)
def s13_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: schema-evolution read — a v1 writer produced
    (event_id, user_id, value); a later v2 writer added event_type.
    ``mergeSchema`` reconciles the two footer schemas at read time:
    v1 rows surface the new column as NULL, the partition directory
    name carries the writer version. This is the lakehouse reality the
    fixed-schema reference never faces — producers upgrade before
    consumers, and yesterday's files must stay readable forever.

    Scale: schema merge is a planning-time footer union (cost per
    FILE, not per row — why S11 compaction also caps schema-merge
    cost); the scan itself stays columnar with missing columns
    null-filled per batch, and partition pruning on the version
    column still works (S5's machinery).
    """
    out = os.path.join(_SCRATCH, "events_evolving")
    ev = load_table(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id", "value")
    v2 = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "v=1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "v=2"))
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy(F.col("v").cast("int").alias("v")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("event_type").alias("n_typed"),
        (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias("sum_value"),
    )


@query(
    "s14_partition_gap_audit",
    eager=EAGER_FILES,
    oracle="""
    WITH cal AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                    INTERVAL 1 DAY))::DATE AS d
    ),
    present AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
      WHERE day(CAST(ts AS DATE)) % 7 <> 0
    )
    SELECT CAST(cal.d AS VARCHAR) AS missing_date
    FROM cal LEFT JOIN present ON cal.d = present.d
    WHERE present.d IS NULL
    """,
)
def s14_partition_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: partition-gap audit — the backfill planner's first query:
    diff the date partitions a store ACTUALLY has against the calendar
    it SHOULD have, emitting the missing-partition list a backfill job
    consumes. Here the store is a date-partitioned rewrite of events
    with every 7th day's partition deliberately dropped (a simulated
    failed ingest); the audit reads back only the DIRECTORY listing
    level (partition values, no data rows needed beyond pruning) and
    anti-joins the generated calendar.

    Scale: the calendar side is generated (`sequence` + explode,
    days-sized); the present side is the partition listing — metadata,
    not data; the anti-join is calendar-sized. At 100 TB this runs in
    seconds regardless of store size, which is the point: gap
    detection must not scan the lake.
    """
    import shutil

    out = os.path.join(_SCRATCH, "events_by_day")
    shutil.rmtree(out, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "d", F.col("ts").cast("date")
    )
    # simulate failed ingests: drop every 7th day's partition
    ev.filter(F.dayofmonth("d") % 7 != 0).write.mode("overwrite").partitionBy(
        "d"
    ).parquet(out)
    present = spark.read.parquet(out).select(F.col("d").cast("date")).distinct()
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    return (
        cal.join(present, "d", "left_anti")
        .select(F.col("d").cast("string").alias("missing_date"))
        .orderBy("missing_date")
    )


@query(
    "s16_gzip_jsonl_roundtrip",
    eager=EAGER_FILES,
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n,
           sum(n_chars) AS sum_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def s16_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: gzip-compressed JSONL sink + read-back — the compressed
    interchange format crawl pipelines actually ship (WARC-adjacent
    *.jsonl.gz shards), closing the format family (S2 CSV, S3 plain
    JSONL, S4 binary, S10 ORC, S16 compressed text). The write uses
    Spark's built-in per-file gzip codec; the read-back supplies the
    schema EXPLICITLY (documents' footer schema) — schema-on-read
    inference over compressed JSON is a second full decompress pass,
    the classic ingest mistake at 100 TB. The oracle aggregates the
    parquet original, so a hash match proves the text column (which
    embeds spaces and unicode) survives JSON escaping round-trip.

    Scale note: gzip is NOT splittable — one .gz file = one read
    task, so the writer's output-partition count (here Spark's
    default parallelism) IS the read-side parallelism; shard sizing
    is a write-time decision. That one-liner is the operational fact
    this operator exists to encode."""
    out = os.path.join(_SCRATCH, "documents_jsonl_gz")
    d = load_table(spark, sf_dir, "documents")
    d.write.mode("overwrite").option("compression", "gzip").json(out)
    back = spark.read.schema(d.schema).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "s17_partition_pruned_read",
    eager=EAGER_FILES,
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def s17_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: partition-pruned read — the QUERY side of S5's layout
    policy: against the event_type-partitioned lightcurve DB, a
    single-partition predicate must touch ONLY that directory. This is
    the layout decision paying off: at 100 TB a band-partitioned
    store answers per-band queries reading 1/|bands| of the data, and
    `test_s17_scan_reads_single_partition` pins the pruning in the
    plan (PartitionFilters, one matched directory), so a regression
    to full-scan fails tests before it fails a cluster bill. The
    write happens here too (into its own scratch dir) so the query is
    self-contained and idempotent; the oracle aggregates the same
    rows from the unpartitioned original.
    """
    out = os.path.join(_SCRATCH, "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.repartition("event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias(
            "sum_value"
        ),
    )


# --------------------------------------------------------------------
# S18 — custom Python DataSource (Spark 4 DataSource API)
# --------------------------------------------------------------------

_S18_N_PER_PART = 2000
_S18_PARTS = 8


def _s18_value(i: int) -> float:
    """Deterministic synthetic magnitude: Knuth multiplicative hash of
    the observation id, mapped to [10, 20) mag at 1e-4 resolution —
    pure integer arithmetic, so DuckDB reproduces it bit-for-bit."""
    h = (i * 2654435761) % 4294967296
    return 10.0 + (h % 100000) / 10000.0


class _ObslogDataSource:
    """Lazy import shell — the real classes subclass pyspark's
    DataSource machinery, imported only when S18 runs."""


def _register_obslog(spark) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class ObslogReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(_S18_PARTS)]

        def read(self, partition):
            base = partition.value * _S18_N_PER_PART
            for k in range(_S18_N_PER_PART):
                i = base + k
                yield (i, i % 500, _s18_value(i))

    class ObslogDataSource(DataSource):
        @classmethod
        def name(cls):
            return "obslog"

        def schema(self):
            return "obs_id bigint, object_id bigint, magnitude double"

        def reader(self, schema):
            return ObslogReader()

    spark.dataSource.register(ObslogDataSource)


@query(
    "s18_python_datasource",
    oracle="""
    WITH obs AS (
      SELECT i AS obs_id, i % 500 AS object_id,
             10.0 + ((i * 2654435761) % 4294967296 % 100000) / 10000.0
               AS magnitude
      FROM generate_series(0, 15999) t(i)
    )
    SELECT object_id, CAST(count(*) AS BIGINT) AS n_obs,
           floor(min(magnitude) * 10000 + 0.5) / 10000 AS min_mag,
           floor(sum(magnitude) * 10000 + 0.5) / 10000 AS sum_mag
    FROM obs GROUP BY object_id
    """,
)
def s18_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: custom Python DataSource — Spark 4's DataSource API as a
    first-class source: an `obslog` source that synthesizes a
    deterministic observation log (8 partitions × 2,000 rows) the way
    a real connector would wrap an instrument archive or survey API —
    `partitions()` declares the parallel split, `read(partition)`
    yields that split's rows executor-side. This is the extension
    point a lightcurve platform uses to ingest FITS archives or
    alert-broker feeds WITHOUT staging to parquet first; the
    multimodal binary path (S4) covers files on disk, S18 covers
    programmatic sources. Row content is pure integer arithmetic
    (Knuth multiplicative hash → magnitude grid), so the DuckDB twin
    regenerates the identical rows from generate_series and the hash
    proves the whole executor-side generation path end to end — a
    REAL oracle for a source with no file to re-read.

    Scale: partition count is the declared parallelism (a real
    connector maps archive shards 1:1); rows stream from the Python
    worker through Arrow batches; the aggregate behind it partial-aggs
    per partition. The per-row Python yield is the API's documented
    cost model — bulk connectors return Arrow RecordBatches through
    the same interface when throughput matters.
    """
    _register_obslog(spark)
    obs = spark.read.format("obslog").load()
    return obs.groupBy("object_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.floor(F.min("magnitude") * 10000 + F.lit(0.5)) / 10000).alias(
            "min_mag"
        ),
        (F.floor(F.sum("magnitude") * 10000 + F.lit(0.5)) / 10000).alias(
            "sum_mag"
        ),
    )


@query(
    "s19_dynamic_partition_overwrite",
    eager=EAGER_FILES,
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           floor(sum(CASE WHEN event_type = 'click' THEN value * 2
                          ELSE value END) * 10000 + 0.5) / 10000
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def s19_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: dynamic partition overwrite — the nightly-reprocess verb:
    rewrite ONE band's partition in place without touching the others
    (`partitionOverwriteMode=dynamic`; the default STATIC mode would
    silently truncate every partition the writer doesn't produce —
    the single most destructive default in Spark's write path, which
    is why this op exists as a tested recipe). The sequence: write
    the full store partitioned by event_type, then overwrite only the
    'click' partition with doubled values; the read-back census must
    show clicks doubled and every other band byte-identical to the
    original — the oracle computes that expected state from the
    source of record, so the hash proves BOTH the overwrite and the
    non-clobbering.

    Scale: the rewrite job touches only the target partition's files;
    the mode is set on the single writer (session-scoped config would
    leak into unrelated writers — set it per-write via the
    .option(...) form).
    """
    out = os.path.join(_SCRATCH, "events_dpo")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.repartition("event_type")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out)
    )
    clicks2 = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    (
        clicks2.repartition("event_type")
        .write.partitionBy("event_type")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("value") * 10000 + F.lit(0.5)) / 10000).alias(
            "sum_value"
        ),
    )


_S27_CORRUPT_LINES = [
    "901,TOOFEW",                      # too few columns
    "902,BADKEY,not_an_int",           # unparseable bigint
    "903,EXTRA,1,surplus_field",       # too many columns
    "904,ALSOBAD,4x",                  # trailing junk in the int
    "this line is not csv at all",     # wrong shape entirely
    "906,,y",                          # empty name parses; bad region
    ",,",                              # all-empty: nulls parse, key null is fine
]
# ",,": three empty tokens parse as (null, null, null) — VALID under
# PERMISSIVE (nullability is schema business, not parse business), so
# it lands in the good rows under a NULL region. The other 6 lines are
# corrupt UNDER A FULL-ROW PARSE — see the column-pruning note in the
# docstring (TRAPS #26) for why the census must require every column.

_S27_ORACLE = """
SELECT CAST(n_regionkey AS BIGINT) AS region_key, 'good' AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(n_name) AS BIGINT) AS n_names,
       sum(n_nationkey) AS sum_key
FROM nation GROUP BY 1
UNION ALL  -- the all-empty line: parses as all-NULLs, GOOD
SELECT NULL, 'good', 1, 0, NULL
UNION ALL  -- the six dirty lines; parseable PREFIX fields are
           -- populated even on corrupt rows (pinned):
           -- names TOOFEW/BADKEY/EXTRA/ALSOBAD = 4 non-null,
           -- keys 901+902+903+904+906 = 4516
SELECT NULL, 'corrupt', 6, 4, 4516
"""


@query(
    "s27_corrupt_record_census",
    oracle=_S27_ORACLE,
    eager=EAGER_FILES,
)
def s27_corrupt_record_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S27: corrupt-record CSV ingest census — what PERMISSIVE mode
    actually does with dirty text data, pinned. The nation table
    round-trips through headerless CSV; seven planted dirty lines
    (too few columns, too many, unparseable ints, free text, an
    all-empty line) are appended as their own shard; the read
    supplies the schema plus a `_corrupt_record` column and the
    census reports good rows per region beside the corrupt count.
    The pinned semantics ARE the test: wrong-arity and bad-cast rows
    are malformed; an all-empty line parses as all-NULLs and is GOOD
    (nullability is the schema's business, not the parser's) — the
    line every ingest postmortem rediscovers. The FAILFAST/
    DROPMALFORMED variants are one option away; the census quantifies
    what DROPMALFORMED would silently discard (DQ-gate material: wire
    the corrupt share into DQ1's constraint census).

    The corrupt-column restriction (Spark refuses plans whose
    required schema is ONLY `_corrupt_record`) is respected by
    grouping on a real column alongside the status — no cache()
    workaround needed. The subtler trap this operator pins is
    TRAPS #27: corrupt detection runs on the PRUNED required schema,
    so the census aggregates over EVERY data column to force the
    full-row parse (a region-only census would report 3 corrupt
    lines instead of 6 — measured, not hypothetical).

    Scale: parsing is map-side per shard; the census is one
    partial/final agg to |regions|+2 cells. At 100 TB the corrupt
    share decides quarantine-vs-abort BEFORE the clean pipeline runs.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out = os.path.join(_SCRATCH, "nation_dirty_csv")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.coalesce(1).write.mode("overwrite").csv(out)
    with open(os.path.join(out, "part-corrupt.csv"), "w") as fh:
        fh.write("\n".join(_S27_CORRUPT_LINES) + "\n")
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # Reference EVERY data column in the census: CSV corrupt-record
    # detection runs on the PRUNED required schema (TRAPS #26), so a
    # census that only needs n_regionkey would silently miss the
    # wrong-arity lines whose region token happens to parse. The
    # n_names / sum_key aggregates make all three data columns
    # required, forcing the full-row parse the corrupt count assumes.
    return (
        back.groupBy(
            F.when(
                F.col("_corrupt_record").isNull(), F.col("n_regionkey")
            ).alias("region_key"),
            F.when(F.col("_corrupt_record").isNull(), "good")
            .otherwise("corrupt")
            .alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_name").alias("n_names"),
            F.sum("n_nationkey").alias("sum_key"),
        )
        .select("region_key", "status", "n_rows", "n_names", "sum_key")
    )


# --------------------------------------------------------------------
# S31 — corrupt-record JSONL census (PERMISSIVE semantics pinned)
# --------------------------------------------------------------------

_S31_DIRTY_LINES = [
    '{"n_nationkey": "4x", "n_name": "BADKEY", "n_regionkey": 901}',
    '{"n_nationkey": 902, "n_name": "TRUNC"',
    "this line is not json at all",
    "{}",
    "[1, 2, 3]",
    '{"n_nationkey": 905.7, "n_name": "FLOATKEY", "n_regionkey": 903}',
    '{"n_name": "MISSING"}',
]
# Pinned by experiment (and contrasted with CSV's TRAPS #27 rules):
# - a bad-cast FIELD nulls only itself; sibling fields still populate
#   AND the record is marked corrupt (BADKEY keeps name+region;
#   CSV's rule is prefix-populate) — so corrupt rows can carry data;
# - truncated JSON / non-JSON text / a non-object top level ([1,2,3])
#   are corrupt with ALL fields null;
# - "{}" and missing keys are VALID all-/partial-NULL rows — absent
#   keys are nullability business, not parse business (the ",," CSV
#   rule's JSON twin);
# - unknown extra keys are ignored, never corrupt.
# Corrupt rows: BADKEY, TRUNC, not-json, [1,2,3], FLOATKEY (5).
# Extra good rows: {} (all null), MISSING (name only) (2).

_S31_ORACLE = """
SELECT CAST(n_regionkey AS BIGINT) AS region_key, 'good' AS status,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(n_nationkey) AS BIGINT) AS n_keys,
       CAST(count(n_name) AS BIGINT) AS n_names,
       sum(CAST(n_regionkey AS BIGINT)) AS sum_region
FROM nation GROUP BY 1
UNION ALL  -- "{}" + MISSING: valid null rows, one carries a name
SELECT NULL, 'good', 2, 0, 1, NULL
UNION ALL  -- five corrupt lines; partial fields survive on two of
           -- them (BADKEY, FLOATKEY), whose regions sum 901+903
SELECT NULL, 'corrupt', 5, 0, 2, 1804
"""


@query(
    "s31_corrupt_jsonl_census",
    oracle=_S31_ORACLE,
    eager=EAGER_FILES,
)
def s31_corrupt_jsonl_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S31: PERMISSIVE-mode JSONL ingest semantics PINNED — the JSON
    twin of S27's CSV census, planted with seven dirty lines chosen
    to expose exactly where the two parsers' PERMISSIVE contracts
    DIVERGE (the difference a pipeline that migrates CSV feeds to
    JSON feeds must know): (1) a bad-cast field nulls only ITSELF —
    sibling fields populate AND the record is marked corrupt, so
    corrupt rows carry salvageable data (CSV: prefix-populate);
    (2) truncated/garbage/non-object lines are corrupt-all-null;
    (3) "{}" and missing keys are VALID null rows (absence is
    nullability business — the ",," rule's JSON twin); (4) unknown
    keys are ignored. The census aggregates over EVERY data column
    (the TRAPS #27 discipline — corrupt detection must see the full
    required schema) and its corrupt row proves partial-field
    survival: 2 of the 5 corrupt rows contribute non-null names and
    a region sum. Pruning re-confirmed for JSON: drop one column
    from the census and its bad-cast line silently turns GOOD
    (TRAPS #27 applies to BOTH text readers).

    Scale: parse is map-side per shard; the census is one agg to
    |regions|+2 cells — the quarantine-vs-abort gate before the
    clean pipeline runs, exactly S27's shape on the other format.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out = os.path.join(_SCRATCH, "nation_dirty_jsonl")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.coalesce(1).write.mode("overwrite").json(out)
    with open(os.path.join(out, "part-corrupt.json"), "w") as fh:
        fh.write("\n".join(_S31_DIRTY_LINES) + "\n")
    schema = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return (
        back.groupBy(
            F.when(
                F.col("_corrupt_record").isNull(), F.col("n_regionkey")
            ).alias("region_key"),
            F.when(F.col("_corrupt_record").isNull(), "good")
            .otherwise("corrupt")
            .alias("status"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # n_keys ALSO makes n_nationkey required: without it the
            # pruned reader never parses the bad-cast field and
            # BADKEY/FLOATKEY silently come back GOOD (TRAPS #27,
            # re-confirmed live for the JSON reader while building
            # this very census)
            F.count("n_nationkey").alias("n_keys"),
            F.count("n_name").alias("n_names"),
            F.sum("n_regionkey").alias("sum_region"),
        )
        .select(
            "region_key", "status", "n_rows", "n_keys", "n_names",
            "sum_region",
        )
    )

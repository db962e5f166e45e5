"""Table registry: name → path → normalized DataFrame (SURVEY §1.3).

The reference keeps fixed-schema astropy tables per pipeline stage
(reconstruction, SURVEY §1.1); the engine substitutes a thin registry
over the driver's parquet corpus. Schemas come from parquet footers
(columnar, typed); the one normalization the registry owns is
``events.ts``, whose physical type has varied across driver-generated
corpora:

- timestamp[us] (current corpus): loads as ``timestamp_ntz`` in
  Spark 4 — cast ONCE here to session-time TimestampType (session tz
  is pinned UTC by ``configure``, so the instant equals DuckDB's naive
  reading) so downstream ``unix_micros``/window arithmetic type-checks.
- timestamp[ns] (earlier corpus): read as bigint nanos under
  ``spark.sql.legacy.parquet.nanosAsLong``, converted via exact integer
  division (``ts DIV 1000`` — no double round-trip, so it truncates
  exactly like DuckDB's ns→µs).

If the session cannot read the column at all, a pyarrow fallback reads
the file and hands Spark µs-truncated timestamps — same values, same
schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightcurator_spark.session import configure

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _events_via_pyarrow(spark: SparkSession, path: str) -> DataFrame:
    """Fallback: read the ns-timestamp parquet with pyarrow, truncate to µs."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    pdf = tbl.to_pandas()
    # ns → µs truncation matches DuckDB's read of the same file at µs grain.
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf)


# (session-id, sf_dir, table) → DataFrame. DataFrames are immutable plan
# handles, so reuse is safe; this skips repeated parquet-footer schema
# reads and analysis when the same table is loaded by many queries.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table, normalized. S1 operator (SURVEY §2.1)."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # Spark Connect sessions have no sparkContext
        app_id = str(id(spark))
    key = (app_id, sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        df = spark.read.parquet(path)
    else:
        try:
            df = spark.read.parquet(path)
        except Exception:
            df = _events_via_pyarrow(spark, path)
        else:
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
            elif ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _DF_CACHE[key] = df
    return df


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count of a corpus table from the parquet FOOTER
    metadata — the same number a full ``count()`` returns (row-group
    counts are exact; nothing in the corpus uses deletion vectors),
    without launching a Spark job at plan-BUILD time (r13: the
    auto_cells/log-n-width laws ran an eager count job inside every
    fresh plan construction of the ANN/banded family).

    A directory table is walked recursively, so nested (partitioned)
    layouts count in full. Like Spark's file index, it skips names
    starting with ``_`` or ``.`` (``_SUCCESS``, ``_temporary``, CRC
    files). A directory holding no parquet file raises
    ``FileNotFoundError`` rather than reporting 0 rows."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if not os.path.isdir(path):
        return pq.ParquetFile(path).metadata.num_rows
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register corpus tables as temp views (mirrors the driver's DuckDB views)."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

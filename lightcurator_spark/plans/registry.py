"""Central query registry — the engine's public query surface.

Every operator in SURVEY §2 registers here as a named query: a
``(spark, sf_dir) → DataFrame`` callable plus (where SQL-expressible)
the equivalent DuckDB oracle SQL. ``__spark_entry__.py`` assembles the
driver's ``queries()`` / ``oracle_sql()`` dicts from this registry, and
``tests/test_parity.py`` runs the same comparison locally.

Contract rules baked in here-ish (enforced by convention in each spec):
- every computed/aggregate column aliased identically in Spark + SQL;
- double aggregates wrapped round(x, 4) on BOTH sides (float-stability
  rule, SURVEY §2);
- events.ts-derived outputs exported as epoch-µs bigints or coarse
  truncations so Spark-µs vs DuckDB-ns precision can't skew hashes.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    note: str = ""
    # why building this query starts Spark jobs; "" → the build starts
    # none (tests/test_plans.py's build tripwire holds it to that)
    eager: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Shared ``eager`` reasons. A lazy ``localCheckpoint(eager=False)``
# still plans its RDD when the DataFrame is built: under AQE that runs
# every shuffle stage below it, and a broadcast below it runs always.
EAGER_CHECKPOINT = "plans a lazy localCheckpoint, which runs the stages below it"
EAGER_ITERATES = "iterates on the driver: an eager localCheckpoint and a count per round"
EAGER_TXLOG = "writes and commits a demo TxLogTable, then reads it back"
EAGER_FILES = "writes its demo files, then reads them back"
EAGER_STREAM = "runs its stream to completion into a sink"
EAGER_BUCKETED = "writes its bucketed table on the first build in a session"

# Modules whose import registers queries (one per SURVEY §2 wave/family).
_QUERY_MODULES = [
    "lightcurator_spark.operators.relational",
    "lightcurator_spark.operators.composites_ext",
    "lightcurator_spark.operators.analytics_ext",
    "lightcurator_spark.operators.series_ext",
    "lightcurator_spark.operators.stats_ext",
    "lightcurator_spark.operators.mining_ext",
    "lightcurator_spark.operators.windows",
    "lightcurator_spark.operators.theta_joins",
    "lightcurator_spark.operators.curation",
    "lightcurator_spark.operators.dedup",
    "lightcurator_spark.operators.similarity",
    "lightcurator_spark.operators.text_analysis",
    "lightcurator_spark.operators.multimodal",
    "lightcurator_spark.operators.udfs",
    "lightcurator_spark.operators.sqltext",
    "lightcurator_spark.sources.formats",
    "lightcurator_spark.sources.txlog",
    "lightcurator_spark.streaming.stream_ops",
]


def query(
    name: str, oracle: str | None = None, note: str = "", eager: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query spec under ``name``. A query whose
    build (``fn`` itself, before any action) starts Spark jobs says why
    in ``eager``, e.g. ``eager="writes a TxLogTable"``."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, note=note, eager=eager
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (idempotent) and return the registry."""
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError:
            # Module not built yet (incremental waves) — skip silently.
            pass
    return QUERIES

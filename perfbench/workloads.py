"""The benchmark's workloads: which operations one pass runs, in what order.

A workload is a list of passes. Each pass is a list of ``Op``. A query
op builds a DataFrame with the registered ``QuerySpec.fn`` and the run
loop fetches it; a call op (a ``TxLogTable`` write or metadata method)
does its work when called. The seed fixes the query order in each pass
and the lakehouse operation sequence; the program sees only the
generated inputs.

Query subsets: bench.py's HEADLINE queries of these families (42
relational, 51 curation) take 17 s and 48 s per warm pass at 4 cores,
too long for a run of about a minute. Each subset keeps the queries that load the layers the
workload is meant to stress, and every query keeps its DuckDB oracle
where it has one.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass, field

# JVM scan/join/agg/window work with thin builds and no Python workers.
# Full-output queries (Arrow fetch) are w3, d14 and m2.
RELATIONAL = [
    "a1_groupby_basic",
    "q3_shape_join_topk",
    "q5_shape_local_supplier",
    "q13_shape_custdist",
    "r4_tumbling_top100",
    "w3_moving_avg",
    "d14_structure_function",
    "m2_scd2_intervals",
    "sql_discount_census",
]

# Eager plan builds (g6 and l4 run jobs inside QuerySpec.fn), Arrow
# UDF kernels (l4, l35 and a33 run MapInPandas) and explode-heavy
# shuffles (l14, dq9). Four ops near 0.5 s and two near 1 s keep the
# median op inside one cluster, away from the gap between them.
CURATION_LLM = [
    "g6_kcore_peel",
    "dq9_candidate_key_discovery",
    "l4_knn_bruteforce",
    "l35_embedding_covariance",
    "a33_kendall_tau",
    "l14_unigram_logprob",
]

# The Arrow (toPandas) fetch path, as bench.py's FULL_OUTPUT set uses it.
FULL_OUTPUT = {"w3_moving_avg", "d14_structure_function", "m2_scd2_intervals"}

QUERY_WORKLOADS = {"relational": RELATIONAL, "curation_llm": CURATION_LLM}
WORKLOADS = ("relational", "curation_llm", "lakehouse")


@dataclass
class Op:
    """One operation of a pass.

    ``build`` returns a DataFrame that the run loop plans and fetches;
    ``call`` does the whole operation itself. Exactly one is set.
    """

    name: str
    build: Callable | None = None
    call: Callable | None = None
    full_output: bool = False
    meta: dict = field(default_factory=dict)


def query_pass(names: list[str], fns: dict, spark, data_dir: str, rng: random.Random) -> list[Op]:
    order = list(names)
    rng.shuffle(order)
    return [
        Op(n, build=(lambda f=fns[n]: f(spark, data_dir)), full_output=n in FULL_OUTPUT)
        for n in order
    ]


# ---- lakehouse ---------------------------------------------------------

KEY = "o_orderkey"
BASE_ROWS = 60_000  # orders keys [0, BASE_ROWS) form the initial table
APPEND_ROWS = 2_000  # keys appended per cycle
TOUCH_SPAN = 1_000  # key span an upsert or delete targets
TIME_TRAVEL_BACK = 1  # the time-travel read sees the table before the delete


def snapshot_agg(df):
    """The read every lakehouse read op fetches: per status, rows and
    the exact integer sum of prices in cents."""
    from pyspark.sql import functions as F

    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )


class Lakehouse:
    """Seeded cycles on one ``TxLogTable`` over ``orders``.

    Every state-changing call is appended to ``log`` as
    ``(kind, params, version)`` so that a DuckDB replay can rebuild the
    expected snapshot at every version (see ``check.replay_lakehouse``).
    A Python set of live keys picks upsert and delete targets that match
    rows, because ``delete_mor`` refuses a predicate that matches none.
    """

    def __init__(self, spark, table, orders_path: str, rng: random.Random):
        self.spark = spark
        self.table = table
        self.orders_path = orders_path
        self.rng = rng
        self.log: list[tuple] = []
        self.live: set[int] = set()
        self.next_key = 0
        self.cycle = 0
        self.horizon = 0  # oldest version still readable after vacuum

    def _orders(self, lo: int, hi: int, mod: int | None = None, rem: int = 0):
        from pyspark.sql import functions as F

        k = F.col(KEY)
        cond = (k >= lo) & (k < hi)
        if mod is not None:
            cond = cond & (k % mod == rem)
        return self.spark.read.parquet(self.orders_path).where(cond)

    def _append(self, lo: int, hi: int) -> int:
        v = self.table.commit(self._orders(lo, hi).coalesce(1), stats_cols=[KEY])
        self.live.update(range(lo, hi))
        self.next_key = hi
        self.log.append(("append", (lo, hi), v))
        return v

    def create(self) -> int:
        return self._append(0, BASE_ROWS)

    def _upsert(self, lo: int, bump: float) -> int:
        from pyspark.sql import functions as F

        delta = self._orders(lo, lo + TOUCH_SPAN, 3, 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(bump)
        )
        v = self.table.upsert_mor(self.spark, delta.coalesce(1), KEY, stats_cols=[KEY])
        self.live.update(k for k in range(lo, lo + TOUCH_SPAN) if k % 3 == 0)
        self.log.append(("upsert", (lo, bump), v))
        return v

    def _delete(self, lo: int) -> int:
        from pyspark.sql import functions as F

        k = F.col(KEY)
        pred = (k >= lo) & (k < lo + TOUCH_SPAN) & (k % 3 == 1)
        v = self.table.delete_mor(self.spark, pred, KEY)
        self.live.difference_update(range(lo, lo + TOUCH_SPAN))
        self.log.append(("delete", (lo,), v))
        return v

    def _delete_target(self) -> int:
        """A span start whose ``k % 3 == 1`` keys include a live one."""
        while True:
            lo = self.rng.randrange(0, self.next_key - TOUCH_SPAN)
            if any(k in self.live for k in range(lo + (1 - lo) % 3, lo + TOUCH_SPAN, 3)):
                return lo

    def _compact(self) -> int:
        t = self.table
        v = t.commit_replace(
            t.read_snapshot(self.spark).coalesce(2), remove=t.active_files(), stats_cols=[KEY]
        )
        self.log.append(("compact", (), v))
        return v

    @property
    def version(self) -> int:
        return self.log[-1][2]

    def _read_op(self, back: int) -> Op:
        """A snapshot read ``back`` versions behind the latest (0 = latest),
        never below the vacuum horizon. The version read goes to meta."""
        op = Op("read_snapshot", meta={"time_travel": back > 0})

        def build():
            op.meta["version"] = max(self.horizon, self.version - back)
            return snapshot_agg(self.table.read_snapshot(self.spark, op.meta["version"]))

        op.build = build
        return op

    def _count_op(self) -> Op:
        op = Op("count_snapshot")

        def call():
            op.meta["version"] = self.version
            return self.table.count_snapshot(op.meta["version"])

        op.call = call
        return op

    def pass_ops(self) -> list[Op]:
        """The next pass, one cycle: append, upsert, delete, snapshot
        read, metadata count, time-travel read, then compaction, vacuum
        and prune_log. Every pass has the same ops, so pass times
        compare. Parameters are drawn when an op runs, so they follow the
        table state the previous op left."""
        self.cycle += 1
        c, rng = self.cycle, self.rng

        def vacuum():
            self.horizon = self.version
            return self.table.vacuum(self.horizon)

        return [
            Op("commit", call=lambda: self._append(self.next_key, self.next_key + APPEND_ROWS)),
            Op("upsert_mor", call=lambda: self._upsert(
                rng.randrange(0, self.next_key - TOUCH_SPAN), float(c))),
            Op("delete_mor", call=lambda: self._delete(self._delete_target())),
            self._read_op(0),
            self._count_op(),
            self._read_op(TIME_TRAVEL_BACK),
            Op("commit_replace", call=self._compact),
            Op("vacuum", call=vacuum),
            Op("prune_log", call=lambda: self.table.prune_log(self.horizon)),
        ]

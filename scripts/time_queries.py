"""Time named registered queries with bench.py's methodology.

Usage:
    python scripts/time_queries.py [--profile bench|cluster] name [name ...]

Per query: one untimed run (JIT, code cache, file cache), then the warm
best-of-6 re-collect of the prepared DataFrame and the fresh-plan
best-of-2 (rebuild, re-plan, re-run every stage). Prints one JSON line
per query and a final line with all of them. ``SPARK_GRAFT_SF_DIR``
(required) names the corpus directory, as for bench.py. Throughput on
a shared host drifts over hours, so only runs adjacent in time
compare; for an A/B, alternate the two checkouts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from capture_plans import session  # noqa: E402
from lightcurator_spark.plans import load_all  # noqa: E402


def best_of(n: int, run) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        run()
        best = min(best, time.time() - t0)
    return round(best, 4)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--profile", choices=("bench", "cluster"), default="bench")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = session(args.profile)
    specs = load_all()
    out = {}
    for name in args.names:
        fn = specs[name].fn
        df = fn(spark, sf_dir)
        df.collect()
        out[name] = {
            "warm": best_of(6, df.collect),
            "fresh": best_of(2, lambda: fn(spark, sf_dir).collect()),
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

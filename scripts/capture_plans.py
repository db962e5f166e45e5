"""Capture physical plans of registered queries, with operator counts.

Usage:
    python scripts/capture_plans.py <out_dir> [--profile bench|cluster] [name ...]

For each query (default: every headline query in bench.py) writes
``<out_dir>/<name>.txt`` holding ``explain("formatted")``, and prints
one JSON line per query with the physical plan's Generate / Exchange
(shuffle) / ReusedExchange / FileScan node counts. ``counts.json`` in ``out_dir``
collects the same counts, so two captures diff with one command.

Profiles: ``bench`` is bench.py's session (AQE off, 4 shuffle
partitions); ``cluster`` is AQE on with 128 shuffle partitions.
``SPARK_GRAFT_SF_DIR`` (required) names the corpus directory, as for
bench.py. Keep ``out_dir`` outside the repository: plans are
regenerated on demand.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTRA, HEADLINE  # noqa: E402
from lightcurator_spark.plans import load_all  # noqa: E402
from lightcurator_spark.session import get_session  # noqa: E402

COUNTED = ("Generate", "Exchange", "ReusedExchange", "FileScan")


def session(profile: str):
    if profile == "bench":
        return get_session("capture-plans", low_latency=True)
    return get_session("capture-plans", shuffle_partitions=128)


def node_counts(physical: str) -> dict[str, int]:
    """Count nodes by name in a physical plan tree (one node a line,
    after the tree drawing and any ``*(n)`` codegen-stage prefix)."""
    names = re.findall(r"^[\s:+\-|]*(?:\*\(\d+\) )?(\w+)", physical, flags=re.M)
    return {k: names.count(k) for k in COUNTED}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("out_dir")
    ap.add_argument("--profile", choices=("bench", "cluster"), default="bench")
    ap.add_argument("names", nargs="*")
    args = ap.parse_intermixed_args()
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    os.makedirs(args.out_dir, exist_ok=True)
    spark = session(args.profile)
    specs = load_all()
    counts = {}
    for name in args.names or HEADLINE:
        fn = EXTRA.get(name) or (specs[name].fn if name in specs else None)
        if fn is None:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(args.out_dir, f"{name}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        counts[name] = node_counts(df._jdf.queryExecution().executedPlan().toString())
        print(json.dumps({name: counts[name]}))
    with open(os.path.join(args.out_dir, "counts.json"), "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Subset bench for optimization iteration: bench.py's own warm-up and
timing loop (bench.time_queries: noop sink, one pin scope per run, cold
+ min-of-N steady) over a named subset of queries at
$SPARK_GRAFT_SF_DIR.  NOT the driver bench — bench.py stays the
contract.

Usage: python tools/opt_bench.py name1 name2 ... [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_intermixed_args()
    import bench
    from imdb_top_250_etl_pipeline_spark.session import get_spark

    spark = get_spark("opt-bench")
    out = {}
    for name, rs in bench.time_queries(spark, args.names, args.runs):
        out[name] = {"cold": rs[0], "min": min(rs), "runs": rs}
        sys.stderr.write(f"{name}: {out[name]}\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()

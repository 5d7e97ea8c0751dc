"""CLI entry point: run the reference-equivalent ETL pipeline end to end.

The reference is executed as a script (cron -> python
webscraper-postgres.py) that extracts, normalizes, and loads five
Postgres tables.  ``python -m imdb_top_250_etl_pipeline_spark --out DIR``
is the drop-in form here: the same five tables land as parquet
(partition-ready), each produced by ONE lazy set-oriented plan instead
of the reference's per-row INSERT loops, and the run prints a one-line
JSON load summary.

Usage:
    python -m imdb_top_250_etl_pipeline_spark \
        [--sf-dir /root/testdata/sf0.01] [--out ./etl_out]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def run_etl(spark, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Extract -> clean -> surrogate keys -> normalize -> bridges -> write.

    Mirrors webscraper-postgres.py:29-285 as five parquet writes; the
    shared subplans (movies, people) are materialized once and reused by
    every downstream table, the set-oriented replacement for the
    reference's read-back-and-probe loops (:163, :225-227).
    """
    from .plans.etl import _etl_tables
    from .sources.sink import write_parquet

    counts: dict[str, int] = {}
    for name, df in _etl_tables(spark, sf_dir).items():
        path = os.path.join(out_dir, name)
        write_parquet(df, path)
        counts[name] = spark.read.parquet(path).count()
    return counts


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="imdb_top_250_etl_pipeline_spark")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument("--out", default="./etl_out")
    args = parser.parse_args(argv)

    from .session import get_spark

    spark = get_spark("etl-pipeline")
    counts = run_etl(spark, args.sf_dir, args.out)
    print(json.dumps({"out": args.out, "tables": counts}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Output-identity snapshot for the optimization rounds.

Computes the oracle-harness order-insensitive value hash (bit-exact
floats, 17-sig-digit repr) of every registered query's output — the
driver-facing ``QUERIES`` and the ``SUBSUMED`` battery constituents,
plus the bench's raw-override functions — at a given SF dir.  Run once
BEFORE an optimization (committed as OPT_SNAPSHOT_<sf>.json) and after
every substantive change; any hash drift means the rewrite changed what
a query computes, which the driver would grade as a REGRESSION
regardless of speed.  Each entry also records the ordered Spark schema
(``simpleString``): the value hash renders an INT and a BIGINT alike,
so a dropped widening cast shows up only as schema drift.

Usage:
  python tools/opt_snapshot.py [--sf-dir /root/testdata/sf0.01]
      [--out OPT_SNAPSHOT_sf001.json] [--only substr,substr]
      [--compare OPT_SNAPSHOT_sf001.json]

The driver heap is ``SPARK_DRIVER_MEMORY`` when set, else a quarter of
physical RAM.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)


def quarter_of_ram() -> str:
    """A quarter of physical RAM as a JVM memory size.  The session's own
    driver default (48g) lets the heap outgrow a small host mid-sweep,
    and once the kernel kills the JVM every later entry reads ERR."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{total_kib // 1024 // 4}m"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default="")
    ap.add_argument("--compare", default=None)
    args = ap.parse_args()

    from oracle_harness import _hash_rows

    from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope
    from imdb_top_250_etl_pipeline_spark.plans import QUERIES, SUBSUMED
    from imdb_top_250_etl_pipeline_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    os.environ.setdefault("SPARK_DRIVER_MEMORY", quarter_of_ram())
    spark = get_spark("opt-snapshot")
    only = [s for s in args.only.split(",") if s]

    fns: dict[str, object] = {n: q.fn for n, q in {**QUERIES, **SUBSUMED}.items()}
    for n, fn in bench._raw_overrides().items():
        fns[f"RAW::{n}"] = fn

    snap: dict[str, dict] = {}
    for name in sorted(fns):
        if only and not any(s in name for s in only):
            continue
        t0 = time.perf_counter()
        try:
            # each entry's pins are released when it has been collected,
            # as bench.time_queries does: held for the whole sweep they
            # fill executor storage and slow every later entry
            with pin_scope():
                df = fns[name](spark, args.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            h = _hash_rows([c.lower() for c in df.columns], rows)
            snap[name] = {
                "rows": len(rows),
                "cols": sorted(c.lower() for c in df.columns),
                "schema": df.schema.simpleString(),
                "hash": h,
                "sec": round(time.perf_counter() - t0, 2),
            }
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            snap[name] = {"err": str(ex)[:200]}
        sys.stderr.write(
            f"{name}: {snap[name].get('hash', 'ERR')[:12]} "
            f"({snap[name].get('sec', '-')}s)\n"
        )

    if args.compare:
        base = json.load(open(args.compare))
        drift = []
        for n, v in snap.items():
            b = base.get(n)
            if b is None:
                drift.append((n, "NEW"))
            elif b.get("hash") != v.get("hash") or b.get("rows") != v.get("rows"):
                drift.append((n, f"hash {b.get('hash','?')[:8]} -> {v.get('hash','?')[:8]}"))
            elif "schema" in b and b["schema"] != v.get("schema"):
                # baselines written before the schema field compare on
                # rows and hash only
                drift.append((n, f"schema {b['schema']} -> {v.get('schema')}"))
        if drift:
            print(json.dumps({"IDENTICAL": False, "drift": drift}, indent=1))
            sys.exit(1)
        print(json.dumps({"IDENTICAL": True, "n": len(snap)}))
        return

    out = args.out or "OPT_SNAPSHOT.json"
    with open(out, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    errs = [n for n, v in snap.items() if "err" in v]
    print(json.dumps({"written": out, "n": len(snap), "errors": errs}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line on stdout:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {"<name>": <sec>, ...}, "sf": <float>}

Each query executes end-to-end through the built-in `noop` sink — unlike
``count()`` this materializes every output column, so projection/codegen
cost is measured, while writing nothing.  Spark log noise goes to stderr;
stdout carries only the JSON line so the driver's tail-parse always works.

bench_detail.json is regenerated on EVERY run, including driver-side
per-round runs, so it may show as modified in the working tree right
after a round's automated bench — that drift is by design; the
committed copy is the builder's most recent quiet-window run (the one
bench_baseline.json entries were derived from).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The performance-representative subset: one per operator family that is
# expensive at scale (scan+join+agg, wide agg, windows, big sort-join,
# dedup, text, similarity).  Names missing from the registry are skipped,
# so this list can lead the implementation.
HEADLINE = [
    "flagship_top_customers",
    "agg_pricing_summary",
    "agg_rollup",
    "join_left",
    "join_broadcast_dim",
    "filter_project_pushdown",
    "window_running_sum",
    "window_topk_per_group",
    "topk_orders",
    "etl_upsert_orders",
    "etl_movies_surrogate_keys",
    "dedup_exact_documents",
    "dedup_minhash_candidates",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "text_word_counts",
    "text_quality_scores",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "multimodal_embedding_quantize",
    "udf_parse_markup",
    "stream_tumbling_window",
    "stream_sessionize",
    "sql_tpch_q3_shipping_priority",
    # round-8: the heavy round-7 operators join the regression gate
    # (previously they ran only in the sf sweeps)
    "graph_triangle_counts",
    "text_bpe_merges",
    "text_segment_dedup",
    "text_lm_perplexity",
    # round-10: DSIR importance weights, CCNet terciles (LM + the
    # distributed grouped rank), and PQ train/encode/ADC/refine
    "text_dsir_importance",
    "text_ccnet_buckets",
    "sim_ann_pq",
    # round-11: UNIMAX allocation+materialization (grouped cumsum) and
    # perceptual-hash image near-dup (Arrow hash + banded join)
    "corpus_unimax",
    "multimodal_ahash_dedup",
]


def sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def _raw_overrides():
    """Round-10 oracle promotions reshaped two registered queries into
    invariant-check form (they now ALSO run an exact brute-force
    baseline / extra self-checks).  The bench keeps timing the RAW
    operator those queries wrap, so per-query numbers stay comparable
    with earlier rounds' ledger (bench_baseline.json) — the
    verification overhead is correctness evidence, not operator cost."""
    from imdb_top_250_etl_pipeline_spark.plans.batteries import (
        _text_bpe_merges_raw,
    )
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _dedup_ngram_jaccard_raw,
        _dedup_simhash_raw,
        _sim_ann_ivf_kmeans_raw,
        _sim_ann_ivf_raw,
        _sim_ann_pq_raw,
    )

    return {
        "sim_ann_ivf": _sim_ann_ivf_raw,
        "text_bpe_merges": _text_bpe_merges_raw,
        # round-11 promotion: same reasoning
        "sim_ann_pq": _sim_ann_pq_raw,
        # round-12 promotions (the last rows-only constituents)
        "dedup_simhash_pairs": _dedup_simhash_raw,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard_raw,
        "sim_ann_ivf_kmeans": _sim_ann_ivf_kmeans_raw,
    }


def time_queries(spark, names: list[str], runs: int):
    """Warm the session up, then time every query in ``names`` ``runs``
    times at SF_DIR; yields ``(name, [seconds per run])`` as each query
    finishes.  Raw-override forms are timed where they exist."""
    from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope
    from imdb_top_250_etl_pipeline_spark.plans import lookup

    # Warmup on the smallest SF so per-query timings measure the plan,
    # not first-touch costs: JVM JIT + parquet footers (first query) and
    # the Python/Arrow worker pool (~10s of fork+init that would land on
    # whichever mapInPandas query runs first).
    lookup(names[0]).fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    py_warm = next((n for n in names if n.startswith(("udf_", "multimodal_blob"))), None)
    if py_warm:
        lookup(py_warm).fn(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    for name in names:
        # the timed window includes plan construction: queries that
        # materialize intermediate tables (eager localCheckpoint) do real
        # work inside fn(), and excluding it would under-report them.
        fn = _raw_overrides().get(name) or lookup(name).fn
        secs = []
        for _ in range(runs):
            # Round-13 measurement-hygiene fix (documented in
            # OPTIMIZATION_r13.md): queries that materialize
            # intermediates via eager localCheckpoint leak their blocks
            # for the session when no pin_scope is active — 60+ query
            # executions deep into the bench, executor storage fills
            # with dead blocks and late queries measured 3-6x their
            # isolated wall (dedup_simhash_pairs: 12s in-bench vs 1.8s
            # isolated).  Each run now executes inside its own
            # pin_scope; the release happens AFTER the timed window
            # (the timer still covers plan construction + execution,
            # same as every earlier round), so per-query numbers mean
            # "this query on a healthy session" — the same thing they
            # meant for queries that never pinned.
            with pin_scope():
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                secs.append(round(time.perf_counter() - t0, 3))
        yield name, secs


def main() -> None:
    from imdb_top_250_etl_pipeline_spark.session import get_spark
    from imdb_top_250_etl_pipeline_spark.plans import QUERIES, SUBSUMED

    spark = get_spark("bench")
    # lookup() resolves driver-facing AND battery-subsumed names, so the
    # headline list keeps the same per-query timings across rounds even
    # after queries were consolidated into batteries for the driver.
    names = [n for n in HEADLINE if n in QUERIES or n in SUBSUMED]

    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    # Each query runs twice: the FIRST run is the primary metric (cold
    # plan, comparable with earlier rounds' single-run numbers); the min
    # of both lands in "queries_steady" because this container shares
    # hardware and single cold runs swing 1.5-3x with co-tenant load —
    # the steady number is the one that reflects the plan.
    for name, runs in time_queries(spark, names, 2):
        timings[name] = runs[0]
        steady[name] = min(runs)

    # The driver tail-parses the LAST ~2KB of stdout; round 7's line
    # (cold + steady per-query dicts, 33 queries) overflowed that window
    # and parsed as null.  Keep the stdout line compact — per-query COLD
    # timings (matching "value" and bench_detail's "queries", so the
    # stdout field keeps one meaning across rounds and sums to "value")
    # plus the two totals — and write the full cold+steady detail to
    # bench_detail.json for round-over-round analysis.
    detail = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "value_steady": round(sum(steady.values()), 3),
        "queries_steady": steady,
        "sf": sf_of(SF_DIR),
    }
    with open(os.path.join(os.path.dirname(__file__), "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    line = json.dumps(
        {
            "metric": "headline_total",
            "value": detail["value"],
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in timings.items()},
            "value_steady": detail["value_steady"],
            "sf": detail["sf"],
        },
        separators=(",", ":"),
    )
    if len(line) > 1900:  # still too wide for the tail window: totals only
        line = json.dumps(
            {
                "metric": "headline_total",
                "value": detail["value"],
                "unit": "sec",
                "queries": {},
                "value_steady": detail["value_steady"],
                "sf": detail["sf"],
                "detail": "bench_detail.json",
            },
            separators=(",", ":"),
        )
    print(line, flush=True)


if __name__ == "__main__":
    # Everything except the final JSON line belongs on stderr.
    sys.stderr.write(f"bench: sf_dir={SF_DIR}\n")
    sys.stderr.write(
        "bench: any 'WindowExec: No Partition Defined' warnings below come "
        "from intentionally-bounded inputs (broadcast metadata tables, "
        "fixture-scale oracle twins) — not unpartitioned windows over "
        "large data; the scale-bearing windows are all PARTITION BY.\n"
    )
    main()

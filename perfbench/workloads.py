"""The benchmark's workloads: one pass of each, and the output checks.

Every operation runs in its own ``pin_scope``.  An operation fails when it
raises, or when ``pinned_rdd_count()`` has not returned to its pre-query
value after the scope closed (a leaked pin).  The outputs of a run's first
pass are checked after the timed passes, and each check counts as an
operation too.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import functions as F

from imdb_top_250_etl_pipeline_spark.__main__ import run_etl
from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope, pinned_rdd_count
from imdb_top_250_etl_pipeline_spark.plans import lookup
from imdb_top_250_etl_pipeline_spark.sources.sink import write_parquet
from imdb_top_250_etl_pipeline_spark.sources.txn import snapshot, txn_create, txn_merge, txn_read

from spans import BUILD

OLAP = [
    "flagship_top_customers",
    "agg_pricing_summary",
    "agg_rollup",
    "join_broadcast_dim",
    "window_topk_per_group",
    "topk_orders",
    "sql_tpch_q3_shipping_priority",
]
LLM = [
    "dedup_exact_documents",
    "dedup_minhash_candidates",
    "multimodal_ahash_dedup",
]
# The warm-up pays JIT, parquet footer reads and, where a workload runs
# Python, the worker pool start, on the tiny warm-up input.
SQL_WARM_UP = ["flagship_top_customers"]
PY_WARM_UP = SQL_WARM_UP + ["udf_parse_markup"]

MOVIES_KEY = "movie_id"
MERGE_UPDATE_COLS = ["metascore", "views"]
# inserted rows take keys above every surrogate key of the movies table
INSERT_KEY_OFFSET = 1_000_000_000


@dataclass
class Collected:
    """A query's collected output, shaped like the DataFrame that
    ``oracle_harness.compare`` reads."""

    columns: list[str]
    rows: list

    def collect(self) -> list:
        return self.rows


class Ops:
    """Runs operations against one SparkSession and keeps their tally."""

    def __init__(self, spark, sf_dir: str, tracer, seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []
        self.leaked = 0
        self.pins = 0

    def op(self, qid: str, body) -> None:
        self.attempted += 1
        before = pinned_rdd_count(self.spark)
        ok = True
        with self.tracer.span("query", qid):
            try:
                with pin_scope():
                    body()
                    if self.tracer.enabled:
                        self.pins += pinned_rdd_count(self.spark) - before
                    mark = time.perf_counter()
                self.tracer.record("pinning.release", mark, time.perf_counter())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        leaked = pinned_rdd_count(self.spark) - before
        if leaked > 0:
            self.leaked += leaked
            ok = False
        if not ok:
            self.failures.append(qid)

    def check(self, qid: str, passed: Callable[[], bool]) -> None:
        """Run a check as an operation: it fails if ``passed()`` is false."""

        def body():
            if not passed():
                raise AssertionError(f"output check failed: {qid}")

        self.op(qid, body)

    def query(self, qid: str, fn, sink, sink_span: str = "exec.sink") -> None:
        def body():
            with self.tracer.span(BUILD, label_jobs=True):
                df = fn(self.spark, self.sf_dir)
            with self.tracer.span(sink_span, label_jobs=True):
                sink(df)

        self.op(qid, body)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(ops: Ops, names: list[str], warm_dir: str) -> None:
    for name in names:
        ops.query(f"warm:{name}", lambda s, _d, n=name: lookup(n).fn(s, warm_dir), noop_sink)


# --- read-only workloads: results collected to the client -----------------


def query_pass(names: list[str]):
    def run_pass(ops: Ops, tag: str, _out: str) -> dict[str, Collected]:
        outputs: dict[str, Collected] = {}
        for name in names:
            def collect(df, name=name):
                outputs[name] = Collected(df.columns, df.collect())

            ops.query(f"{tag}:{name}", lookup(name).fn, collect)
        return outputs

    return run_pass


def query_checks(ops: Ops, con, _out: str, outputs: dict[str, Collected]) -> None:
    """Each query's collected rows against its DuckDB oracle twin."""
    from oracle_harness import compare

    for name, got in outputs.items():
        ops.check(
            f"check:{name}", lambda got=got, name=name: compare(got, con, lookup(name).oracle)["hash_match"]
        )


# --- etl_refresh: the reference's weekly job, written to disk -------------


def refresh_batch(movies, seed: int):
    """One seeded refresh batch: about a tenth of the movies with new
    metascore and views, plus about a twentieth re-keyed as new movies."""
    h = F.abs(F.hash(F.col(MOVIES_KEY), F.lit(seed)))
    updates = movies.where(h % 10 == 0).withColumns({
        "metascore": ((F.coalesce("metascore", F.lit(0)) + 1) % 101).cast("int"),
        "views": F.concat(F.coalesce("views", F.lit("")), F.lit("+")),
    })
    inserts = movies.where(h % 20 == 1).withColumn(
        MOVIES_KEY, F.col(MOVIES_KEY) + F.lit(INSERT_KEY_OFFSET)
    )
    return updates.unionByName(inserts)


def etl_pass(ops: Ops, tag: str, out: str) -> dict:
    spark = ops.spark
    tr = ops.tracer

    def to_parquet(name: str, sub: str) -> None:
        path = os.path.join(out, sub)
        ops.query(f"{tag}:{name}", lookup(name).fn, lambda df: write_parquet(df, path),
                  "sources.write")

    to_parquet("udf_parse_markup", "markup")

    def etl():
        with tr.span("sources.write", label_jobs=True):
            run_etl(spark, ops.sf_dir, os.path.join(out, "etl"))

    ops.op(f"{tag}:run_etl", etl)
    to_parquet("etl_upsert_orders", "upsert_orders")

    table = os.path.join(out, "txn_movies")
    movies_path = os.path.join(out, "etl", "movies")

    def create():
        with tr.span("sources.write", label_jobs=True):
            txn_create(spark.read.parquet(movies_path), table, key=MOVIES_KEY, range_partitions=8)

    ops.op(f"{tag}:txn_create", create)

    def merge():
        with tr.span(BUILD, label_jobs=True):
            movies = spark.read.parquet(movies_path)
            batch = refresh_batch(movies, ops.seed)
            stable = [c for c in movies.columns if c not in MERGE_UPDATE_COLS + [MOVIES_KEY]]
        with tr.span("sources.merge", label_jobs=True):
            txn_merge(spark, table, batch, MERGE_UPDATE_COLS, stable, range_partitions=8)

    ops.op(f"{tag}:txn_merge", merge)
    # the weekly cron job re-delivers the same batch: the merge is idempotent
    ops.op(f"{tag}:txn_merge_again", merge)
    return {}


def merge_stats(out: str) -> dict[str, int]:
    """Read from the refresh table's commit log: live files each merge
    rewrote, live files before it, bytes of the files it added, and bytes
    of the update batch it staged (added and removed in one commit)."""
    table = os.path.join(out, "txn_movies")
    stats = {"rewritten": 0, "live": 0, "written_bytes": 0, "update_bytes": 0}
    if not os.path.isdir(table):
        return stats
    for v in range(1, snapshot(table)[0] + 1):
        adds, removes = set(), set()
        with open(os.path.join(table, "_txn_log", f"{v:020d}.json")) as f:
            for line in f:
                action = json.loads(line)
                if "add" in action:
                    adds.add(action["add"]["path"])
                elif "remove" in action:
                    removes.add(action["remove"]["path"])
        staged = adds & removes
        stats["rewritten"] += len(removes - staged)
        stats["live"] += len(snapshot(table, v - 1)[3])
        stats["written_bytes"] += sum(os.path.getsize(os.path.join(table, p)) for p in adds - removes)
        stats["update_bytes"] += sum(os.path.getsize(os.path.join(table, p)) for p in staged)
    return stats


def same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def etl_checks(ops: Ops, con, out: str, _outputs: dict) -> None:
    from oracle_harness import compare

    spark = ops.spark
    for name, sub in (("udf_parse_markup", "markup"), ("etl_upsert_orders", "upsert_orders")):
        ops.check(
            f"check:{name}",
            lambda name=name, sub=sub: compare(
                spark.read.parquet(os.path.join(out, sub)), con, lookup(name).oracle
            )["hash_match"],
        )

    def table_counts():
        want = con.sql(lookup("etl_full_pipeline").oracle).fetchone()
        got = tuple(
            spark.read.parquet(os.path.join(out, "etl", t)).count()
            for t in ("movies", "people", "movie_director", "movie_writer", "movie_star")
        )
        return got == tuple(want)

    ops.check("check:run_etl_counts", table_counts)

    table = os.path.join(out, "txn_movies")

    def merged():
        movies = spark.read.parquet(os.path.join(out, "etl", "movies"))
        batch = refresh_batch(movies, ops.seed)
        expected = movies.join(batch, MOVIES_KEY, "left_anti").unionByName(batch)
        return snapshot(table)[0] == 2 and same_rows(txn_read(spark, table, 1), expected)

    ops.check("check:txn_merge", merged)
    ops.check(
        "check:txn_merge_idempotent",
        lambda: same_rows(txn_read(spark, table, 1), txn_read(spark, table, 2)),
    )


@dataclass(frozen=True)
class Workload:
    run_pass: Callable[[Ops, str, str], dict]
    # checks the first pass: its output directory and collected outputs
    check: Callable[[Ops, object, str, dict], None]
    warm_up: list[str]


WORKLOADS = {
    "etl_refresh": Workload(etl_pass, etl_checks, PY_WARM_UP),
    "olap_scan_join": Workload(query_pass(OLAP), query_checks, SQL_WARM_UP),
    "llm_dedup_search": Workload(query_pass(LLM), query_checks, PY_WARM_UP),
}

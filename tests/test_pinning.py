"""Lifecycle tests for the localCheckpoint pin handles (operators/
pinning.py): every eager-pinned operator's executor-storage blocks must
be releasable — ``pin_scope`` frees them on exit, and the iterative
operators free round N-1 as soon as round N materializes.  Scopes stack
per thread, and the entry adapter keeps each query's pins until that
query is built again.
"""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from imdb_top_250_etl_pipeline_spark.operators.pinning import (
    _persistent_ids,
    pin,
    pin_scope,
)

from .conftest import SF_SMOKE


def _ids(spark):
    # Assertions compare ID SETS, not counts: Spark's ContextCleaner can
    # asynchronously reclaim blocks UNRELATED tests leaked, so a plain
    # count can drop below its baseline mid-test under load (observed
    # as a full-suite-only flake).  "our new pins are gone" is the real
    # property and is immune to concurrent cleaning.
    return set(_persistent_ids(spark.sparkContext))


def test_pin_handle_releases_blocks(spark):
    base = _ids(spark)
    df, handle = pin(spark.range(1000))
    assert df.count() == 1000
    assert len(_ids(spark) - base) == 1
    handle.release()
    assert _ids(spark) - base == set()
    # idempotent
    handle.release()
    assert _ids(spark) - base == set()


def test_pin_scope_frees_everything_on_exit(spark):
    base = _ids(spark)
    with pin_scope():
        a, _ = pin(spark.range(10))
        b, _ = pin(spark.range(20))
        assert a.count() == 10 and b.count() == 20
        assert len(_ids(spark) - base) >= 2
    assert _ids(spark) - base == set()


def test_pin_scope_frees_on_exception(spark):
    base = _ids(spark)
    try:
        with pin_scope():
            pin(spark.range(10))
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert _ids(spark) - base == set()


def test_pin_scope_covers_windowed_operator(spark):
    from imdb_top_250_etl_pipeline_spark.operators.windows import (
        grouped_row_number,
    )

    base = _ids(spark)
    df = spark.range(200).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("v")
    )
    with pin_scope():
        out = grouped_row_number(df, ["g"], ["v"])
        # consume INSIDE the scope (the pin backs the result)
        assert out.count() == 200
        assert len(_ids(spark) - base) > 0
    assert _ids(spark) - base == set()


def test_pagerank_frees_intermediate_rounds(spark):
    from imdb_top_250_etl_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)] + [(0, 25), (10, 30)],
        "src long, dst long",
    )
    base = _ids(spark)
    with pin_scope():
        ranks = pagerank(edges, n_iter=9, checkpoint_every=2, n_partitions=4)
        total = ranks.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-6
        # 9 iterations / checkpoint_every=2 -> 4 in-loop pins; without
        # the per-round release all 4 would coexist with nodes+adj.
        # With it: nodes + adj + the single live ranks pin = 3.
        assert len(_ids(spark) - base) <= 3
    assert _ids(spark) - base == set()


def test_dedup_groups_frees_intermediate_rounds(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import dedup_groups

    # a 40-link chain forces several pointer-jumping rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    base = _ids(spark)
    with pin_scope():
        groups = dedup_groups(pairs)
        rows = groups.collect()
        assert {r["group_id"] for r in rows} == {0}
        # sym + the live labels pin only — every superseded round freed
        assert len(_ids(spark) - base) <= 2
    assert _ids(spark) - base == set()


def test_bpe_train_frees_vocab_rounds(spark):
    from imdb_top_250_etl_pipeline_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame(
        [("low low lower lowest newest newest",)], "text string"
    )
    base = _ids(spark)
    with pin_scope():
        merges = bpe_train(docs, "text", 4)
        assert merges.count() >= 1
        # per-round 1-row best pins remain (the result unions them) but
        # every superseded vocab checkpoint must be gone: <= 4 best
        # pins + zero live vocab pins (final one is scratch, released)
        assert len(_ids(spark) - base) <= 4
    assert _ids(spark) - base == set()


def test_kmeans_refine_frees_previous_centroids(spark):
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        kmeans_refine,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 2), float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    base = _ids(spark)
    with pin_scope():
        out = kmeans_refine(corpus, cents, iterations=3)
        assert out.count() == 2
        # only the LAST round's centroid pin may be live
        assert len(_ids(spark) - base) <= 1
    assert _ids(spark) - base == set()


def test_pin_scope_reliable_checkpoint_identical_results_and_cleanup(
    spark, tmp_path
):
    """SCALING.md §5's one-line cluster swap, under test: the SAME
    iterative operator run under pin_scope(reliable_dir=...) uses
    storage-backed DataFrame.checkpoint (survives executor loss) and
    produces IDENTICAL results to the localCheckpoint mode; checkpoint
    files demonstrably exist while the scope is live and the scope's
    subdirectory is removed on exit."""
    import os

    from imdb_top_250_etl_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)] + [(0, 25), (10, 30)],
        "src long, dst long",
    )
    with pin_scope():
        local_ranks = {
            r.node: r.rank
            for r in pagerank(
                edges, n_iter=9, checkpoint_every=2, n_partitions=4
            ).collect()
        }

    root = str(tmp_path / "ckpt")
    base = _ids(spark)
    with pin_scope(reliable_dir=root) as scope:
        reliable = pagerank(
            edges, n_iter=9, checkpoint_every=2, n_partitions=4
        )
        reliable_ranks = {r.node: r.rank for r in reliable.collect()}
        # reliable checkpoints are FILES under the scope's subdir
        assert scope.reliable_dir is not None
        assert scope.reliable_dir.startswith(root)
        rdd_dirs = [
            d
            for _, dirs, _ in os.walk(scope.reliable_dir)
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert rdd_dirs, "no reliable checkpoint data written"
    # identical answers, same iteration count, both modes (ulp-level
    # tolerance: double-sum reduce order varies RUN to run, not mode to
    # mode — two local-mode runs differ the same way)
    assert set(reliable_ranks) == set(local_ranks)
    for node, rank in local_ranks.items():
        assert abs(reliable_ranks[node] - rank) < 1e-12
    # storage lifecycle matches the block lifecycle: subdir gone,
    # nothing left persisted
    assert not os.path.exists(scope.reliable_dir)
    assert _ids(spark) - base == set()


def test_reliable_scope_restores_prior_checkpoint_dir(spark, tmp_path):
    """Round-9 verdict item: setCheckpointDir is context-global, so the
    scope must hand it back on exit — a user's own df.checkpoint()
    AFTER the scope must work and never write into the deleted scope
    dir."""
    import os

    sc = spark.sparkContext
    user_dir = str(tmp_path / "user_ckpt")
    sc.setCheckpointDir(user_dir)
    before = sc.getCheckpointDir()
    try:
        root = str(tmp_path / "scope_ckpt")
        with pin_scope(reliable_dir=root) as scope:
            df, _ = pin(spark.range(100))
            assert df.count() == 100
            assert scope.reliable_dir in (sc.getCheckpointDir() or "")
        # restored to the exact pre-scope value (UUID subdir and all)
        assert sc.getCheckpointDir() == before
        # user checkpoint after scope exit: works, lands under the USER
        # dir, and the deleted scope dir stays deleted
        out = spark.range(10).checkpoint(eager=True)
        assert out.count() == 10
        assert not os.path.exists(scope.reliable_dir)
        user_rdds = [
            d
            for _, dirs, _ in os.walk(user_dir)
            for d in dirs
            if d.startswith("rdd-")
        ]
        assert user_rdds, "user checkpoint did not land in the user dir"
    finally:
        # hand the shared session back with NO checkpoint dir (the
        # pre-test state) so later tests see a clean context
        from imdb_top_250_etl_pipeline_spark.operators.pinning import (
            _PinScope,
        )

        s = _PinScope()
        s._sc, s._prev_ckpt_dir = sc, None
        s._restore_checkpoint_dir()


def test_nested_reliable_scopes_keep_their_own_dirs(spark, tmp_path):
    """A nested reliable scope re-points the context; on its exit the
    outer scope's NEXT pin must land back under the outer dir (not the
    inner scope's rmtree'd path)."""
    import os

    sc = spark.sparkContext
    outer_root = str(tmp_path / "outer")
    inner_root = str(tmp_path / "inner")
    with pin_scope(reliable_dir=outer_root) as outer:
        a, _ = pin(spark.range(10))
        assert a.count() == 10
        with pin_scope(reliable_dir=inner_root) as inner:
            b, _ = pin(spark.range(20))
            assert b.count() == 20
            assert inner.reliable_dir in (sc.getCheckpointDir() or "")
        assert not os.path.exists(inner.reliable_dir)
        c, _ = pin(spark.range(30))
        assert c.count() == 30
        assert outer.reliable_dir in (sc.getCheckpointDir() or "")
        outer_rdds = [
            d
            for _, dirs, _ in os.walk(outer.reliable_dir)
            for d in dirs
            if d.startswith("rdd-")
        ]
        # a, and c's post-inner pin, both live under the OUTER dir
        assert len(outer_rdds) >= 2
    assert not os.path.exists(outer.reliable_dir)


def test_pin_scope_reliable_mode_is_scoped(spark, tmp_path):
    """Pins taken OUTSIDE a reliable scope stay localCheckpoint: the
    mode is a property of the scope, not a global switch."""
    import os

    root = str(tmp_path / "ckpt2")
    with pin_scope(reliable_dir=root) as scope:
        df, _ = pin(spark.range(100))
        assert df.count() == 100
        assert os.path.isdir(scope.reliable_dir)
    assert not os.path.exists(scope.reliable_dir)
    # outside any scope: no checkpoint files are created anywhere new
    df2, handle = pin(spark.range(50))
    assert df2.count() == 50
    assert not os.path.exists(scope.reliable_dir)
    handle.release()


# pin-backed queries() entries: each build takes at least one eager pin
ENTRY_NAMES = [
    "dedup_embedding_cosine",
    "dedup_minhash_candidates",
    "dedup_pairs_battery",
    "etl_bridges",
    "etl_full_pipeline",
    "etl_movies_surrogate_keys",
    "etl_normalize_people",
    "sample_stratified",
    "sim_topk_battery",
    "sink_managed_table",
    "sink_parquet_roundtrip",
    "window_events_battery",
]


def test_entry_queries_survive_build_ahead(spark):
    """A consumer may build every entry before it collects any: the
    entry releases no pin, so each result stays consumable until the
    consumer's own scope closes."""
    import __spark_entry__ as mod

    qs = mod.queries()
    base = _ids(spark)
    with pin_scope():
        built = {n: qs[n](spark, SF_SMOKE) for n in ENTRY_NAMES}
        assert _ids(spark) - base
        for n, df in built.items():
            assert df.collect(), n
    assert _ids(spark) - base == set()


def test_entry_queries_survive_threads(spark):
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as mod

    qs = mod.queries()

    def build_and_collect(n):
        with pin_scope():
            return qs[n](spark, SF_SMOKE).collect()

    base = _ids(spark)
    with ThreadPoolExecutor(max_workers=4) as pool:
        rows = dict(zip(ENTRY_NAMES, pool.map(build_and_collect, ENTRY_NAMES)))
    assert all(rows.values()), [n for n, r in rows.items() if not r]
    # each worker's scope freed its own pins
    assert _ids(spark) - base == set()


def test_pin_scope_is_per_thread(spark):
    """Thread A opens its scope after thread B opened its own; B's pin
    belongs to B's scope, so A's exit does not free it."""
    import threading

    b_open, a_open, b_pinned, a_done = (threading.Event() for _ in range(4))
    errors = []

    def thread_a():
        b_open.wait(60)
        with pin_scope():
            a_open.set()
            b_pinned.wait(60)
        a_done.set()

    def thread_b():
        try:
            with pin_scope():
                b_open.set()
                a_open.wait(60)
                df, _ = pin(spark.range(100))
                b_pinned.set()
                a_done.wait(60)
                assert df.count() == 100
        except Exception as ex:  # noqa: BLE001 — surfaced below
            errors.append(ex)
            b_pinned.set()

    threads = [threading.Thread(target=f) for f in (thread_a, thread_b)]
    base = _ids(spark)
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert _ids(spark) - base == set()

"""Record linkage: blocking recall, verify precision, cluster transitivity."""

from __future__ import annotations

from pyspark.sql import functions as F

from imdb_top_250_etl_pipeline_spark.operators.linkage import (
    linkage_candidates,
    linkage_clusters,
    normalize_name,
)


def test_normalize_name_canonical_form(spark):
    df = spark.createDataFrame(
        [("  Acme   CORP  ",), ("acme corp",)], "s string"
    )
    got = [r.n for r in df.select(normalize_name("s").alias("n")).collect()]
    assert got[0] == got[1] == "acme corp"


def test_candidates_find_planted_typo_within_block(spark):
    rows = [
        (1, "widget alpha 0001"),
        (2, "widget alphb 0001"),  # 1 substitution, same suffix+length
        (3, "widget gamma 0002"),
        (4, "totally different 9999"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in linkage_candidates(df, "rec_id", "name").collect()
    }
    assert pairs == {(1, 2): 1}


def test_blocking_never_compares_across_blocks(spark):
    # distance 1, but different suffix blocks: blocking sacrifices this
    # pair BY DESIGN (documented recall bound) — pin the contract
    rows = [(1, "abcd 0001"), (2, "abcd 0002")]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    assert linkage_candidates(df, "rec_id", "name").count() == 0


def test_length_band_prunes_impossible_pairs(spark):
    # same suffix, length differs by 3 > max_dist: levenshtein >= |Δlen|
    # so the pair is provably out — must not even be generated
    rows = [(1, "xx stuff 0001"), (2, "xx stuff bbb 0001")]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    assert linkage_candidates(df, "rec_id", "name", max_dist=2).count() == 0


def test_clusters_are_transitive(spark):
    # A~B and B~C but dist(A,C)=2 edges: all three must share an entity
    pairs = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (10, 11, 1)],
        "id_a long, id_b long, dist int",
    )
    got = {
        r.rec_id: r.entity_id for r in linkage_clusters(pairs).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10


def test_candidates_on_identifier_shaped_names(spark):
    # the TPC-H-style shape: long constant prefix, digits at the end —
    # suffix blocking keeps blocks tiny while catching the planted edit
    base = spark.range(0, 200).select(
        F.col("id").alias("rec_id"),
        F.concat(F.lit("Customer#"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("name"),
    )
    variants = base.where(F.col("rec_id") % 50 == 0).select(
        (F.col("rec_id") + 10_000).alias("rec_id"),
        F.concat(F.substring("name", 1, 9), F.lit("x"), F.substring("name", 11, 8)).alias("name"),
    )
    pairs = linkage_candidates(
        base.unionByName(variants), "rec_id", "name"
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert {(k, k + 10_000) for k in (0, 50, 100, 150)} <= found
    assert all(r.dist <= 2 for r in pairs)


def test_hot_block_emits_star_pairs_and_one_cluster(spark):
    # 300 names in ONE block (same suffix and length), pairwise within
    # distance 2 (they differ only in their first two letters): the
    # blocking join is capped like an LSH bucket, so the block yields
    # the 299-pair star around its min id instead of 300*299/2 pairs,
    # and the star still joins every record into one entity
    letters = "abcdefghijklmnopqr"
    names = [a + b + " record 0001" for a in letters for b in letters][:300]
    df = spark.createDataFrame(list(enumerate(names)), "rec_id long, name string")
    pairs = linkage_candidates(df, "rec_id", "name")
    got = sorted((r.id_a, r.id_b, r.dist) for r in pairs.collect())
    assert [(a, b) for a, b, _ in got] == [(0, i) for i in range(1, 300)]
    assert all(d <= 2 for _, _, d in got)
    clusters = {r.entity_id for r in linkage_clusters(pairs).collect()}
    assert clusters == {0}


def test_fastss_pairs_matches_brute_force(spark):
    import functools
    import itertools

    from imdb_top_250_etl_pipeline_spark.operators.linkage import (
        fastss_pairs,
    )

    # substitutions, insertions, deletions, duplicates, an empty
    # string, a single char, and a distance-2 near-miss
    names = [
        "smith", "smyth", "smithe", "mith", "smith",
        "jones", "jone", "jjones", "x", "", "ssmith", "smythe",
    ]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], ["id", "s"]
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fastss_pairs(df, "id", "s").collect()
    }

    def lev(a, b):
        @functools.lru_cache(None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1,
                d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return d(len(a), len(b))

    exp = {
        (i, j): lev(names[i], names[j])
        for i, j in itertools.combinations(range(len(names)), 2)
        if lev(names[i], names[j]) <= 1
    }
    assert got == exp  # provably-complete blocking: nothing missed
    # the distance-2 pair (smith vs smythe) must NOT appear
    assert (0, 11) not in got
    # over-length strings drop whole
    df2 = spark.createDataFrame(
        [(1, "a" * 100), (2, "a" * 99)], ["id", "s"]
    )
    assert fastss_pairs(df2, "id", "s", max_len=64).count() == 0

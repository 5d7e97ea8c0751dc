"""Unit tests for the LLM-data-pipeline operators.

The oracle-backed queries are covered by test_oracle_parity; these tests
pin the rows-only operators (LSH/MinHash/SimHash/cosine — built on
Spark-specific hash families or fp folds) against exact references:
numpy brute force for similarity, planted-duplicate recall for dedup.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from imdb_top_250_etl_pipeline_spark.plans import QUERIES, lookup
from imdb_top_250_etl_pipeline_spark.plans.llm_data import _corpus_near
from imdb_top_250_etl_pipeline_spark.sources import load


@pytest.fixture(scope="module")
def emb(spark):
    rows = (
        load(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def _planted_pairs(spark, mod: int) -> set[tuple[int, int]]:
    d = load(spark, SF_SMOKE, "documents").select("doc_id")
    ids = [r.doc_id for r in d.where(F.col("doc_id") % mod == 0).collect()]
    return {(i, i + 100000) for i in ids}


def test_minhash_recovers_planted_near_dups(spark):
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _minhash_pairs_raw,
    )

    got = {
        (r.id_a, r.id_b)
        for r in _minhash_pairs_raw(spark, SF_SMOKE).collect()
    }
    planted = _planted_pairs(spark, 11)
    recovered = planted & got
    # dropping 2 of ~25+ words keeps shingle-jaccard far above the 0.5
    # verify threshold; LSH banding (4 bands x 4 rows) recall at j~0.9
    # is 1-(1-0.9^4)^4 ~ 0.985 — demand >= 90% and no same-doc pairs
    assert len(recovered) >= 0.9 * len(planted), (len(recovered), len(planted))
    assert all(a < b for a, b in got)


def test_minhash_invariant_rows_hold(spark):
    # the driver-facing invariant reshape: every boolean true, the
    # precision count zero, and the planted rows' jaccard >= 0.5
    rows = QUERIES["dedup_minhash_candidates"].fn(spark, SF_SMOKE).collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r)
    assert len(by_part["recall"]) == 1 and by_part["recall"][0].ok
    assert by_part["recall"][0].n == len(by_part["planted"])
    assert by_part["precision"][0].n == 0 and by_part["precision"][0].ok
    assert all(0.5 <= r.score <= 1.0 for r in by_part["planted"])
    assert all(r.id_b == r.id_a + 100000 for r in by_part["planted"])


def test_minhash_jaccard_values_exact(spark):
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _minhash_pairs_raw,
    )

    # the reported jaccard must equal the exact set jaccard numpy computes
    df = _minhash_pairs_raw(spark, SF_SMOKE)
    sample = df.limit(10).collect()
    corpus = {
        r.doc_id: r.text for r in _corpus_near(spark, SF_SMOKE).collect()
    }

    def shingles(t: str) -> set:
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    for r in sample:
        a, b = shingles(corpus[r.id_a]), shingles(corpus[r.id_b])
        exact = len(a & b) / len(a | b)
        assert abs(r.jaccard - exact) < 5e-5, (r, exact)


def test_simhash_exact_for_small_hamming(spark):
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _dedup_simhash_raw,
    )

    # with 4 bands over 64 bits, every pair at hamming <= 3 shares a band
    # (pigeonhole) -> candidate generation is lossless for the verify cut
    got = _dedup_simhash_raw(spark, SF_SMOKE).collect()
    assert all(r.hamming <= 3 for r in got)
    planted = _planted_pairs(spark, 11)
    close = {(r.id_a, r.id_b) for r in got} & planted
    # most planted variants flip only a few fingerprint bits
    assert len(close) >= 0.8 * len(planted), (len(close), len(planted))


def test_simhash_invariant_query_all_ok(spark):
    # the round-12 promoted form: word-permutation twins have the
    # IDENTICAL bag-of-words fingerprint, so recall must be exactly 100%
    rows = lookup("dedup_simhash_pairs").fn(spark, SF_SMOKE).collect()
    parts = {r.part for r in rows}
    assert parts == {"planted", "recall", "precision"}
    for r in rows:
        if r.part != "planted":
            assert r.ok is True, r
    n_planted = next(r.n for r in rows if r.part == "recall")
    assert n_planted > 0  # the fixture must actually plant twins
    assert n_planted == sum(1 for r in rows if r.part == "planted")


def test_ngram_jaccard_recovers_planted(spark):
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _dedup_ngram_jaccard_raw,
    )

    got = {
        (r.id_a, r.id_b)
        for r in _dedup_ngram_jaccard_raw(spark, SF_SMOKE).collect()
    }
    planted = _planted_pairs(spark, 11)
    assert planted <= got, planted - got


def test_ngram_invariant_query_all_ok(spark):
    # append-last-char twins with >= 5 distinct trigrams have jaccard
    # g/(g+1) >= 5/6 > 0.8 by arithmetic: recall pins found == planted
    rows = lookup("dedup_ngram_jaccard").fn(spark, SF_SMOKE).collect()
    parts = {r.part for r in rows}
    assert parts == {"planted", "recall", "precision"}
    for r in rows:
        if r.part != "planted":
            assert r.ok is True, r
    n_planted = next(r.n for r in rows if r.part == "recall")
    assert n_planted > 0
    assert n_planted == sum(1 for r in rows if r.part == "planted")


def test_embedding_cosine_near_dup_recovers_planted(spark):
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _cosine_pairs_raw,
    )

    got = {
        (r.id_a, r.id_b)
        for r in _cosine_pairs_raw(spark, SF_SMOKE).collect()
    }
    d = load(spark, SF_SMOKE, "embeddings").select("vec_id")
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in d.where(F.col("vec_id") % 13 == 0).collect()
    }
    # tiny additive noise keeps cosine ~0.9995 >> 0.98; hyperplane LSH
    # banding may miss a boundary case or two
    assert len(planted & got) >= 0.9 * len(planted)


def test_dedup_pairs_battery_invariant_rows_hold(spark):
    rows = QUERIES["dedup_pairs_battery"].fn(spark, SF_SMOKE).collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r)
    # every flag row true, every violation count zero
    for part in (
        "ngram_recall",
        "ngram_precision",
        "simhash_nonempty",
        "simhash_precision",
        "groups_consistent",
        "incremental_valid",
        "pagerank_mass",
        "semantic_keep",
    ):
        assert len(by_part[part]) == 1 and by_part[part][0].ok, part
    assert by_part["ngram_recall"][0].n == len(by_part["ngram_planted"])
    # planted detail rows carry the exact char-trigram jaccard >= 0.8
    assert all(0.8 <= r.score <= 1.0 for r in by_part["ngram_planted"])
    assert all(r.id_b == r.id_a + 100000 for r in by_part["ngram_planted"])


def test_embedding_cosine_invariant_rows_hold(spark):
    rows = QUERIES["dedup_embedding_cosine"].fn(spark, SF_SMOKE).collect()
    by_part = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r)
    assert by_part["recall"][0].ok
    assert by_part["recall"][0].n == len(by_part["planted"])
    assert by_part["precision"][0].n == 0 and by_part["precision"][0].ok
    assert all(r.ok for r in by_part["planted"])


def test_brute_force_topk_matches_numpy(spark, emb):
    ids, mat = emb
    got = lookup("sim_cosine_topk").fn(spark, SF_SMOKE).collect()
    norms = np.linalg.norm(mat, axis=1)
    by_query: dict[int, list[int]] = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert set(by_query) == {int(i) for i in ids if i % 50 == 0}
    for qid, ranked in by_query.items():
        qi = int(np.where(ids == qid)[0][0])
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf  # self excluded
        # exact expected top-5 with (cos desc, id asc) tie-break
        order = sorted(range(len(ids)), key=lambda j: (-cos[j], ids[j]))[:5]
        expected = [int(ids[j]) for j in order]
        assert [n for _, n in sorted(ranked)] == expected, (qid, ranked, expected)


def test_ivf_recall_against_brute_force(spark):
    brute = lookup("sim_cosine_topk").fn(spark, SF_SMOKE).collect()
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _sim_ann_ivf_raw,
    )

    ivf = _sim_ann_ivf_raw(spark, SF_SMOKE).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    a = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(a & b) / len(b)
    # nprobe=4 of 20 clusters: measured ~0.8+ on the fixture; demand a
    # floor that catches regressions without overfitting the data
    assert recall >= 0.5, recall


def test_stratified_sample_rates_within_binomial_bounds(spark):
    import math

    got = {
        r.lang: r.n_sampled
        for r in lookup("sample_stratified_rates").fn(spark, SF_SMOKE).collect()
    }
    totals = {
        r.lang: r.n
        for r in load(spark, SF_SMOKE, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rates = {"en": 0.5, "zh": 0.2}
    for lang, n in totals.items():
        p = rates.get(lang, 0.1)
        sampled = got.get(lang, 0)
        # 4-sigma binomial bound: the multiplicative hash should behave
        # like a uniform selector at these rates
        sigma = math.sqrt(n * p * (1 - p))
        assert abs(sampled - n * p) <= 4 * sigma + 1, (lang, sampled, n, p)


def test_kmeans_refined_ivf_recall_not_worse(spark):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in lookup("sim_cosine_topk").fn(spark, SF_SMOKE).collect()
    }
    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _sim_ann_ivf_kmeans_raw,
        _sim_ann_ivf_raw,
    )

    raw = {
        (r.query_id, r.neighbor_id)
        for r in _sim_ann_ivf_raw(spark, SF_SMOKE).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in _sim_ann_ivf_kmeans_raw(spark, SF_SMOKE).collect()
    }
    recall_raw = len(raw & brute) / len(brute)
    recall_ref = len(refined & brute) / len(brute)
    # Lloyd iterations re-center cells; tolerate small fixture noise but
    # refined centroids must not meaningfully lose to the raw sample
    assert recall_ref >= recall_raw - 0.1, (recall_ref, recall_raw)
    assert recall_ref >= 0.5


def test_blob_decode_rejects_unknown_media(spark):
    from imdb_top_250_etl_pipeline_spark.operators.multimodal import decode_blobs

    bad = spark.createDataFrame(
        [(1, bytearray(b"PNG:not-synthetic"))], "doc_id long, blob binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|real codec"):
        decode_blobs(bad).collect()


def test_exact_dedup_keeps_first_and_counts(spark):
    rows = QUERIES["dedup_exact_documents"].fn(spark, SF_SMOKE).collect()
    by_id = {r.doc_id: r.n_copies for r in rows}
    # every kept id is an original (min of the pair), never a planted copy
    assert all(i < 100000 for i in by_id)
    n_dups = sum(1 for i in by_id if i % 7 == 0)
    assert all(
        (n == 2) == (i % 7 == 0) for i, n in by_id.items()
    ), "exactly the planted copies dedup"
    assert n_dups > 0


def test_cosine_near_dup_uses_all_dims_above_256(spark):
    # two 300-dim vectors identical on dims 0..255 but opposite on the
    # tail: a weight table capped at 256 dims would give them identical
    # signatures AND cosine computed from full vectors ~0.71 < 0.95, but
    # the real regression is the SIGNATURE — check the pair of genuinely
    # near vectors (300 dims, tiny tail perturbation) IS recovered, and
    # the tail-divergent pair is NOT reported as a near-dup.
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    head = [1.0] * 256
    rows = [
        (1, head + [1.0] * 44),
        (2, head + [1.001] * 44),          # near-dup of 1 in ALL dims
        (3, head + [-20.0] * 44),          # diverges only above dim 255
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_capped_band_pairs_star_fallback_bounds_hot_bucket(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        capped_band_pairs,
        minhash_candidate_pairs,
    )

    # 40 identical docs: one degenerate LSH bucket.  With the cap below
    # the bucket size the candidate set must be the O(N) star around the
    # min id — not the O(N^2) clique — and every doc still gets flagged.
    rows = [(i, "the same exact boilerplate text repeated here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_candidate_pairs(
        df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=10
    ).collect()
    assert len(pairs) == 39  # star: every doc vs representative 0
    assert all(r.id_a == 0 and r.jaccard == 1.0 for r in pairs)
    flagged = {r.id_b for r in pairs}
    assert flagged == set(range(1, 40))

    # with the cap above the bucket size the full clique comes back
    full = minhash_candidate_pairs(
        df, "text", "doc_id", jaccard_threshold=0.5, max_bucket=100
    )
    assert full.count() == 40 * 39 // 2

    # banded input straight into the guard: one hot bucket (12 members >
    # cap 5) next to two small ones — the hot bucket becomes an 11-pair
    # star, the small buckets stay full cliques
    rows = [(i, 0, 7) for i in range(12)]
    rows += [(100 + i, 1, 3) for i in range(3)]
    rows += [(200 + i, 2, 9) for i in range(4)]
    banded = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    got = sorted(
        (r.id_a, r.id_b)
        for r in capped_band_pairs(
            banded, "doc_id", ["band", "bucket"], max_bucket=5
        ).collect()
    )
    assert [p for p in got if p[0] < 100] == [(0, i) for i in range(1, 12)]
    assert len(got) == 11 + 3 * 2 // 2 + 4 * 3 // 2 == 20


def test_chunk_documents_matches_python_reference(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import chunk_documents

    d = load(spark, SF_SMOKE, "documents").where(F.col("doc_id") < 30)
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_chunk_tokens)
        for r in chunk_documents(d, "text", "doc_id", window=5, stride=3).collect()
    }
    for row in d.select("doc_id", "text").collect():
        toks = row.text.split(" ")
        n = len(toks)
        if n == 0:
            continue
        last = ((max(n - 5, 0) + 2) // 3) * 3
        expected_starts = list(range(0, last + 1, 3))
        for i, p in enumerate(expected_starts):
            chunk = " ".join(toks[p : p + 5])
            assert got[(row.doc_id, i)] == (chunk, min(n - p, 5)), (row.doc_id, i)
        # no extra chunks beyond the expected starts
        assert (row.doc_id, len(expected_starts)) not in got


def test_dedup_groups_connected_components(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import dedup_groups

    # component A: clique {1,2,3}; component B: chain 10-11-12-13;
    # component C: single pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.group_id for r in dedup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_contamination_check_exact(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import contamination_check

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # grams: abc bcd cde
            (2, "a b c x y"),          # grams: abc bcx cxy -> 1 hit (abc)
            (3, "z z"),                # too short: no grams
            (4, "q r s t"),            # no overlap
        ],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame([(100, "a b c d e f")], "doc_id long, text string")
    got = {r.doc_id: r for r in contamination_check(docs, ref, "text", "doc_id").collect()}
    assert (got[1].n_grams, got[1].n_contaminated) == (3, 3)
    assert got[1].contamination_ratio == 1.0
    assert (got[2].n_grams, got[2].n_contaminated) == (3, 1)
    assert (got[3].n_grams, got[3].n_contaminated) == (0, 0)
    assert got[3].contamination_ratio is None
    assert (got[4].n_grams, got[4].n_contaminated) == (2, 0)


def test_simhash_hot_bucket_star_with_payload(spark):
    # exercises the rare guard path WITH payload columns (fingerprints
    # ride through the star join via the representative lookup)
    from imdb_top_250_etl_pipeline_spark.operators.dedup import simhash_pairs

    rows = [(i, "identical boilerplate text for every doc") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = simhash_pairs(df, "text", "doc_id", max_bucket=8).collect()
    assert len(got) == 29  # star around representative 0
    assert all(r.id_a == 0 and r.hamming == 0 for r in got)
    assert {r.id_b for r in got} == set(range(1, 30))


def test_redact_pii_counts_and_replaces(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import (
        PII_PATTERNS,
        redact_pii,
    )
    import hashlib
    import re

    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or +1 (555) 123-4567 today"),
            (2, "ssn 123-45-6789 leaked next to carol@test.org"),
            (3, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs, "text", "doc_id").collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ssn) == (1, 1, 0)
    assert (got[2].n_email, got[2].n_phone, got[2].n_ssn) == (1, 0, 1)
    assert (got[3].n_email, got[3].n_phone, got[3].n_ssn) == (0, 0, 0)

    def py_redact(t):
        for name in ("ssn", "email", "phone"):
            t = re.sub(PII_PATTERNS[name], f"[{name.upper()}]", t)
        return t

    for doc_id, text in [(1, "contact bob@example.com or +1 (555) 123-4567 today"),
                         (2, "ssn 123-45-6789 leaked next to carol@test.org"),
                         (3, "clean text with no identifiers at all")]:
        assert got[doc_id].redacted_fp == hashlib.md5(py_redact(text).encode()).hexdigest()


def test_asof_join_matches_python_reference(spark):
    from imdb_top_250_etl_pipeline_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 15, "e3"), (3, 9, "e4")],
        "k long, ts long, ev string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 18, 180.0), (2, 1, 10.0), (4, 2, 20.0)],
        "k long, vts long, price double",
    )
    got = {
        (r.k, r.ts): (r.asof_vts, r.price)
        for r in asof_join(left, right, "k", "ts", "vts", ["price"]).collect()
    }
    assert got[(1, 5)] == (None, None)        # before first version
    assert got[(1, 10)] == (10, 100.0)        # inclusive at equal ts
    assert got[(1, 20)] == (18, 180.0)        # latest prior version
    assert got[(2, 15)] == (1, 10.0)
    assert got[(3, 9)] == (None, None)        # key with no versions


def test_asof_join_null_payload_not_backfilled_from_older_version(spark):
    # the matched version row must be attached WHOLE: a legitimate NULL
    # payload field in the matched version stays NULL instead of being
    # filled from an older version (ASOF JOIN semantics; the struct-carry
    # guarantees it)
    from imdb_top_250_etl_pipeline_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, 30, "e")], "k long, ts long, ev string")
    right = spark.createDataFrame(
        [(1, 10, 100.0, "a"), (1, 20, None, "b")],
        "k long, vts long, price double, tag string",
    )
    row = asof_join(left, right, "k", "ts", "vts", ["price", "tag"]).collect()[0]
    assert row.asof_vts == 20
    assert row.price is None      # NOT 100.0 from the vts=10 version
    assert row.tag == "b"


def test_forward_fill_carries_last_observation(spark):
    from imdb_top_250_etl_pipeline_spark.operators.timeseries import forward_fill

    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 10.0), (1, 3, None), (1, 4, 20.0), (1, 5, None),
         (2, 1, None)],
        "k long, ts long, v double",
    )
    got = {(r.k, r.ts): r.v for r in forward_fill(df, "k", "ts", ["v"]).collect()}
    assert got == {(1, 1): None, (1, 2): 10.0, (1, 3): 10.0, (1, 4): 20.0,
                   (1, 5): 20.0, (2, 1): None}


def test_dedup_groups_long_chain_converges_fast(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import dedup_groups

    # a 60-link chain: plain min-propagation would need 60 rounds; the
    # pointer-jumping variant must finish well under the default cap
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.group_id for r in dedup_groups(pairs, max_iterations=10).collect()}
    assert got == {i: 0 for i in range(61)}


def test_ivf_prebuilt_index_matches_inline_build(spark):
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
    )

    emb = load(spark, SF_SMOKE, "embeddings")
    centroids = emb.where(F.col("vec_id") % 25 == 0)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    inline = ivf_topk(emb, queries, centroids).collect()
    idx = build_ivf_index(emb, centroids).localCheckpoint(eager=True)
    reused = ivf_topk(emb, queries, centroids, index=idx).collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in inline} == {
        (r.query_id, r.neighbor_id, r.rank) for r in reused
    }


def test_split_by_hash_deterministic_and_proportional(spark):
    import hashlib
    import math

    from imdb_top_250_etl_pipeline_spark.plans.llm_data import split_by_hash

    d = load(spark, SF_SMOKE, "documents")
    weights = {"train": 8, "val": 1, "test": 1}
    got = {r.doc_id: r.split for r in split_by_hash(d, "doc_id", weights).collect()}
    # exact per-row reproduction from the md5 definition
    for doc_id, split in list(got.items())[:50]:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 10
        expected = "train" if b < 8 else ("val" if b < 9 else "test")
        assert split == expected, (doc_id, split, expected)
    # proportions within 4-sigma binomial bounds
    n = len(got)
    for name, wgt in weights.items():
        p = wgt / 10
        cnt = sum(1 for s in got.values() if s == name)
        assert abs(cnt - n * p) <= 4 * math.sqrt(n * p * (1 - p)) + 1
    # stability under growth: a subset's assignments never change
    sub = split_by_hash(d.where(F.col("doc_id") < 100), "doc_id", weights)
    assert all(got[r.doc_id] == r.split for r in sub.collect())


def test_bm25_topk_matches_numpy_reference(spark):
    import math

    from imdb_top_250_etl_pipeline_spark.operators.text import bm25_topk

    terms = ["spark", "shuffle", "join"]
    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    got = [(r.doc_id, r.bm25) for r in bm25_topk(d, "text", "doc_id", terms, k=10).collect()]

    docs = {r.doc_id: r.text.split(" ") for r in d.collect()}
    n_docs = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n_docs
    dfreq = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    scores = {}
    for doc_id, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            idf = math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(toks) / avgdl))
        if s > 0:
            scores[doc_id] = s
    expected = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [i for i, _ in got] == [i for i, _ in expected]
    for (gi, gs), (ei, es) in zip(got, expected):
        assert abs(gs - es) < 1e-4, (gi, gs, es)


def test_incremental_minhash_probe_matches_full_recompute(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        build_minhash_index,
        minhash_candidate_pairs,
        minhash_probe_incremental,
    )

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    existing = docs.where(F.col("doc_id") < 400)
    # incoming batch: fresh docs + near-copies of indexed docs
    from imdb_top_250_etl_pipeline_spark.operators.dedup import tokens

    t = tokens("text")
    trimmed = F.array_join(F.slice(t, 1, F.greatest(F.size(t) - 2, F.lit(1))), " ")
    new = docs.where(F.col("doc_id") >= 400).unionByName(
        existing.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 500000).alias("doc_id"), trimmed.alias("text")
        )
    )

    idx = build_minhash_index(existing, "text", "doc_id")
    got = {
        (r.new_id, r.existing_id)
        for r in minhash_probe_incremental(idx, new, "text", "doc_id").collect()
    }
    # every planted near-copy of an indexed doc must surface
    planted = {
        (i + 500000, i)
        for i in [r.doc_id for r in existing.where(F.col("doc_id") % 10 == 0).collect()]
    }
    assert len(planted & got) >= 0.9 * len(planted), (len(planted & got), len(planted))

    # cross-check vs the full-corpus recompute restricted to (new x existing)
    full = minhash_candidate_pairs(
        existing.unionByName(new), "text", "doc_id"
    )
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    old_ids = {r.doc_id for r in existing.select("doc_id").collect()}
    full_cross = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b))
        for r in full.collect()
        if (r.id_a in new_ids) != (r.id_b in new_ids)
    }
    got_norm = {(max(a, b), min(a, b)) for a, b in got}
    assert full_cross == got_norm


def test_exact_dedup_by_keeps_preferred_copy(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import exact_dedup_by

    rows = [
        (1, "same text", 0.2),
        (2, "same text", 0.9),   # best quality -> kept
        (3, "same text", 0.9),   # tie -> smaller id loses to 2
        (4, "other text", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    got = {r.doc_id: r.n_copies for r in exact_dedup_by(df, "text", "doc_id", "quality").collect()}
    assert got == {2: 3, 4: 1}
    # ascending policy: keep the LOWEST quality copy
    low = {r.doc_id for r in exact_dedup_by(df, "text", "doc_id", "quality", descending=False).collect()}
    assert low == {1, 4}


def test_repetition_features_hand_computed(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import (
        repetition_features,
    )

    rows = [
        # "a b a b a": bigrams [a b, b a, a b, b a] -> top 2/4, dup 4/4
        #              trigrams [a b a, b a b, a b a] -> top 2/3, dup 2/3
        (1, "a b a b a"),
        # all-distinct tokens: top n-gram counts once, no duplicates
        (2, "w x y z"),
        # single token: no bigrams/trigrams exist -> NULL metrics
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_features(df, "text", "doc_id").collect()}
    r1 = got[1]
    assert r1.top_bigram_frac == 2 / 4 and r1.dup_bigram_frac == 1.0
    assert r1.top_trigram_frac == 2 / 3 and r1.dup_trigram_frac == 2 / 3
    r2 = got[2]
    assert r2.top_bigram_frac == 1 / 3 and r2.dup_bigram_frac == 0.0
    assert r2.top_trigram_frac == 1 / 2 and r2.dup_trigram_frac == 0.0
    r3 = got[3]
    assert r3.top_bigram_frac is None and r3.dup_bigram_frac is None
    assert r3.top_trigram_frac is None and r3.dup_trigram_frac is None


def test_jl_project_numpy_dual_and_distance_preservation(spark):
    import hashlib

    import numpy as np

    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        jl_project,
    )
    from imdb_top_250_etl_pipeline_spark.sources import load
    from tests.conftest import SF_CORRECT

    emb = load(spark, SF_CORRECT, "embeddings").limit(50)
    rows = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    out_dim = 4
    got = {}
    for r in jl_project(emb, out_dim=out_dim).collect():
        got.setdefault(r.vec_id, {})[r.out_dim] = r.y

    def sign(j, i):
        # the engine convention is h%2*2-1: even hash -> -1, odd -> +1
        h = int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:15], 16)
        return h % 2 * 2 - 1

    for vid, x in rows.items():
        xq = np.floor(x.astype(np.float64) * (1 << 20)).astype(np.int64)
        for j in range(out_dim):
            s = int(sum(int(xq[i]) * sign(j, i) for i in range(len(xq))))
            # integer sum + one exact power-of-two division -> equality
            assert got[vid][j] == s / (1 << 20), (vid, j)

    # JL property: projected squared distances track true ones within
    # loose distortion on average (sign projections, out_dim=4 is tiny,
    # so only a correlation sanity check — not a tight bound)
    ids = sorted(rows)[:10]
    true_d, proj_d = [], []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            xa, xb = rows[ids[a]], rows[ids[b]]
            pa = np.array([got[ids[a]][j] for j in range(out_dim)])
            pb = np.array([got[ids[b]][j] for j in range(out_dim)])
            true_d.append(float(((xa - xb) ** 2).sum()))
            proj_d.append(float(((pa - pb) ** 2).sum() / out_dim))
    corr = np.corrcoef(true_d, proj_d)[0, 1]
    assert corr > 0.2, corr


def test_prefix_jaccard_matches_brute_force(spark):
    import itertools
    import math

    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )
    from imdb_top_250_etl_pipeline_spark.sources import load
    from tests.conftest import SF_CORRECT

    t, n = 0.6, 3
    docs = load(spark, SF_CORRECT, "documents").where("doc_id < 120").select(
        "doc_id", "text"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_prefix(
            docs, "text", "doc_id", n=n, threshold=t
        ).collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}
    gsets = {
        i: {s[j : j + n] for j in range(len(s) - n + 1)}
        for i, s in texts.items()
        if len(s) >= n
    }
    want = {}
    for a, b in itertools.combinations(sorted(gsets), 2):
        inter = len(gsets[a] & gsets[b])
        union = len(gsets[a] | gsets[b])
        if union and inter / union >= t:
            want[(a, b)] = inter / union
    assert set(got) == set(want), (
        set(got) ^ set(want),
        len(got),
        len(want),
    )
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-12)


def test_prefix_jaccard_superset_of_banded(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from imdb_top_250_etl_pipeline_spark.sources import load
    from tests.conftest import SF_CORRECT

    docs = load(spark, SF_CORRECT, "documents").where("doc_id < 200")
    banded = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", bucket_cols=["lang"]
        ).collect()
    }
    prefix = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs_prefix(docs, "text", "doc_id").collect()
    }
    # the banded variant restricts to same-lang +/-1 length band; prefix
    # filtering has no such approximation, so its result must cover it
    assert banded <= prefix, banded - prefix


def test_collapse_exact_first_pairs_equal_representative_restriction(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        collapse_exact_first,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from imdb_top_250_etl_pipeline_spark.sources import load
    from tests.conftest import SF_SMOKE

    base = load(spark, SF_SMOKE, "documents").select("doc_id", "lang", "text")
    # plant exact clones: 3 copies of every doc under fresh ids
    clones = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    ).unionByName(base.withColumn("doc_id", F.col("doc_id") + 2_000_000))
    reps = {r.doc_id for r in base.collect()}  # min-id representative set

    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            collapse_exact_first(clones, "text", "doc_id"),
            "text",
            "doc_id",
            ["lang"],
        ).collect()
    }
    plain = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            base, "text", "doc_id", ["lang"]
        ).collect()
    }
    # collapsing 3x clones must reproduce exactly the representative
    # pairs — no clone-clique noise, nothing lost
    assert got == plain
    assert all(a in reps and b in reps for a, b in got)

    sh = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            collapse_exact_first(clones, "text", "doc_id"), "text", "doc_id"
        ).collect()
    }
    sh_plain = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(base, "text", "doc_id").collect()
    }
    assert sh == sh_plain


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup composition on planted duplicates
# ---------------------------------------------------------------------------


def test_semantic_dedup_planted_duplicates(spark):
    import pyspark.sql.functions as F

    from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    # two well-separated clusters; ids 1/2 and 10/11/12 are planted
    # near-identical groups, 3 and 13 are same-cluster but distinct
    rows = [
        (1, [1.0, 0.0, 0.01]),
        (2, [1.0, 0.0, 0.012]),    # dup of 1
        (3, [0.7, 0.7, 0.0]),      # cluster A, distinct direction
        (10, [0.0, 1.0, 0.02]),
        (11, [0.0, 1.0, 0.021]),   # dup of 10
        (12, [0.0, 0.998, 0.02]),  # dup of 10 (transitively of 11)
        (13, [0.0, 0.6, -0.8]),    # cluster B, distinct direction
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pin_scope():
        out = {
            r["vec_id"]: (r["group_id"], r["keep"])
            for r in semantic_dedup(
                corpus, cents, threshold=0.95
            ).collect()
        }
    # group representatives keep, other members drop
    assert out[1] == (1, True)
    assert out[2] == (1, False)
    assert out[10] == (10, True)
    assert out[11] == (10, False)
    assert out[12] == (10, False)
    # distinct vectors are unpaired: NULL group, kept
    assert out[3] == (None, True)
    assert out[13] == (None, True)


def test_semantic_dedup_misses_cross_cluster_by_design(spark):
    from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    # a near-identical pair placed EXACTLY on a cluster boundary so the
    # two members assign to different centroids: SemDeDup's documented
    # recall tradeoff is that such pairs are not flagged
    rows = [
        (1, [1.0, 0.999, 0.0]),   # assigns to centroid 100
        (2, [0.999, 1.0, 0.0]),   # assigns to centroid 200
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pin_scope():
        out = {
            r["vec_id"]: r["keep"]
            for r in semantic_dedup(corpus, cents, threshold=0.95).collect()
        }
    assert out == {1: True, 2: True}


def test_rrf_fusion_hand_computed(spark):
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        rrf_fusion,
    )

    # query 1: doc 10 is rank 1 lexically and rank 2 semantically; doc
    # 20 appears only semantically (rank 1); doc 30 only lexically
    # (rank 2).  floor(1e9/(60+r)) terms: r1=16393442, r2=16129032.
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 30, 2)], "query_id long, id long, rank int"
    )
    vec = spark.createDataFrame(
        [(1, 20, 1), (1, 10, 2)], "query_id long, id long, rank int"
    )
    out = {
        r["id"]: (r["rrf_scaled"], r["n_lists"], r["fused_rank"])
        for r in rrf_fusion([lex, vec], ["query_id"], "id").collect()
    }
    r1, r2 = 10**9 // 61, 10**9 // 62
    assert out[10] == (r1 + r2, 2, 1)  # in both lists -> top fused
    assert out[20] == (r1, 1, 2)
    assert out[30] == (r2, 1, 3)


def test_rrf_fusion_tie_breaks_on_id(spark):
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        rrf_fusion,
    )

    # identical single-list ranks across two docs: equal scores, the
    # lower id must win the fused rank deterministically
    a = spark.createDataFrame(
        [(1, 7, 1), (1, 3, 1)], "query_id long, id long, rank int"
    )
    out = {
        r["id"]: r["fused_rank"]
        for r in rrf_fusion([a], ["query_id"], "id").collect()
    }
    assert out == {3: 1, 7: 2}


def test_mmr_rerank_matches_numpy_dual(spark):
    """The distributed MMR must reproduce a pure-numpy greedy MMR
    exactly (same selection, same order) on the sf0.001 fixture."""
    import numpy as np

    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    queries = e.where(F.col("vec_id") % 50 == 0)
    cands = brute_force_topk(e, queries, k=20)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in mmr_rerank(cands, e, queries, k=10, lam=0.7).collect()
    }

    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in e.collect()
    }
    cand_rows = cands.collect()
    by_q: dict[int, list[int]] = {}
    for r in cand_rows:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    lam = 0.7
    for qid, ids in by_q.items():
        ids = sorted(ids)
        q = vecs[qid]
        V = np.stack([vecs[i] for i in ids])
        norms = np.linalg.norm(V, axis=1)
        rel = V @ q / (norms * np.linalg.norm(q))
        sims = (V @ V.T) / np.outer(norms, norms)
        selected, remaining = [], list(range(len(ids)))
        while remaining and len(selected) < 10:
            red = (
                sims[np.ix_(remaining, selected)].max(axis=1)
                if selected
                else np.zeros(len(remaining))
            )
            score = lam * rel[remaining] - (1 - lam) * red
            best = remaining[int(np.argmax(score))]
            selected.append(best)
            remaining.remove(best)
        for rank, idx in enumerate(selected, 1):
            assert got[(qid, rank)] == ids[idx], (qid, rank)


def test_mmr_rerank_demotes_planted_redundancy(spark):
    """Two near-identical highly-relevant candidates: plain ranking
    puts them adjacent; MMR must select the diverse third vector ahead
    of the duplicate."""
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),       # near-clone of 2, slightly less
                                        # aligned with the query
            (2, [0.999, 0.01, 0.0]),    # most relevant (closest direction)
            (3, [0.6, 0.8, 0.0]),       # diverse, still relevant
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0])], "vec_id long, embedding array<double>"
    )
    cands = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3)], "query_id long, neighbor_id long"
    )
    order = [
        r["neighbor_id"]
        for r in mmr_rerank(cands, corpus, queries, k=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    # plain relevance ranking would be [2, 1, 3]; MMR promotes the
    # diverse vector 3 over 1 (a near-clone of the already-selected 2)
    assert order == [2, 3, 1]


# ---------------------------------------------------------------------------
# span_dedup (exact-substring span dedup) — hand fixtures; the sf0.01
# corpus run is oracle-checked in test_oracle_parity[text_span_dedup].
# ---------------------------------------------------------------------------


def _span_fixture(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import span_dedup

    rows = [
        # canonical owner of the shared passage (min doc_id)
        (1, "alpha beta gamma delta unique one two"),
        # quotes the passage mid-text: loses exactly those 4 tokens
        (2, "intro words alpha beta gamma delta outro"),
        # verbatim clone of doc 1: every token covered, trims to empty
        (3, "alpha beta gamma delta unique one two"),
        # no duplicated span: unchanged
        (4, "totally fresh material nothing shared here"),
        # shorter than k: no spans at all
        (5, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = span_dedup(df, "doc_id", "text", k=4, min_docs=2)
    return {r.doc_id: r for r in out.collect()}


def test_span_dedup_canonical_keeps_passage(spark):
    got = _span_fixture(spark)
    # min-id owner keeps its text verbatim
    assert got[1].clean_text == "alpha beta gamma delta unique one two"
    assert got[1].n_kept == 7
    # doc 1 and 3 are identical, so EVERY doc-1 span is duplicated
    assert got[1].n_dup_spans == got[1].n_spans == 4


def test_span_dedup_trims_only_the_quoted_span(spark):
    got = _span_fixture(spark)
    # doc 2 shares only the 4-token passage; overlap with doc 1/3 spans
    # beyond it does not exist, so exactly those tokens go
    assert got[2].clean_text == "intro words outro"
    assert got[2].n_kept == 3
    assert got[2].n_dup_spans == 1 and got[2].n_spans == 4


def test_span_dedup_clone_trims_to_empty(spark):
    got = _span_fixture(spark)
    # non-canonical verbatim clone: overlapping spans cover every token
    assert got[3].clean_text == "" and got[3].n_kept == 0
    assert got[3].n_dup_spans == got[3].n_spans == 4
    assert got[3].dup_span_frac == 1.0


def test_span_dedup_untouched_and_short_docs(spark):
    got = _span_fixture(spark)
    assert got[4].clean_text == "totally fresh material nothing shared here"
    assert got[4].n_dup_spans == 0 and got[4].dup_span_frac == 0.0
    # sub-k doc: zero spans, NULL frac, text unchanged
    assert got[5].n_spans == 0 and got[5].dup_span_frac is None
    assert got[5].clean_text == "tiny doc" and got[5].n_kept == 2


# ---------------------------------------------------------------------------
# dsir_importance (hashed n-gram importance resampling weights) — exact
# Python dual on a hand corpus; the sf0.01 corpus run is oracle-checked
# in test_oracle_parity[text_dsir_importance].
# ---------------------------------------------------------------------------


def _dsir_python_dual(pool, target, buckets):
    """Bit-exact reimplementation of the DSIR math in plain Python."""
    import hashlib
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def grams(text):
        toks = text.split(" ")
        return toks + [
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        ]

    def bucket(g):
        h = hashlib.md5(f"dsir:{g}".encode()).hexdigest()[:15]
        return int(h, 16) % buckets

    q = Counter(bucket(g) for _, t in pool for g in grams(t))
    tc = Counter(bucket(g) for t in target for g in grams(t))
    qt, tt = sum(q.values()), sum(tc.values())
    w = {
        b: int(
            Decimal(
                1e6
                * (
                    math.log(tc.get(b, 0) + 1)
                    - math.log(tt + buckets)
                    - math.log(q[b] + 1)
                    + math.log(qt + buckets)
                )
            ).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )
        for b in q
    }
    out = {}
    for doc_id, t in pool:
        bs = [bucket(g) for g in grams(t)]
        out[doc_id] = (len(bs), sum(w[b] for b in bs))
    return out


def test_dsir_importance_exact_python_dual(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import (
        dsir_importance,
    )

    pool = [
        (1, "the cat sat on the mat"),
        (2, "stack trace null pointer exception thrown"),
        (3, "the dog sat on the rug"),
        (4, "kernel panic segfault core dumped"),
        (5, "the cat and the dog sat"),
    ]
    target = ["the cat sat", "the dog sat on the mat", "the cat and dog"]
    df = spark.createDataFrame(pool, ["doc_id", "text"])
    tdf = spark.createDataFrame([(t,) for t in target], ["text"])
    got = {
        r.doc_id: r
        for r in dsir_importance(df, tdf, "doc_id", "text", buckets=64)
        .collect()
    }
    want = _dsir_python_dual(pool, target, buckets=64)
    assert set(got) == set(want)
    for doc_id, (n_grams, scaled) in want.items():
        assert got[doc_id].n_grams == n_grams, doc_id
        assert got[doc_id].score_scaled == scaled, doc_id
        assert got[doc_id].score == scaled / 1e6, doc_id


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import (
        dsir_importance,
    )

    # prose docs share the target's n-gram mass; log docs share none —
    # the importance weight must separate them with a clean margin
    pool = [
        (1, "the cat sat on the mat"),
        (2, "stack trace null pointer exception thrown"),
        (3, "the dog sat on the rug"),
        (4, "kernel panic segfault core dumped"),
    ]
    target = ["the cat sat on the mat", "the dog sat on the mat"]
    df = spark.createDataFrame(pool, ["doc_id", "text"])
    tdf = spark.createDataFrame([(t,) for t in target], ["text"])
    got = {
        r.doc_id: r.score
        for r in dsir_importance(df, tdf, "doc_id", "text", buckets=256)
        .collect()
    }
    assert min(got[1], got[3]) > max(got[2], got[4])


def test_dsir_target_predicate_equals_two_frame_form(spark):
    """Round-14: when the target is a predicate slice of the pool, the
    flag-through-the-one-feature-pass form must produce EXACTLY the
    two-frame form's integers (the target histogram is the sum of
    per-doc counts over target docs — the identical multiset)."""
    from pyspark.sql import functions as F

    from imdb_top_250_etl_pipeline_spark.operators.text import (
        dsir_importance,
    )

    pool = [
        (1, "the cat sat on the mat", "en"),
        (2, "stack trace null pointer exception thrown", "log"),
        (3, "the dog sat on the rug", "en"),
        (4, "kernel panic segfault core dumped", "log"),
        (5, "the cat and the dog sat", "de"),
    ]
    df = spark.createDataFrame(pool, ["doc_id", "text", "lang"])
    tdf = df.where(F.col("lang") == "en").select("text")
    two_frame = {
        tuple(r)
        for r in dsir_importance(df, tdf, "doc_id", "text", buckets=64)
        .collect()
    }
    flagged = {
        tuple(r)
        for r in dsir_importance(
            df, None, "doc_id", "text", buckets=64,
            target_predicate=F.col("lang") == "en",
        ).collect()
    }
    assert flagged == two_frame
    # exactly one of target / target_predicate must be supplied
    import pytest

    with pytest.raises(ValueError):
        dsir_importance(df, None, "doc_id", "text", buckets=64)
    with pytest.raises(ValueError):
        dsir_importance(
            df, tdf, "doc_id", "text", buckets=64,
            target_predicate=F.col("lang") == "en",
        )


# ---------------------------------------------------------------------------
# product quantization (pq_train / pq_encode / pq_topk / pq_refine_topk)
# — hand-codebook exact duals + recall floor; the sf corpus run rides
# sim_topk_battery (part=pq), rows-only by design.
# ---------------------------------------------------------------------------


def _hand_books(spark):
    # m=2 subspaces of 2 dims, ksub=3 codes each — axis-aligned anchors
    rows = [
        (0, 0, [0.0, 0.0]),
        (0, 1, [1.0, 0.0]),
        (0, 2, [0.0, 1.0]),
        (1, 0, [0.0, 0.0]),
        (1, 1, [2.0, 0.0]),
        (1, 2, [0.0, 2.0]),
    ]
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("sub", IntegerType()),
            StructField("code", IntegerType()),
            StructField("cvec", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_pq_encode_hand_codebook_exact(spark):
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        pq_encode,
    )

    vecs = [
        (10, [0.9, 0.1, 1.9, 0.1]),  # -> code 1 in both subspaces
        (11, [0.1, 1.1, 0.2, 1.8]),  # -> code 2 in both
        (12, [0.1, 0.1, 0.1, 0.1]),  # -> code 0 in both
        (13, [0.5, 0.5, 1.0, 1.0]),  # ties: sub0 equidistant 0/1/2 -> 0
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        r.vec_id: r.codes
        for r in pq_encode(df, _hand_books(spark), m=2).collect()
    }
    assert got[10] == [1, 1]
    assert got[11] == [2, 2]
    assert got[12] == [0, 0]
    # sub0 [0.5,0.5]: d2 to codes 0/1/2 all 0.5 -> lowest code wins;
    # sub1 [1.0,1.0]: d2 = 2.0 / 2.0 / 2.0 -> code 0
    assert got[13] == [0, 0]


def test_pq_topk_adc_matches_numpy_dual(spark):
    import numpy as np

    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    rng = np.random.RandomState(7)
    corpus = [(i, rng.randn(4).round(3).tolist()) for i in range(40)]
    df = spark.createDataFrame(corpus, ["vec_id", "embedding"])
    books = _hand_books(spark)
    index = pq_encode(df, books, m=2)
    queries = df.where(F.col("vec_id") < 3)
    got = pq_topk(index, queries, books, k=7, m=2).collect()

    # numpy dual: same codebooks, same ADC math, same tie-break
    cb = np.array(
        [[[0, 0], [1, 0], [0, 1]], [[0, 0], [2, 0], [0, 2]]], dtype=float
    )
    codes = {}
    for i, v in corpus:
        v = np.array(v)
        codes[i] = [
            int(np.argmin(((cb[s] - v[2 * s : 2 * s + 2]) ** 2).sum(1)))
            for s in range(2)
        ]
    for qid, qv in corpus[:3]:
        qv = np.array(qv)
        dtab = np.array(
            [((cb[s] - qv[2 * s : 2 * s + 2]) ** 2).sum(1) for s in range(2)]
        )
        cand = sorted(
            (
                (sum(dtab[s][codes[i][s]] for s in range(2)), i)
                for i, _ in corpus
                if i != qid
            )
        )[:7]
        want = [i for _, i in cand]
        mine = [
            r.neighbor_id
            for r in sorted(
                (r for r in got if r.query_id == qid),
                key=lambda r: r.rank,
            )
        ]
        assert mine == want, (qid, mine, want)


def test_pq_refined_recall_floor(spark):
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_refine_topk,
        pq_train,
    )

    e = (
        load(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
    )
    q = e.where(F.col("vec_id") % 50 == 0)
    seeds = e.where(F.col("vec_id") % 29 == 0)
    books = pq_train(e, seeds, m=16, ksub=16, iterations=3)
    assert books.count() == 16 * 16  # empty-cluster convention holds
    index = pq_encode(e, books, m=16)
    got = pq_refine_topk(index, q, books, e, k=5, shortlist=100, m=16)
    g = {(r.query_id, r.neighbor_id) for r in got.collect()}
    x = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(e, q, k=5).collect()
    }
    # measured 0.98 on this fixture; 0.9 leaves room for k-means fp
    # wobble without ever passing a broken shortlist
    assert len(g & x) >= 0.9 * len(x), (len(g & x), len(x))


# ---------------------------------------------------------------------------
# perplexity_buckets (CCNet per-language terciles) — hand fixtures; the
# sf0.01 corpus run is oracle-checked in
# test_oracle_parity[text_ccnet_buckets].
# ---------------------------------------------------------------------------


def test_perplexity_buckets_boundaries_and_short_docs(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import (
        perplexity_buckets,
    )

    # 7 scorable en docs -> rank arithmetic (rank-1)*3 DIV 7 + 1 gives
    # bucket sizes 3/2/2; one sub-2-token doc must land in 'short'
    rows = [
        (1, "aa bb aa bb aa bb", "en"),
        (2, "aa bb aa bb cc dd", "en"),
        (3, "cc dd cc dd cc dd", "en"),
        (4, "aa bb cc dd ee ff", "en"),
        (5, "ee ff ee ff ee ff", "en"),
        (6, "aa cc ee bb dd ff", "en"),
        (7, "ff ee dd cc bb aa", "en"),
        (8, "tiny", "en"),
        (9, "aa bb aa bb", "de"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        r.doc_id: r
        for r in perplexity_buckets(df, "doc_id", "text", "lang").collect()
    }
    assert len(got) == 9
    assert got[8].bucket == "short"
    assert got[8].bucket_id is None and got[8].ppl is None
    # the single de doc is its own head tercile
    assert got[9].bucket == "head" and got[9].bucket_id == 1
    en = [got[i] for i in range(1, 8)]
    from collections import Counter

    sizes = Counter(r.bucket for r in en)
    assert sizes == {"head": 3, "middle": 2, "tail": 2}
    # bucket order must agree with the (ppl, doc_id) order
    ordered = sorted(en, key=lambda r: (r.ppl, r.doc_id))
    assert [r.bucket for r in ordered] == (
        ["head"] * 3 + ["middle"] * 2 + ["tail"] * 2
    )


# ---------------------------------------------------------------------------
# corpus_js_divergence — exact Python dual + bound/identity properties;
# the sf0.01 run is oracle-checked in
# test_oracle_parity[text_js_divergence].
# ---------------------------------------------------------------------------


def test_js_divergence_exact_python_dual_and_bounds(spark):
    import hashlib
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from imdb_top_250_etl_pipeline_spark.operators.text import (
        corpus_js_divergence,
    )

    B = 32
    rows = [
        ("news", "the cat sat on the mat"),
        ("news", "the dog sat on the rug"),
        ("code", "def foo return bar end"),
        ("code", "class baz import sys end"),
        # clone of news' token stream -> js(news, same) must be exactly 0
        ("same", "the cat sat on the mat"),
        ("same", "the dog sat on the rug"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    got = {
        (r.group_a, r.group_b): (r.js_scaled, r.js)
        for r in corpus_js_divergence(df, "source", "text", buckets=B)
        .collect()
    }
    assert len(got) == 3

    def bucket(g):
        h = hashlib.md5(f"jsd:{g}".encode()).hexdigest()[:15]
        return int(h, 16) % B

    hists, tots = {}, {}
    for src in ("news", "code", "same"):
        c = Counter(
            bucket(g)
            for s, t in rows
            if s == src
            for g in t.split(" ")
        )
        hists[src] = c
        tots[src] = sum(c.values())

    def p(src, b):
        return (hists[src].get(b, 0) + 1) / (tots[src] + B)

    for a, b in [("code", "news"), ("code", "same"), ("news", "same")]:
        want = 0
        for bk in range(B):
            pa, pb = p(a, bk), p(b, bk)
            term = 0.5 * (
                pa * math.log(2.0 * pa / (pa + pb))
                + pb * math.log(2.0 * pb / (pa + pb))
            )
            want += int(
                Decimal(1e9 * term).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
        assert got[(a, b)][0] == want, (a, b, got[(a, b)][0], want)
        assert got[(a, b)][1] == want / 1e9
    # identical distributions -> exactly zero; all pairs within [0, ln2]
    assert got[("news", "same")][0] == 0
    for js_scaled, js in got.values():
        assert 0 <= js <= math.log(2.0) + 1e-12
    # disjoint vocabularies diverge far more than the identical pair
    assert got[("code", "news")][1] > 10 * got[("news", "same")][1]


def test_containment_finds_quotes_jaccard_misses(spark):
    import pyspark.sql.functions as F

    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        containment_pairs,
    )

    quote = "the five boxing wizards jump quickly over everything "
    long_doc = (
        "completely unrelated preamble text goes here first " * 4
        + quote
        + "and then a very long unrelated tail keeps going on " * 4
    )
    docs = [
        (1, long_doc),
        (2, quote),  # fully contained in 1
        (3, "nothing in common with either of those documents!!"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r.id_a, r.id_b): r
        for r in containment_pairs(
            df, "text", "doc_id", n=5, threshold=(4, 5), max_gram_freq=50
        ).collect()
    }
    assert (1, 2) in out and len(out) == 1
    r = out[(1, 2)]
    # every distinct 5-gram of the quote occurs in the long doc
    assert r.containment == 1.0 and r.shared == r.n_b
    # the same pair is invisible to symmetric Jaccard at any real cut:
    # union is dominated by the long side
    jac = r.shared / (r.n_a + r.n_b - r.shared)
    assert jac < 0.35
    # exact python dual for the emitted sizes
    def grams(t):
        return {t[i : i + 5] for i in range(len(t) - 4)}

    ga, gb = grams(long_doc), grams(quote)
    assert r.n_a == len(ga) and r.n_b == len(gb)
    assert r.shared == len(ga & gb)
    # stop-gram cap: with every gram shared by all 3 copies and the cap
    # below that document frequency, nothing can pair
    trip = spark.createDataFrame(
        [(i, "identical text everywhere " * 3) for i in range(3)],
        ["doc_id", "text"],
    )
    assert (
        containment_pairs(
            trip, "text", "doc_id", n=5, threshold=(1, 2), max_gram_freq=2
        ).count()
        == 0  # every gram's doc frequency is 3 > cap 2: all dropped
    )


def test_gopher_rules_hand_fixture(spark):
    import pyspark.sql.functions as F

    from imdb_top_250_etl_pipeline_spark.operators.text import (
        gopher_quality_filter,
    )

    good = "the cat sat of the mat and went to sleep in peace " * 6
    docs = [
        (1, good),  # passes everything
        (2, "too short of a doc"),  # fails word floor
        (3, ("#tag " * 20 + "the of and to in a word here ok " * 8)),  # symbols
        (4, "\n".join(["- bullet point here"] * 10) + "\nthe of a"),  # bullets
        (5, ("zz " * 60)),  # mean word len 2 < 3 AND no stopwords
        (6, good.replace("the", "000").replace("of", "111")),  # alpha+stop
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in gopher_quality_filter(df, "text", "doc_id").collect()}
    assert out[1].gopher_keep is True
    assert out[2].gopher_keep is False and out[2].r_word_count is False
    assert out[3].r_symbol_ratio is False
    assert out[4].r_bullet_lines is False
    assert out[5].r_mean_word_len is False and out[5].r_stopwords is False
    # python dual for the counting rules on the good doc
    words = good.split(" ")
    assert out[1].n_words == len(words)
    assert out[1].sum_word_len == sum(len(w) for w in words)
    # empty doc: all-FALSE, never NULL
    empty = gopher_quality_filter(
        spark.createDataFrame([(9, "")], ["doc_id", "text"]), "text", "doc_id"
    ).collect()[0]
    assert empty.gopher_keep is False and empty.r_stopwords is False


def test_ngram_novelty_exact_python_dual(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import ngram_novelty

    docs = [
        (1, "abcdef"),  # all grams novel (first doc)
        (2, "abcxyz"),  # shares abc with doc 1
        (3, "abcdef"),  # exact clone of doc 1: novelty 0
        (4, "ab"),  # shorter than n: no grams, no output row
        (5, "aaaa"),  # one distinct gram 'aaa', first seen here
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in ngram_novelty(df, "text", "doc_id", n=3).collect()}

    # exact python dual: first-occurrence ownership by ascending doc_id
    seen = {}
    for did, text in sorted(docs):
        for g in {text[i : i + 3] for i in range(len(text) - 2)}:
            seen.setdefault(g, did)
    for did, text in docs:
        grams = {text[i : i + 3] for i in range(len(text) - 2)}
        if not grams:
            assert did not in out
            continue
        novel = sum(1 for g in grams if seen[g] == did)
        r = out[did]
        assert r.n_grams == len(grams), (did, r)
        assert r.n_novel == novel, (did, r)
        assert abs(r.novelty - novel / len(grams)) < 1e-15

    assert out[1].novelty == 1.0
    assert out[3].novelty == 0.0
    assert out[5].n_grams == 1 and out[5].novelty == 1.0


def test_char_entropy_exact_python_dual(spark):
    import math

    from imdb_top_250_etl_pipeline_spark.operators.text import char_entropy

    docs = [
        (1, "aaaa"),  # zero entropy: one symbol
        (2, "abab"),  # exactly ln 2
        (3, "abcd"),  # uniform over 4: ln 4
        (4, ""),  # empty: no output row
        (5, "aab"),  # skewed two-symbol
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in char_entropy(df, "text", "doc_id").collect()}

    assert 4 not in out
    for did, text in docs:
        if not text:
            continue
        from collections import Counter

        c = Counter(text)
        n = len(text)
        expect = round(
            math.log(n) - sum(v * math.log(v) for v in c.values()) / n, 6
        )
        r = out[did]
        assert r.n_chars == n and r.n_distinct_chars == len(c)
        assert abs(r.entropy - expect) < 1e-12, (did, r.entropy, expect)

    assert out[1].entropy == 0.0
    assert abs(out[2].entropy - round(math.log(2), 6)) < 1e-12
    assert abs(out[3].entropy - round(math.log(4), 6)) < 1e-12


def test_association_rules_exact_python_dual(spark):
    from imdb_top_250_etl_pipeline_spark.operators.analytics import (
        association_rules,
    )

    baskets = {
        1: {"a", "b", "c"},
        2: {"a", "b"},
        3: {"a", "c"},
        4: {"b", "c"},
        5: {"a", "b", "c"},
        6: {"d"},  # singleton: contributes to N, no pairs
    }
    rows = [(bk, it) for bk, items in baskets.items() for it in items]
    # duplicate (basket, item) rows must not inflate counts
    rows += [(1, "a"), (2, "b")]
    df = spark.createDataFrame(rows, ["bk", "it"])
    out = {
        (r.item_a, r.item_b): r
        for r in association_rules(
            df, "bk", "it", min_support=2, max_basket_items=64
        ).collect()
    }

    from itertools import combinations
    from collections import Counter

    n = len(baskets)
    c = Counter(it for items in baskets.values() for it in items)
    c_ab = Counter()
    for items in baskets.values():
        for x, y in combinations(sorted(items), 2):
            c_ab[(x, y)] += 1
    expect = {}
    for (x, y), cab in c_ab.items():
        if cab >= 2:
            expect[(x, y)] = cab
            expect[(y, x)] = cab
    assert set(out) == set(expect)
    for (x, y), cab in expect.items():
        r = out[(x, y)]
        assert (r.c_a, r.c_b, r.c_ab) == (c[x], c[y], cab)
        assert abs(r.confidence - cab / c[x]) < 1e-15
        assert abs(r.lift - n * cab / (c[x] * c[y])) < 1e-15

    # degenerate-basket guard: a basket past the cap drops WHOLE
    wide = [(99, f"w{i}") for i in range(10)]
    df2 = spark.createDataFrame(rows + wide, ["bk", "it"])
    capped = association_rules(
        df2, "bk", "it", min_support=1, max_basket_items=5
    )
    items_seen = {
        r.item_a for r in capped.collect()
    } | {r.item_b for r in capped.collect()}
    assert not any(i.startswith("w") for i in items_seen)


def test_vocab_profile_exact_python_dual(spark):
    from imdb_top_250_etl_pipeline_spark.operators.text import vocab_profile

    docs = [
        (1, "web", "the cat sat on the mat"),
        (2, "web", "the dog sat"),
        (3, "book", "a a a a"),  # template collapse: 1 type / 4 tokens
        (4, "book", "unique words only here"),
        (5, "ocr", ""),  # empty text: no tokens, still counted as a doc
    ]
    df = spark.createDataFrame(docs, ["doc_id", "source", "text"])
    out = {r.source: r for r in vocab_profile(df, "source", "text").collect()}

    from collections import Counter

    for src in ("web", "book"):
        words = [
            w
            for _, s, t in docs
            if s == src
            for w in t.split(" ")
            if w
        ]
        c = Counter(words)
        r = out[src]
        assert r.n_docs == sum(1 for _, s, _t in docs if s == src)
        assert r.n_tokens == len(words)
        assert r.n_types == len(c)
        assert r.n_hapax == sum(1 for v in c.values() if v == 1)
        assert abs(r.ttr - len(c) / len(words)) < 1e-15
    # template collapse visible: book TTR pulled down by doc 3
    assert out["book"].n_hapax == 4 and out["book"].n_types == 5
    # all-empty group: no vocab row survives the inner join (no tokens)
    assert "ocr" not in out


def test_flag_streaks_exact_python_dual(spark):
    from imdb_top_250_etl_pipeline_spark.operators.analytics import (
        flag_streaks,
    )

    # user 1: E E . E E E . E   -> streaks 2, 3, 1
    # user 2: . . .             -> none
    # user 3: E                 -> streak 1
    seq1 = ["E", "E", "x", "E", "E", "E", "x", "E"]
    rows = [(1, i, t) for i, t in enumerate(seq1)]
    rows += [(2, i, "x") for i in range(3)]
    rows += [(3, 0, "E")]
    df = spark.createDataFrame(rows, ["uid", "seq", "kind"])
    import pyspark.sql.functions as F

    out = flag_streaks(df, "uid", ["seq"], F.col("kind") == "E", min_len=1)
    got = sorted(
        (r.uid, r.streak_len, r.n_events_before, r.start_ts, r.end_ts)
        for r in out.collect()
    )
    # python dual: maximal runs by direct scan; the island key equals
    # unflagged events before the run start (rn_all - rn_flag)
    expect = []
    for uid, seq in ((1, seq1), (2, ["x"] * 3), (3, ["E"])):
        run, start = 0, None
        for i, t in enumerate(seq + ["x"]):  # sentinel closes a tail run
            if t == "E":
                if run == 0:
                    start = i
                run += 1
            elif run:
                unflagged_before = start - sum(
                    1 for x in seq[:start] if x == "E"
                )
                expect.append((uid, run, unflagged_before, start, i - 1))
                run = 0
    assert got == sorted(expect)

    # min_len filters short runs
    out2 = flag_streaks(df, "uid", ["seq"], F.col("kind") == "E", min_len=2)
    assert sorted((r.uid, r.streak_len) for r in out2.collect()) == [
        (1, 2),
        (1, 3),
    ]


def test_winnow_fingerprints_exact_python_dual(spark):
    import hashlib

    from imdb_top_250_etl_pipeline_spark.operators.text import (
        winnow_fingerprints,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        # shares the >= w+k-1 = 6-word run with doc 1
        (2, "something else then the quick brown fox jumps over the lazy dog inside"),
        (3, "tiny doc"),  # < k tokens: no fingerprints
        (4, "one two three"),  # exactly k: single truncated window
        (5, "x x x x x x x x"),  # identical grams: tie-break stress
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_id, r.fp_pos, r.fp_hash)
        for r in winnow_fingerprints(df, "text", "doc_id", k=3, w=4).collect()
    }

    def winnow(text, k=3, w=4):
        tk = text.lower().split(" ")
        if len(tk) < k:
            return set()
        grams = [" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        sel = set()
        for p in range(max(len(hs) - w + 1, 1)):
            win = hs[p : p + w]
            m = min(win)
            j = max(i for i, v in enumerate(win) if v == m)  # rightmost
            sel.add((p + j + 1, m))
        return sel

    exp = {(d, p, h) for d, t in docs for p, h in winnow(t)}
    assert got == exp
    # the winnowing guarantee: a shared >= w+k-1-word run means a
    # shared selected fingerprint
    h1 = {h for d, p, h in got if d == 1}
    h2 = {h for d, p, h in got if d == 2}
    assert h1 & h2
    # identical-gram doc: every window selects its rightmost position,
    # all the same hash
    assert len({h for d, p, h in got if d == 5}) == 1


def test_quantile_normalize_exact_python_dual(spark):
    from imdb_top_250_etl_pipeline_spark.operators.profiling import (
        quantile_normalize,
    )

    rows = [
        # source A: shifted high; source B: same shape shifted low,
        # different size — the cross-source calibration scenario
        ("A", 1, 50), ("A", 2, 60), ("A", 3, 70), ("A", 4, 80),
        ("B", 5, 5), ("B", 6, 6), ("B", 7, 7), ("B", 8, 8),
        ("B", 9, 9), ("B", 10, 10), ("B", 11, 11), ("B", 12, 12),
        # a third single-row source: rank 1 of 1 -> pooled max
        ("C", 13, 1),
    ]
    df = spark.createDataFrame(rows, ["src", "id", "v"])
    got = {
        r.id: (r.src_rank, r.pooled_target, r.norm_value)
        for r in quantile_normalize(df, "src", "v", "id").collect()
    }

    n = len(rows)
    pooled = sorted((v, i) for s, i, v in rows)
    by_src = {}
    for s, i, v in rows:
        by_src.setdefault(s, []).append((v, i))
    exp = {}
    for s, items in by_src.items():
        items.sort()
        ng = len(items)
        for r, (v, i) in enumerate(items, 1):
            t = (r * n + ng - 1) // ng
            exp[i] = (r, t, pooled[t - 1][0])
    assert got == exp
    # calibration property: the top row of EVERY source maps to the
    # pooled maximum, erasing the per-source shift
    assert got[4][2] == got[12][2] == got[13][2] == 80


def test_pmi_collocations_exact_python_dual(spark):
    import collections
    import math

    from imdb_top_250_etl_pipeline_spark.operators.text import (
        pmi_collocations,
    )

    docs = [
        (1, "new york new york new york city"),
        (2, "old york new york and new things"),
        (3, "x"),  # sub-bigram doc contributes nothing
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.w1, r.w2): (r.c_xy, r.c_x, r.c_y, r.n_pairs, r.pmi)
        for r in pmi_collocations(df, "text", min_count=2).collect()
    }

    c = collections.Counter()
    for _, t in docs:
        w = t.split(" ")
        c.update(zip(w, w[1:]))
    n = sum(c.values())
    cx, cy = collections.Counter(), collections.Counter()
    for (a, b), k in c.items():
        cx[a] += k
        cy[b] += k
    exp = {
        (a, b): (
            k, cx[a], cy[b], n,
            round(math.log(k * n / (cx[a] * cy[b])), 6),
        )
        for (a, b), k in c.items()
        if k >= 2
    }
    assert got == exp
    # the genuine collocation outscores the incidental reversal
    assert got[("new", "york")][4] > got[("york", "new")][4]


def test_interarrival_burstiness_exact(spark):
    import datetime as dt
    import math

    from imdb_top_250_etl_pipeline_spark.operators.analytics import (
        interarrival_burstiness,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):  # periodic: cv2 = 0, burstiness = -1
        rows.append((1, i, t0 + dt.timedelta(seconds=60 * i)))
    s = 0
    for i, g in enumerate([0, 1, 1, 1, 600]):  # bursty
        s += g
        rows.append((2, i, t0 + dt.timedelta(seconds=s)))
    rows.append((3, 0, t0))  # single event: no gaps, drops out
    rows.append((4, 0, t0))  # all-same-instant: NULL cv2/burstiness
    rows.append((4, 1, t0))
    df = spark.createDataFrame(rows, ["k", "seq", "ts"])
    out = {
        r.k: r
        for r in interarrival_burstiness(df, "k", ["ts", "seq"], "ts")
        .collect()
    }

    assert out[1].cv2 == 0.0 and out[1].burstiness == -1.0
    gaps = [1_000_000] * 3 + [600_000_000]
    n, sg = len(gaps), sum(gaps)
    sgg = sum(g * g for g in gaps)
    cv2 = (n * sgg - sg * sg) / (sg * sg)
    assert out[2].cv2 == cv2
    assert out[2].burstiness == round(
        (math.sqrt(cv2) - 1) / (math.sqrt(cv2) + 1), 6
    )
    assert out[2].burstiness > 0.2  # bursty side of 0
    assert out[2].mean_gap_us == sg / n
    assert 3 not in out
    assert out[4].cv2 is None and out[4].burstiness is None


def test_dup_rate_by_group_exact(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import (
        dup_rate_by_group,
    )

    rows = [
        ("w", "a"), ("w", "a"), ("w", "a"), ("w", "b"),  # 3-clone + unique
        ("x", "c"), ("x", "d"),                          # clean source
        ("y", "e"), ("y", "e"),                          # all-dup source
    ]
    out = {
        r.src: r
        for r in dup_rate_by_group(
            spark.createDataFrame(rows, ["src", "text"]), "src", "text"
        ).collect()
    }
    w = out["w"]
    assert (
        w.n_docs, w.n_distinct, w.n_clones, w.max_clone_count, w.dup_ppm
    ) == (4, 2, 3, 3, 500000)
    x = out["x"]
    assert (x.n_clones, x.max_clone_count, x.dup_ppm) == (0, 1, 0)
    y = out["y"]
    assert (y.n_docs, y.n_distinct, y.dup_ppm) == (2, 1, 500000)


def test_twin_id_guard_fires_on_offset_overlap(spark):
    """ADVICE r12: planted-twin fixtures assume doc_id < _TWIN_OFFSET;
    at a scale where ids reach the offset the invariant must ABORT
    loudly (assert_true in the twin-id expression), not silently alias
    twins onto real rows."""
    import pytest
    from pyspark.sql import functions as F

    from imdb_top_250_etl_pipeline_spark.plans.llm_data import (
        _TWIN_OFFSET,
        _twin_id,
    )

    ok = (
        spark.range(5)
        .select(_twin_id(F.col("id")).alias("t"))
        .collect()
    )
    assert [r.t for r in ok] == [_TWIN_OFFSET + i for i in range(5)]
    bad = spark.range(_TWIN_OFFSET - 1, _TWIN_OFFSET + 1).select(
        _twin_id(F.col("id")).alias("t")
    )
    with pytest.raises(Exception, match="planted-twin offset"):
        bad.collect()


def test_cosine_collapse_exact_bounds_clone_pairs(spark):
    """Round 13 (found by the 3-point scale probe): on a clone-dense
    corpus the cosine pair stage must NOT emit the clone-clique
    quadratic — composed after collapse_exact_vectors_first, which
    pre-collapses byte-identical vectors to min-id reps, pairs are
    emitted among reps only while planted near-dup recall is
    preserved."""
    from pyspark.sql import functions as F

    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        collapse_exact_vectors_first,
        cosine_near_dup_pairs,
    )

    # 20 distinct base vectors, each cloned 10x (exact), plus one
    # near-dup partner of base 0 (slightly perturbed)
    import numpy as np

    rng = np.random.default_rng(3)
    bases = rng.normal(size=(20, 16)).astype(float)
    rows = []
    for b in range(20):
        for c in range(10):
            rows.append((b * 10 + c, [float(x) for x in bases[b]]))
    near = bases[0] + 0.001
    rows.append((9999, [float(x) for x in near]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    reps = collapse_exact_vectors_first(df, "embedding", "vec_id")
    rep_ids = {r.vec_id for r in reps.select("vec_id").collect()}
    assert rep_ids == {b * 10 for b in range(20)} | {9999}

    pairs = cosine_near_dup_pairs(
        reps, "vec_id", "embedding", threshold=0.98
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # ONLY the planted near-dup pair among representatives — zero
    # clone-clique pairs (without collapse, each 10-clone clique emits
    # up to 45 pairs x 20 cliques)
    assert got == {(0, 9999)}, got

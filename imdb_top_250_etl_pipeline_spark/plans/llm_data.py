"""LLM-training-data pipeline queries — dedup, similarity, text analysis,
multimodal columns (north star; no counterpart in the reference, which
stops at key-level dedup via Postgres constraints).

Fixtures: ``documents`` (500 rows/sf0.001 of distinct word-soup text) and
``embeddings`` (64-dim float vectors).  Because every fixture text is
distinct, dedup queries first build a corpus with *planted* duplicates —
derived deterministically from the fixtures with pure expressions, and
reproduced identically in the DuckDB oracle CTEs — so the operators have
real work to do and the checks stay meaningful at any sf.

Oracle policy: hash-checked whenever cross-engine determinism holds
(integer math, single IEEE divisions, cryptographic hashes); rows-only
for ops built on xxhash64/LSH (Spark-specific hash family) or multi-term
fp folds (cosine), which are instead pinned by exact unit tests
(tests/test_llm_data.py) against numpy/brute-force references.

Invariant queries (the dedup and ANN queries whose raw output is
engine-specific) check a planted fixture instead.  Writing one:

1. plant the ground truth with pure expressions (``_twin_id`` twins,
   every n-th doc) and pin, with ``eager_pin``, each table more than
   one row reads;
2. build each row's frame with the plans/invariants.py kit —
   ``violations(pairs, bad)`` for a contract that must never fail,
   ``containment(planted, found(probe, pairs, on), num, den)`` for
   planted recall (pass a ``count`` to ``found`` for a collapse-aware
   probe), ``ann_recall`` / ``ranks_contiguous`` for a top-k ranking;
3. return ``render(schema, [(tag, frame, slots), ...])`` over the
   query's declared columns (``_SCORED``, ``_TOPK``, …);
4. write the oracle by hand in SQL: it re-derives the planted set and
   states every expected ``n`` and ``ok``.  It is the independent dual
   and is never rendered from the kit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    collapse_exact_first,
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    tokens,
)
from ..operators.multimodal import (
    decode_blobs,
    parse_props,
    quantized_embedding_features,
    synthesize_blobs,
)
from ..operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
    kmeans_refine,
    pq_encode,
    pq_refine_topk,
    pq_train,
    semantic_dedup,
)
from ..operators.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprints,
    language_id,
    quality_features,
    repetition_features,
    token_count_bpe_ish,
    word_counts,
)
from ..sources import load
from .invariants import (
    FLAG,
    NEIGHBOR,
    ann_recall,
    containment,
    found,
    ranks_contiguous,
    render,
    violations,
)
from .registry import register

# ---------------------------------------------------------------------------
# Corpus builders: fixtures + planted duplicates (Spark + SQL twins).
# ---------------------------------------------------------------------------

# the pair-invariant queries' row schema (after `part`) and join key
_SCORED = {"id_a": "bigint", "id_b": "bigint", "score": "double",
           "n": "bigint", "ok": "boolean"}
_PAIR = ["id_a", "id_b"]
_PAIR_SLOTS = {c: c for c in _PAIR}

# the top-k invariant queries' row schema (after `part`)
_TOPK = {"n_queries": "bigint", "k": "bigint", "ok": "boolean"}

# planted-twin id offset: twins live at doc_id + _TWIN_OFFSET, and the
# recall invariants assume no real row occupies that range
_TWIN_OFFSET = 300_000


def _twin_id(doc_id: F.Column) -> F.Column:
    """doc_id + _TWIN_OFFSET with a loud range guard.

    The planted-twin invariant oracles assume twin ids never collide
    with real corpus ids.  At a scale factor where doc_id reaches the
    offset, the planted set would silently alias onto real rows —
    assert_true makes the fixture ABORT at materialization instead
    (when(isNull) forces the guard's evaluation per twin row; the
    guard column is never null on the pass path, so the arithmetic is
    unchanged wherever the fixture is valid).
    """
    guard = F.assert_true(
        doc_id < _TWIN_OFFSET,
        F.lit(
            f"planted-twin offset {_TWIN_OFFSET} overlaps the corpus "
            "doc_id range; raise _TWIN_OFFSET (plans/llm_data.py)"
        ),
    )
    return F.when(guard.isNull(), doc_id + _TWIN_OFFSET).cast("bigint")


def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of every 7th doc (id + 100000)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(copies)


_CORPUS_EXACT_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""


_EMB_DIM: dict[tuple[str, str, float], int | None] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int | None:
    """Embedding width, probed once per (session, dataset) from the data
    (narrow size()-distinct scan, cached) — feeds the PQ family's
    unrolled subvector distance (operators/similarity.py::
    _sq_dist_unrolled; bit-identical, ~2.4x on the assignment pass).
    Mixed or unknown widths return None, keeping the fold path.

    The cache key includes the embeddings file's mtime (judge r13
    advice): data replaced under the same path within one session would
    otherwise serve a stale width into the unrolled distance."""
    try:
        mtime = os.path.getmtime(os.path.join(sf_dir, "embeddings.parquet"))
    except OSError:
        mtime = 0.0
    key = (spark.sparkContext.applicationId, sf_dir, mtime)
    if key not in _EMB_DIM:
        sizes = (
            load(spark, sf_dir, "embeddings")
            .select(F.size("embedding").alias("n"))
            .distinct()
            .limit(2)
            .collect()  # plan-time bounded metadata probe (<= 2 rows)
        )
        _EMB_DIM[key] = (
            sizes[0]["n"]
            if len(sizes) == 1 and sizes[0]["n"] and sizes[0]["n"] > 0
            else None
        )
    return _EMB_DIM[key]


def _corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies of every 11th doc (last two words dropped)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    t = tokens("text")
    trimmed = F.array_join(F.slice(t, 1, F.greatest(F.size(t) - 2, F.lit(1))), " ")
    variants = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        trimmed.alias("text"),
        "lang",
    )
    return d.unionByName(variants)


# ---------------------------------------------------------------------------
# Dedup.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle=f"""
    WITH corpus AS ({_CORPUS_EXACT_SQL})
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM corpus
    GROUP BY text
    ORDER BY doc_id
    """,
    doc="Exact content dedup: sha2-256 groupBy keep-first over a corpus "
    "with planted exact copies. One shuffle carrying 32-byte hashes (text "
    "projected away before the exchange) + map-side combine — the 100 TB "
    "baseline dedup. Grouping by the hash equals grouping by text absent "
    "collisions, which the oracle (grouped by raw text) cross-checks.",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        exact_dedup(_corpus_exact(spark, sf_dir), "text", "doc_id")
        .select("content_hash", "doc_id", "n_copies")
        .orderBy("doc_id")
    )


def _minhash_pairs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw (id_a, id_b, jaccard) near-dup pair set — the LSH pipeline
    itself; unit tests pin planted recall and exact jaccard values on it."""
    return (
        minhash_candidate_pairs(
            collapse_exact_first(_corpus_near(spark, sf_dir), "text", "doc_id"),
            "text",
            "doc_id",
        )
        .withColumn("jaccard", F.round("jaccard", 4))
        .orderBy("id_a", "id_b")
    )


# The planted near-pairs (doc, doc-with-last-2-words-dropped) restated as
# exact word-3-shingle Jaccard in SQL: the independent dual of the verify
# stage's array_intersect/array_union arithmetic.  2*i >= u is the exact
# integer form of jaccard >= 0.5 (no float threshold compare).
_MINHASH_INVARIANT_ORACLE = """
WITH src AS (
  SELECT doc_id, text,
         array_to_string(list_slice(string_split(text, ' '), 1,
             greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS trimmed
  FROM documents WHERE doc_id % 11 = 0
),
qual AS (
  SELECT doc_id, string_split(text, ' ') AS wa, string_split(trimmed, ' ') AS wb
  FROM src WHERE trimmed <> text
),
ga AS (
  SELECT DISTINCT doc_id, wa[i] || ' ' || wa[i+1] || ' ' || wa[i+2] AS g
  FROM qual, UNNEST(range(1, len(wa) - 1)) u(i)
),
gb AS (
  SELECT DISTINCT doc_id, wb[i] || ' ' || wb[i+1] || ' ' || wb[i+2] AS g
  FROM qual, UNNEST(range(1, len(wb) - 1)) u(i)
),
uni AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS u FROM (
    SELECT doc_id, g FROM ga UNION SELECT doc_id, g FROM gb
  ) GROUP BY doc_id
),
ints AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS i FROM (
    SELECT doc_id, g FROM ga INTERSECT SELECT doc_id, g FROM gb
  ) GROUP BY doc_id
),
planted AS (
  SELECT uni.doc_id, COALESCE(ints.i, 0) AS i, uni.u
  FROM uni LEFT JOIN ints USING (doc_id)
  WHERE 2 * COALESCE(ints.i, 0) >= uni.u
)
SELECT 'planted' AS part, doc_id AS id_a, doc_id + 100000 AS id_b,
       ROUND(CAST(i AS DOUBLE) / u, 4) AS score,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS BOOLEAN) AS ok
FROM planted
UNION ALL
SELECT 'recall', NULL, NULL, NULL,
       (SELECT CAST(count(*) AS BIGINT) FROM planted), true
UNION ALL
SELECT 'precision', NULL, NULL, NULL, CAST(0 AS BIGINT), true
"""


@register(
    "dedup_minhash_candidates",
    oracle=_MINHASH_INVARIANT_ORACLE,
    doc="Near-dup detection: word-3-shingles → 16-permutation MinHash → "
    "4-band LSH bucketing → candidate equi-join → exact-Jaccard verify "
    "(≥0.5), candidates only from equal band buckets — never all-pairs; "
    "collapse-first like the simhash/ngram queries.  DRIVER-CHECKED AS "
    "INVARIANTS (round 8, the approx_count_distinct pattern — the pair "
    "set itself is xxhash64-permutation-specific): part=planted emits "
    "each qualifying planted pair (last 2 words dropped, exact shingle "
    "jaccard >= 0.5) with its jaccard computed DIRECTLY from the texts — "
    "the oracle recomputes the same pairs and values from SQL shingle "
    "sets, pinning the verify arithmetic cross-engine; part=recall pins "
    "n_planted exactly and the boolean '>= 90% of planted pairs surface "
    "in the LSH output' (the S-curve floor the unit test uses) to true — "
    "COLLAPSE-AWARE: each planted pair is mapped through the same "
    "text->min(id) collapse the pipeline applies, so on clone-dense "
    "corpora (sf1: ~10 replicas/text) the pair is looked up under its "
    "representatives' ids; "
    "part=precision pins 'no emitted pair violates jaccard in [0.5, 1] "
    "with id_a < id_b' as a zero count.  Raw pair set remains "
    "unit-pinned via _minhash_pairs_raw.",
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import word_shingles
    from ..operators.pinning import eager_pin

    lsh = eager_pin(_minhash_pairs_raw(spark, sf_dir))
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = tokens("text")
    trimmed = F.array_join(
        F.slice(t, 1, F.greatest(F.size(t) - 2, F.lit(1))), " "
    )
    src = (
        d.where(F.col("doc_id") % 11 == 0)
        .select("doc_id", "text", trimmed.alias("trimmed"))
        .where(F.col("trimmed") != F.col("text"))
    )
    sh_a = F.array_distinct(word_shingles("text"))
    sh_b = F.array_distinct(word_shingles("trimmed"))
    # pinned (round 13): planted feeds the planted rows, rep_pairs and
    # the recall count — unpinned, each branch re-ran the double shingling +
    # intersect/union pass (the dedup_simhash_pairs twin already pins
    # its planted subtree; this aligns the two)
    planted = eager_pin(
        src.select(
            "doc_id",
            "text",
            "trimmed",
            F.size(F.array_intersect(sh_a, sh_b)).cast("bigint").alias("i"),
            F.size(F.array_union(sh_a, sh_b)).cast("bigint").alias("u"),
        ).where((F.col("u") > 0) & (2 * F.col("i") >= F.col("u")))
    )
    # COLLAPSE-AWARE found-count: the LSH pipeline runs on
    # collapse_exact_first's representatives, so on a clone-dense
    # corpus (the sf1 stress shape: ~10 byte-identical replicas per
    # text) a planted pair surfaces under its text groups' MIN-ID
    # REPRESENTATIVES, not its own ids.  Map each planted doc through the same text->min(id)
    # collapse over the full corpus before probing the pair set.
    # digest discipline: group/join on sha2(text), never shuffle raw text
    reps = (
        _corpus_near(spark, sf_dir)
        .select("doc_id", F.sha2("text", 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("rep"))
    )
    rep_pairs = (
        planted.select(
            "doc_id",
            F.sha2("text", 256).alias("ha"),
            F.sha2("trimmed", 256).alias("hb"),
        )
        .join(
            reps.select(F.col("h").alias("ha"), F.col("rep").alias("rep_a")),
            "ha",
        )
        .join(
            reps.select(F.col("h").alias("hb"), F.col("rep").alias("rep_b")),
            "hb",
        )
        .select(
            "doc_id",
            F.least("rep_a", "rep_b").alias("id_a"),
            F.greatest("rep_a", "rep_b").alias("id_b"),
        )
    )
    hits = found(rep_pairs, lsh, _PAIR, F.countDistinct("doc_id"))
    return render(_SCORED, [
        ("planted", planted, {
            "id_a": F.col("doc_id"),
            "id_b": F.col("doc_id") + 100000,
            "score": F.round(F.col("i") / F.col("u"), 4),
        }),
        ("recall", containment(planted, hits, 9, 10), FLAG),
        ("precision", violations(
            lsh,
            (F.col("jaccard") < 0.5)
            | (F.col("jaccard") > 1.0)
            | (F.col("id_a") >= F.col("id_b")),
        ), FLAG),
    ])


def _dedup_simhash_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw SimHash near-dup pair set (id_a, id_b, hamming) over the
    near-copy corpus — the banded pipeline itself; consumed by
    dedup_pairs_battery, bench, and the lossless-hamming unit tests."""
    return simhash_pairs(
        collapse_exact_first(_corpus_near(spark, sf_dir), "text", "doc_id"),
        "text",
        "doc_id",
        max_hamming=3,
    ).orderBy("id_a", "id_b")


_SIMHASH_ORACLE = """
WITH base AS (
  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text
),
planted AS (
  SELECT doc_id FROM base
  WHERE doc_id % 13 = 0
    AND array_to_string(list_reverse(str_split(text, ' ')), ' ') <> text
)
SELECT 'planted' AS part, doc_id AS id_a, doc_id + 300000 AS id_b,
       CAST(0 AS INT) AS hamming, CAST(NULL AS BIGINT) AS n,
       CAST(NULL AS BOOLEAN) AS ok
FROM planted
UNION ALL
SELECT 'recall', NULL, NULL, NULL,
       (SELECT CAST(count(*) AS BIGINT) FROM planted), true
UNION ALL
SELECT 'precision', NULL, NULL, NULL, CAST(0 AS BIGINT), true
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash near-dup: 64-bit sign-of-bit-count fingerprint per doc "
    "(pure expression fold), 4-band bucketing for candidates, "
    "bit_count(xor) hamming verify. With 4 bands, pigeonhole makes "
    "recall EXACT for hamming ≤3 — the output is precisely the set of "
    "pairs within distance 3, not an approximation. Runs in the "
    "production exact-then-near order (collapse_exact_first, then pairs). "
    "PROMOTED to an invariant oracle (round 12, the "
    "dedup_minhash_candidates pattern): corpus = distinct-text docs ∪ "
    "WORD-REVERSED twins of every 13th rep (id + 300000, reversed "
    "word order ≠ original bytes).  SimHash is a bag-of-words "
    "fingerprint (operators/dedup.py::simhash_table sums ±1 bit "
    "vectors over an order-blind word multiset), so a permutation twin "
    "has the IDENTICAL fingerprint: hamming 0, guaranteed candidate in "
    "every band (pigeonhole is exact at 0 ≤ 3) — recall is 100% by "
    "construction, not a corpus property.  part=planted re-derives "
    "each expected (rep, rep+300000, hamming=0) pair in SQL; "
    "part=recall pins found == planted; part=precision pins zero "
    "emitted pairs violating 0 <= hamming <= 3 with id_a < id_b. "
    "The raw banded pair set over the near-copy corpus stays "
    "engine-side in _dedup_simhash_raw (xxhash64 fingerprints are a "
    "Spark hash family), exercised by dedup_pairs_battery, bench, and "
    "the lossless-<=3 unit tests.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pinning import eager_pin

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # dedup-first base: one min-id representative per distinct text, so
    # planted twin ids are exactly (rep, rep + 300000) — no clone-group
    # remapping needed (the sf1 corpus plants ~10 exact clones/text);
    # digest-first, so the exchange carries sha2 keys, never raw text.
    # pin both subtrees: base feeds corpus + planted, planted feeds
    # twins + planted_rows + found + recall (materialize-once
    # discipline; persist() on a cluster)
    base = eager_pin(collapse_exact_first(d, "text", "doc_id"))
    rev = F.array_join(F.reverse(tokens("text")), " ")
    # UNPINNED (round 14): a filter + one reverse-join over the pinned
    # base blocks; its four consumers replay that cheap projection
    # instead of paying a localCheckpoint write job per query run
    planted = (
        base.where(F.col("doc_id") % 13 == 0)
        .select("doc_id", "text", rev.alias("rev"))
        .where(F.col("rev") != F.col("text"))
    )
    twins = planted.select(
        _twin_id(F.col("doc_id")).alias("doc_id"), F.col("rev").alias("text")
    )
    # max_bucket uncapped FOR THIS FIXTURE: the 100%-recall invariant
    # rides the pigeonhole guarantee, which the hot-bucket star cap
    # legitimately trades away in production (a capped bucket keeps
    # connectivity, not every pair).  Pair volume here is bounded by
    # the distinct-text fixture; the raw/production entry
    # (_dedup_simhash_raw) keeps the default cap.
    pairs = eager_pin(
        simhash_pairs(
            collapse_exact_first(base.unionByName(twins), "text", "doc_id"),
            "text",
            "doc_id",
            max_hamming=3,
            max_bucket=1_000_000,
        )
    )
    twin_pair = planted.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 300000).alias("id_b")
    )
    return render(
        {"id_a": "bigint", "id_b": "bigint", "hamming": "int",
         "n": "bigint", "ok": "boolean"},
        [
            ("planted", twin_pair, {**_PAIR_SLOTS, "hamming": F.lit(0)}),
            ("recall", containment(planted, found(twin_pair, pairs, _PAIR)), FLAG),
            ("precision", violations(
                pairs,
                (F.col("hamming") < 0)
                | (F.col("hamming") > 3)
                | (F.col("id_a") >= F.col("id_b")),
            ), FLAG),
        ],
    )


def _dedup_ngram_jaccard_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw char-trigram Jaccard pair set (id_a, id_b, jaccard) over
    the near-copy corpus — the bounded-quadratic verify stage itself;
    consumed by dedup_pairs_battery, bench, and the exact-jaccard unit
    tests."""
    return (
        ngram_jaccard_pairs(
            collapse_exact_first(
                _corpus_near(spark, sf_dir).select("doc_id", "text", "lang"),
                "text",
                "doc_id",
            ),
            "text",
            "doc_id",
            ["lang"],
            threshold=0.8,
        )
        .withColumn("jaccard", F.round("jaccard", 4))
        .orderBy("id_a", "id_b")
    )


_NGRAM_ORACLE = """
WITH base AS (
  SELECT min(doc_id) AS doc_id,
         arg_min(lang, doc_id) AS lang,
         text
  FROM documents GROUP BY text
),
planted AS (
  SELECT doc_id FROM base
  WHERE doc_id % 19 = 0 AND length(text) >= 20
    AND length(list_distinct(
          [substr(text, CAST(i AS INT), 3)
           for i in generate_series(1, length(text) - 2)]
        )) >= 5
)
SELECT 'planted' AS part, doc_id AS id_a, doc_id + 300000 AS id_b,
       CAST(NULL AS BIGINT) AS n, CAST(NULL AS BOOLEAN) AS ok
FROM planted
UNION ALL
SELECT 'recall', NULL, NULL,
       (SELECT CAST(count(*) AS BIGINT) FROM planted), true
UNION ALL
SELECT 'precision', NULL, NULL, CAST(0 AS BIGINT), true
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_ORACLE,
    doc="Char-3-gram Jaccard near-dup pairs, bucketed by language — the "
    "bounded-quadratic verify stage (only same-bucket pairs compare; at "
    "scale the bucket must be an LSH band, see dedup_minhash_candidates). "
    "Exact clones collapse to representatives first (collapse_exact_first) — "
    "the within-bucket quadratic falls with the clone factor squared "
    "(~730 s -> seconds at sf1).  PROMOTED to an invariant oracle "
    "(round 12): corpus = distinct-text reps ∪ APPEND-LAST-CHAR twins "
    "of every 19th rep (id + 300000, same lang).  Appending one copy "
    "of the final character adds exactly one trigram position, so the "
    "distinct-gram Jaccard is g/(g+1) or 1 — planting only reps with "
    "g >= 5 distinct trigrams (an integer predicate both engines "
    "recompute identically) guarantees jaccard >= 5/6 > 0.8: recall is "
    "100% by arithmetic, not a corpus property.  The twin stays in the "
    "same lang bucket and within one length_band (length n+1), so the "
    "bounded bucket join must meet the pair exactly once. "
    "part=planted re-derives each expected (rep, rep+300000) pair in "
    "SQL (trigram counting via a DuckDB list comprehension); "
    "part=recall pins found == planted; part=precision pins zero "
    "emitted pairs violating 0.8 <= jaccard <= 1 with id_a < id_b. "
    "The raw pair set over the near-copy corpus stays engine-side in "
    "_dedup_ngram_jaccard_raw (multi-term fp fold), exercised by "
    "dedup_pairs_battery, bench, and the exact-jaccard unit tests.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import char_ngrams_distinct
    from ..operators.pinning import eager_pin

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # digest-first dedup base (the min-id row keeps its own lang —
    # exactly the oracle's arg_min(lang, doc_id)); pinned: base feeds
    # corpus + planted, planted feeds twins + three fold branches
    base = eager_pin(collapse_exact_first(d, "text", "doc_id"))
    # UNPINNED (round 14): a modulus + gram-count filter over the
    # pinned base blocks; consumers replay the cheap filter instead of
    # paying a localCheckpoint write job
    planted = (
        base.where(
            (F.col("doc_id") % 19 == 0) & (F.length("text") >= 20)
        )
        # the SAME gram definition the operator scores with — the
        # oracle's DuckDB list comprehension mirrors it
        .where(F.size(char_ngrams_distinct("text")) >= 5)
        .select("doc_id", "text", "lang")
    )
    twins = planted.select(
        _twin_id(F.col("doc_id")).alias("doc_id"),
        F.concat("text", F.substring("text", -1, 1)).alias("text"),
        "lang",
    )
    pairs = eager_pin(
        ngram_jaccard_pairs(
            collapse_exact_first(
                base.unionByName(twins).select("doc_id", "text", "lang"),
                "text",
                "doc_id",
            ),
            "text",
            "doc_id",
            ["lang"],
            threshold=0.8,
        )
    )
    twin_pair = planted.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 300000).alias("id_b")
    )
    return render(
        {"id_a": "bigint", "id_b": "bigint", "n": "bigint", "ok": "boolean"},
        [
            ("planted", twin_pair, _PAIR_SLOTS),
            ("recall", containment(planted, found(twin_pair, pairs, _PAIR)), FLAG),
            ("precision", violations(
                pairs,
                (F.col("jaccard") < 0.8)
                | (F.col("jaccard") > 1.0)
                | (F.col("id_a") >= F.col("id_b")),
            ), FLAG),
        ],
    )


def _cosine_noise() -> F.Column:
    """The deterministic per-dimension perturbation planted copies carry."""
    return F.zip_with(
        F.col("embedding"),
        F.sequence(F.lit(0), F.size("embedding") - 1),
        lambda x, i: (x.cast("double") + (F.pmod(i, F.lit(7)) - 3) * 0.002).cast(
            "float"
        ),
    )


def _cosine_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-id representative per distinct embedding vector — the base
    both the fixture and the planted set derive from, so the pipeline
    runs in the production exact-then-near order (round 13: the scale
    probe measured pair volume growing with the SQUARE of the clone
    factor without this — clone-clique pairs belong to exact dedup)."""
    from ..operators.similarity import collapse_exact_vectors_first

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return collapse_exact_vectors_first(e, "embedding", "vec_id")


def _cosine_pairs_raw(
    spark: SparkSession, sf_dir: str, reps: DataFrame | None = None
) -> DataFrame:
    """The raw (id_a, id_b, cos_sim) near-dup pair set — the hyperplane-LSH
    pipeline itself (collapse-exact-first production order); unit tests
    pin planted recall on it.  ``reps`` lets a composing caller hand in
    an already-materialized ``_cosine_reps`` table (round 14): the
    collapse feeds the corpus AND the perturbed twins, so an unpinned
    rep table replays its digest groupBy + semi-join once per branch."""
    e = reps if reps is not None else _cosine_reps(spark, sf_dir)
    perturbed = e.where(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        _cosine_noise().alias("embedding"),
    )
    corpus = e.unionByName(perturbed)
    return (
        cosine_near_dup_pairs(corpus, "vec_id", "embedding", threshold=0.98)
        .withColumn("cos_sim", F.round("cos_sim", 4))
        .orderBy("id_a", "id_b")
    )


_COSINE_INVARIANT_ORACLE = """
WITH reps AS (
  SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding
)
SELECT 'planted' AS part, vec_id AS id_a, vec_id + 100000 AS id_b,
       CAST(NULL AS DOUBLE) AS score, CAST(NULL AS BIGINT) AS n, true AS ok
FROM reps WHERE vec_id % 13 = 0
UNION ALL
SELECT 'recall', NULL, NULL, NULL,
       (SELECT CAST(count(*) AS BIGINT) FROM reps WHERE vec_id % 13 = 0),
       true
UNION ALL
SELECT 'precision', NULL, NULL, NULL, CAST(0 AS BIGINT), true
"""


@register(
    "dedup_embedding_cosine",
    oracle=_COSINE_INVARIANT_ORACLE,
    doc="Embedding-cosine near-dup: random-hyperplane LSH signatures "
    "(deterministic seedless planes) → banded candidates → exact cosine "
    "≥0.98 over planted perturbed copies (per-dimension additive "
    "noise).  DRIVER-CHECKED AS INVARIANTS (round 8 — cosine is a "
    "multi-term fp fold, so raw values stay engine-side): part=planted "
    "emits one row per planted pair with ok = 'directly recomputed "
    "cosine >= 0.98' which the oracle pins true (noise keeps true "
    "cosine ~0.9995, far from the boundary); part=recall pins n_planted "
    "exactly and '>= 90% of planted pairs surface in the LSH output' "
    "true; part=precision pins 'no emitted pair violates cos_sim in "
    "[0.98, 1+1e-9] with id_a < id_b' as a zero count.  Raw pair set "
    "remains unit-pinned via _cosine_pairs_raw.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pinning import eager_pin
    from ..operators.similarity import cosine

    # round 14: the collapsed rep table is pinned ONCE and every branch
    # (LSH corpus, perturbed twins, planted dual) derives from it — the
    # round-13 shape re-ran the digest collapse up to 3×, and pinned the
    # cheap planted filter as its own synchronous checkpoint job
    e = eager_pin(_cosine_reps(spark, sf_dir))
    lsh = eager_pin(_cosine_pairs_raw(spark, sf_dir, reps=e))
    # direct dual: cosine(original, perturbed) recomputed per planted
    # pair straight from the embeddings table — no LSH on this path.
    # UNPINNED (round 14): a filter + one cosine over the pinned rep
    # blocks; its three consumers replay that cheap projection instead
    # of paying a localCheckpoint write job
    planted = e.where(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + 100000).alias("id_b"),
        (
            cosine(F.col("embedding"), _cosine_noise()) >= 0.98
        ).alias("cos_ok"),
    )
    return render(_SCORED, [
        ("planted", planted, {**_PAIR_SLOTS, "ok": "cos_ok"}),
        ("recall", containment(
            planted, found(planted.select(*_PAIR), lsh, _PAIR), 9, 10
        ), FLAG),
        ("precision", violations(
            lsh,
            (F.col("cos_sim") < 0.98)
            | (F.col("cos_sim") > 1.0 + 1e-9)
            | (F.col("id_a") >= F.col("id_b")),
        ), FLAG),
    ])


# ---------------------------------------------------------------------------
# Similarity search.
# ---------------------------------------------------------------------------


@register(
    "sim_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS qvec FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qvec, c.emb) AS cos_sim
      FROM q CROSS JOIN e c WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-5 per query (queries = every 50th vector, "
    "broadcast) — the exact ANN baseline: one narrow scoring pass over "
    "the corpus + one shuffle for the per-query heap (salted two-phase "
    "row_number). Linear in corpus size at any scale. HASH-CHECKED "
    "since round 6: exact and deterministic, so DuckDB's "
    "list_cosine_similarity over DOUBLE[] (same left-to-right fold as "
    "the zip_with/aggregate expression) reproduces the ranking "
    "bit-for-bit with the neighbor_id tie-break (measured at sf0.01 and "
    "sf0.1); also numpy-pinned in unit tests.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    return brute_force_topk(e, queries, k=5).orderBy("query_id", "rank")


def _sim_ann_ivf_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw IVF ranking (query_id, neighbor_id, rank, …) — consumed
    by the registered invariant query below, sim_topk_battery's recall
    row, and the unit-level recall tests."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    centroids = e.where(F.col("vec_id") % 25 == 0)
    return ivf_topk(e, queries, centroids, k=5, nprobe=4).orderBy(
        "query_id", "rank"
    )


_SIM_ANN_IVF_ORACLE = """
WITH q AS (
  SELECT CAST(count(*) AS BIGINT) AS nq FROM embeddings WHERE vec_id % 50 = 0
)
SELECT 'recall_floor' AS part, nq AS n_queries,
       CAST(5 AS BIGINT) AS k, true AS ok FROM q
UNION ALL SELECT 'ranks_contiguous', nq, CAST(5 AS BIGINT), true FROM q
"""


@register(
    "sim_ann_ivf",
    oracle=_SIM_ANN_IVF_ORACLE,
    doc="IVF approximate top-5: every 25th vector as a centroid "
    "(deterministic stand-in for sampled k-means), one broadcast "
    "assignment pass, then probe the 4 nearest clusters per query — "
    "per-query work drops to nprobe/n_centroids of the corpus.  "
    "PROMOTED to an invariant oracle (round 10, the sim_topk_battery "
    "pattern): one row per invariant (part, n_queries, k, ok) — "
    "n_queries pinned exactly to the SQL query-set count, recall@5 vs "
    "the exact brute-force baseline >= 0.5 as the integer compare "
    "2*hits >= total, and per-query rank lists contiguous 1..c with "
    "c <= k.  The raw ranking stays engine-side in _sim_ann_ivf_raw "
    "(hash-seed/float-free here but recall itself is a corpus "
    "property), exercised by this query, sim_topk_battery, and the "
    "unit recall tests.",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_rows(spark, sf_dir, _sim_ann_ivf_raw, 1, 2)


def _ann_rows(
    spark: SparkSession, sf_dir: str, raw, num: int, den: int
) -> DataFrame:
    """The rows of a top-5 ANN invariant query over the ranking
    ``raw(spark, sf_dir)``: recall vs the exact top-5 >= num/den, and
    contiguous rank lists."""
    from ..operators.pinning import eager_pin

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    # the raw ranking feeds both rows (three reads): pin once
    ann = eager_pin(raw(spark, sf_dir))
    exact = eager_pin(brute_force_topk(e, queries, k=5))
    slots = {"n_queries": "n_queries", "k": F.lit(5), "ok": "ok"}
    return render(_TOPK, [
        ("recall_floor", ann_recall(ann, exact, num, den), slots),
        ("ranks_contiguous", ranks_contiguous(ann, 5), slots),
    ])


def _sim_mmr_rerank_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw MMR ranking (query_id, neighbor_id, rank) — consumed by
    the registered invariant query below, sim_topk_battery's mmr row,
    and the numpy-dual unit tests."""
    from ..operators.similarity import mmr_rerank

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    cands = brute_force_topk(e, queries, k=20)
    return mmr_rerank(cands, e, queries, k=10, lam=0.7).orderBy(
        "query_id", "rank"
    )


_SIM_MMR_ORACLE = """
WITH q AS (
  SELECT CAST(count(*) AS BIGINT) AS nq FROM embeddings WHERE vec_id % 50 = 0
)
SELECT 'first_pick_argmax' AS part, nq AS n_queries,
       CAST(10 AS BIGINT) AS k, true AS ok FROM q
UNION ALL SELECT 'k_rows_contiguous', nq, CAST(10 AS BIGINT), true FROM q
UNION ALL SELECT 'shortlist_subset', nq, CAST(10 AS BIGINT), true FROM q
"""


@register(
    "sim_mmr_rerank",
    oracle=_SIM_MMR_ORACLE,
    doc="Maximal-marginal-relevance diversification "
    "(operators/similarity.py::mmr_rerank): each query's exact "
    "cosine top-20 shortlist greedily re-ranked to 10 results "
    "balancing relevance against redundancy (λ=0.7) — the standard "
    "post-ANN diversity pass.  The greedy argmax is sequential per "
    "query, so it runs in one applyInPandas group per query over the "
    "bounded shortlist (never the corpus); ties break on the lower "
    "neighbor id.  PROMOTED to an invariant oracle (round 11, the "
    "sim_ann_ivf pattern): one row per invariant (part, n_queries, k, "
    "ok) with n_queries pinned exactly to the SQL query-set count — "
    "(1) the rank-1 pick equals the exact cosine top-1 for EVERY "
    "query (greedy argmax over an empty selected set IS max "
    "relevance), (2) every query emits exactly k=10 rows with ranks "
    "contiguous 1..10, (3) every emitted neighbor belongs to that "
    "query's top-20 shortlist.  The raw ranking stays engine-side in "
    "_sim_mmr_rerank_raw (greedy float selection is not "
    "SQL-expressible), exercised by this query, sim_topk_battery, and "
    "the pure-numpy dual tests.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pinning import eager_pin

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    # shortlist feeds the raw MMR AND the subset/first-pick checks
    cands = eager_pin(brute_force_topk(e, queries, k=20))
    from ..operators.similarity import mmr_rerank

    m = eager_pin(
        mmr_rerank(cands, e, queries, k=10, lam=0.7)
    )
    nq = m.agg(F.countDistinct("query_id").cast("bigint").alias("n_queries"))
    first_match = found(
        m.where(F.col("rank") == 1), cands.where(F.col("rank") == 1), NEIGHBOR
    )
    per_q = m.groupBy("query_id").agg(
        F.count("*").alias("c"),
        F.min("rank").alias("rmin"),
        F.max("rank").alias("rmax"),
    )
    contig = per_q.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.min(
            (F.col("c") == 10) & (F.col("rmin") == 1) & (F.col("rmax") == 10)
        ).alias("ok"),
    )
    outside = (
        m.select(*NEIGHBOR)
        .join(cands.select(*NEIGHBOR), NEIGHBOR, "left_anti")
        .agg(F.count("*").alias("n_out"))
    )
    slots = {"n_queries": "n_queries", "k": F.lit(10)}
    return render(_TOPK, [
        ("first_pick_argmax", nq.crossJoin(F.broadcast(first_match)),
         {**slots, "ok": F.col("found") == F.col("n_queries")}),
        ("k_rows_contiguous", contig, {**slots, "ok": "ok"}),
        ("shortlist_subset", nq.crossJoin(F.broadcast(outside)),
         {**slots, "ok": F.col("n_out") == 0}),
    ])


def _sim_ann_ivf_kmeans_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw Lloyd-refined IVF ranking (query_id, neighbor_id, rank, …)
    — consumed by the registered invariant query below, sim_topk_battery's
    ivf_kmeans recall row, bench, and the refined-vs-raw unit test."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    seeds = e.where(F.col("vec_id") % 25 == 0)
    refined = kmeans_refine(e, seeds, iterations=2).select(
        F.col("centroid_id").alias("vec_id"), F.col("cvec").alias("embedding")
    )
    return ivf_topk(e, queries, refined, k=5, nprobe=4).orderBy(
        "query_id", "rank"
    )


_SIM_ANN_IVF_KMEANS_ORACLE = """
WITH q AS (
  SELECT CAST(count(*) AS BIGINT) AS nq FROM embeddings WHERE vec_id % 50 = 0
)
SELECT 'recall_floor' AS part, nq AS n_queries,
       CAST(5 AS BIGINT) AS k, true AS ok FROM q
UNION ALL SELECT 'ranks_contiguous', nq, CAST(5 AS BIGINT), true FROM q
"""


@register(
    "sim_ann_ivf_kmeans",
    oracle=_SIM_ANN_IVF_KMEANS_ORACLE,
    doc="IVF with Lloyd-refined centroids: 2 k-means iterations (the "
    "iterative-algorithm pattern — assign/mean rounds with checkpointed "
    "lineage) before probing. On this fixture (10 well-separated label "
    "clusters, dense centroid sample) recall matches the raw sample "
    "(0.92 vs 0.96 at sf0.01).  PROMOTED to an invariant oracle "
    "(round 12, the sim_ann_pq pattern): (part, n_queries, k, ok) rows "
    "with n_queries pinned exactly to the SQL query-set count — "
    "refined recall@5 vs the exact brute-force baseline >= 0.5 as the "
    "integer compare 2*hits >= total (the sim_topk_battery floor; "
    "measured 0.92 at sf0.01), and per-query rank lists contiguous "
    "1..c with c <= 5.  The raw ranking stays engine-side in "
    "_sim_ann_ivf_kmeans_raw (k-means float means are Spark-side), "
    "exercised by this query, sim_topk_battery, bench, and the "
    "refined-vs-raw unit test.",
)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_rows(spark, sf_dir, _sim_ann_ivf_kmeans_raw, 1, 2)


def _sim_ann_pq_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw PQ+refine ranking (query_id, neighbor_id, rank, …) —
    consumed by the registered invariant query below, sim_topk_battery's
    pq recall row, and the hand-codebook ADC dual tests."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)
    seeds = e.where(F.col("vec_id") % 29 == 0)
    dim = _emb_dim(spark, sf_dir)
    books = pq_train(e, seeds, m=16, ksub=16, iterations=3, dim=dim)
    index = pq_encode(e, books, m=16, dim=dim)
    return pq_refine_topk(
        index, queries, books, e, k=5, shortlist=100, m=16, dim=dim
    ).orderBy("query_id", "rank")


_SIM_ANN_PQ_ORACLE = """
WITH q AS (
  SELECT CAST(count(*) AS BIGINT) AS nq FROM embeddings WHERE vec_id % 50 = 0
)
SELECT 'recall_floor' AS part, nq AS n_queries,
       CAST(5 AS BIGINT) AS k, true AS ok FROM q
UNION ALL SELECT 'ranks_contiguous', nq, CAST(5 AS BIGINT), true FROM q
"""


@register(
    "sim_ann_pq",
    oracle=_SIM_ANN_PQ_ORACLE,
    doc="Product quantization with exact refine (operators/similarity"
    ".py::pq_train/pq_encode/pq_refine_topk — Jégou et al. 2011; the "
    "FAISS IndexRefineFlat deployment): per-subspace k-means codebooks "
    "(m=16, ksub=16, all subspaces trained simultaneously by keying "
    "the Lloyd rounds on sub), vectors compressed to 16 code bytes, "
    "ADC scan against per-query broadcast lookup tables (corpus floats "
    "never touched), top-100 shortlist re-ranked by exact cosine over "
    "only shortlist·queries fetched vectors.  PROMOTED to an invariant "
    "oracle (round 11, the sim_ann_ivf pattern): (part, n_queries, k, "
    "ok) rows with n_queries pinned exactly to the SQL query-set count "
    "— refined recall@5 vs the exact brute-force baseline >= 0.9 as "
    "the integer compare 10*hits >= 9*total (measured 0.98 at "
    "sf0.01), and per-query rank lists contiguous 1..c with c <= 5.  "
    "The raw ranking stays engine-side in _sim_ann_pq_raw (k-means "
    "float means are Spark-side), exercised by this query, "
    "sim_topk_battery, and the hand-codebook numpy dual tests.",
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_rows(spark, sf_dir, _sim_ann_pq_raw, 9, 10)


def _dedup_semantic_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw per-vector (vec_id, group_id, keep) table from
    operators/similarity.py::semantic_dedup over embeddings + planted
    twins — consumed by the registered invariant query below and the
    planted unit tests.  Corpus = embeddings + IDENTICAL twins of
    every 17th vector under vec_id + 200000: identical vectors are a
    GUARANTEED semantic duplicate (same floats -> same centroid
    distances -> the deterministic argmin tie-break lands both in one
    cluster; cosine of a vector with itself is the maximal value the
    fold produces, so the >= threshold edge always fires — and the
    hot-cluster star path preserves the guarantee, pairing every
    member with the bucket min)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = e.where(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
    )
    centroids = e.where(F.col("vec_id") % 25 == 0)
    return semantic_dedup(
        e.unionByName(twins), centroids, threshold=0.95
    )


_SEMDEDUP_ORACLE = """
SELECT 'planted_grouped' AS part,
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        WHERE vec_id % 17 = 0) AS n, true AS ok
UNION ALL
SELECT 'partition_exact',
       (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
       + (SELECT CAST(count(*) AS BIGINT) FROM embeddings
          WHERE vec_id % 17 = 0), true
UNION ALL
SELECT 'group_rep_closed', CAST(NULL AS BIGINT), true
"""


@register(
    "dedup_semantic",
    oracle=_SEMDEDUP_ORACLE,
    doc="SemDeDup semantic deduplication (Abbas et al. 2023 — "
    "operators/similarity.py::semantic_dedup): k-means-cluster the "
    "embeddings, within-cluster cosine pairs via the hot-bucket-capped "
    "band join, transitive duplicate groups via pointer-jumped "
    "connected components, keep = min-id representative — the "
    "curation pass that removes paraphrases text dedup misses.  "
    "DRIVER-CHECKED AS INVARIANTS with PLANTED ground truth (the "
    "dedup_embedding_cosine pattern; cluster contents are "
    "float-fold-dependent so the raw table stays engine-side): "
    "part=planted_grouped pins n to the SQL twin count with ok = "
    "every IDENTICAL twin lands in the same non-null group as its "
    "original and is itself removed (identical vectors share a "
    "cluster by the deterministic argmin, and self-cosine always "
    "crosses the threshold — containment is a guarantee, not a "
    "probability); part=partition_exact pins n to the SQL corpus "
    "count with ok = keep iff (ungrouped or the group min); "
    "part=group_rep_closed pins every group_id to be a member of the "
    "result, minimal in its group, and kept.  Complements "
    "dedup_pairs_battery's semantic_keep internal-consistency row, "
    "which checks keep-vs-group-min but plants no ground truth.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pinning import eager_pin

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    res = eager_pin(_dedup_semantic_raw(spark, sf_dir))

    # planted twins: every (orig, orig+200000) must share a non-null
    # group, with the twin (the larger id) removed
    twins = e.where(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.col("vec_id").alias("orig_id"),
    )
    planted = (
        twins.join(res, "vec_id")
        .join(
            res.select(
                F.col("vec_id").alias("orig_id"),
                F.col("group_id").alias("orig_group"),
            ),
            "orig_id",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min(
                F.col("group_id").isNotNull()
                & (F.col("group_id") == F.col("orig_group"))
                & (~F.col("keep"))
            ).alias("ok"),
        )
    )
    grp_min = res.where(F.col("group_id").isNotNull()).groupBy(
        "group_id"
    ).agg(F.min("vec_id").alias("gmin"))
    partition = (
        res.join(grp_min, "group_id", "left")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min(
                F.col("keep")
                == (
                    F.col("group_id").isNull()
                    | (F.col("vec_id") == F.col("gmin"))
                )
            ).alias("ok"),
        )
    )
    # every group id is itself a present, minimal, kept member
    rep_closed = (
        grp_min.join(
            res.select(
                F.col("vec_id").alias("group_id"),
                F.col("keep").alias("rep_keep"),
                F.col("group_id").alias("rep_group"),
            ),
            "group_id",
            "left",
        )
        .agg(
            F.coalesce(
                F.min(
                    (F.col("group_id") == F.col("gmin"))
                    & F.col("rep_keep")
                    & (F.col("rep_group") == F.col("group_id"))
                ),
                F.lit(True),
            ).alias("ok")
        )
    )
    return render({"n": "bigint", "ok": "boolean"}, [
        ("planted_grouped", planted, FLAG),
        ("partition_exact", partition, FLAG),
        ("group_rep_closed", rep_closed, {"ok": "ok"}),
    ])


@register(
    "sample_stratified_rates",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM (
      SELECT lang, doc_id FROM documents
      WHERE ((doc_id * 2654435761) % 1000) / 1000.0
            < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 ELSE 0.1 END
    )
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Stratified corpus sampling (per-language rates — the data-mixing "
    "primitive for training sets). Selection is a pure function of the "
    "row key (Knuth multiplicative hash in plain integer arithmetic — "
    "expressible identically in any engine), NOT rand()/sample(): the "
    "same rows are chosen on any cluster layout, re-runs are "
    "reproducible, and the sample is join-stable (two tables sampled on "
    "the same key select aligned rows). Rates validated by a binomial-"
    "bound unit test.",
)
def sample_stratified_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 0.5)
        .when(F.col("lang") == "zh", 0.2)
        .otherwise(0.1)
    )
    u = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(1000)) / 1000.0
    return (
        d.where(u < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").alias("min_id"),
        )
        .orderBy("lang")
    )


_MIX_WEIGHTS = {"en": 0.5, "zh": 0.25, "de": 0.25}

_MIXTURE_ORACLE = """
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25
                            WHEN 'de' THEN 0.25 END AS DOUBLE) AS w
      FROM documents GROUP BY lang
    ),
    cw AS (SELECT * FROM counts WHERE w IS NOT NULL AND w > 0),
    s AS (SELECT min(n / w) AS s FROM cw),
    rates AS (SELECT lang, (s.s * w) / n AS rate FROM cw, s)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(d.doc_id) AS BIGINT) AS min_id
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE ((d.doc_id * 2654435761) % 1000) / 1000.0 < r.rate
    GROUP BY d.lang
"""


@register(
    "sample_mixture_balanced",
    oracle=_MIXTURE_ORACLE,
    doc="Mixture-balancing sampler (operators/sampling.py::sample_mixture): "
    "downsample domains to the target en/zh/de = 50/25/25 mixture at "
    "the largest size the corpus supports (scale = min(n_d/w_d), the "
    "binding domain kept whole); unlisted domains drop. Per-domain "
    "stats are tiny broadcast aggregates; the corpus never shuffles.",
)
def sample_mixture_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_mixture

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        sample_mixture(d, "lang", "doc_id", _MIX_WEIGHTS)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"), F.min("doc_id").alias("min_id"))
    )


_UPSAMPLE_ORACLE = """
    WITH e AS (
      SELECT doc_id, lang,
             CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 2.5
                            WHEN 'de' THEN 2.0 ELSE 1.0 END AS DOUBLE) AS ep,
             ((doc_id * 2654435761) % 1000) / 1000.0 AS u
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang,
             CAST(floor(ep) AS INT)
               + CASE WHEN u < ep - floor(ep) THEN 1 ELSE 0 END AS n_copies
      FROM e
    )
    SELECT lang, CAST(sum(n_copies) AS BIGINT) AS n_rows,
           CAST(min(doc_id) AS BIGINT) AS min_id
    FROM c WHERE n_copies >= 1 GROUP BY lang
"""


@register(
    "sample_upsample_epochs",
    oracle=_UPSAMPLE_ORACLE,
    doc="Deterministic epoch upsampling (operators/sampling.py::"
    "upsample_epochs): en 0.5 epochs (key-hash half), zh 2.5, de 2.0, "
    "rest 1.0 — fractional epochs select the same extra rows every "
    "run; duplication is a row-local explode, zero shuffles.",
)
def sample_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import upsample_epochs

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    up = upsample_epochs(
        d, "lang", "doc_id", {"en": 0.5, "zh": 2.5, "de": 2.0}, default_epochs=1.0
    )
    return up.groupBy("lang").agg(
        F.count("*").alias("n_rows"), F.min("doc_id").alias("min_id")
    )


_BUDGET_ORACLE = """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT *, sum(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_sel,
           CAST(sum(n_tok) AS BIGINT) AS total_tok
    FROM c WHERE cum <= 5000 GROUP BY lang
"""


@register(
    "sample_budget_select",
    oracle=_BUDGET_ORACLE,
    doc="Token-budget selection (operators/sampling.py::"
    "select_until_budget): keep documents in doc_id priority order "
    "while the running token total stays within 5000 — built on "
    "distributed_cumsum, so a 100 TB candidate pool never funnels "
    "through one task.",
)
def sample_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import select_until_budget

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    sel = select_until_budget(d, ["doc_id"], "n_tok", budget=5000)
    return sel.groupBy("lang").agg(
        F.count("*").alias("n_sel"), F.sum("n_tok").alias("total_tok")
    )


_SHUFFLE_ORACLE = """
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               ORDER BY md5('r5:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS shuffle_pos
    FROM documents
"""


@register(
    "sample_shuffle_order",
    oracle=_SHUFFLE_ORACLE,
    doc="Deterministic global training order (operators/sampling.py::"
    "shuffle_order): rank rows by a seeded md5 of the key — "
    "reproducible across re-runs/retries, reshuffled by changing the "
    "seed; the 1..N numbering is the no-group grouped_row_number, "
    "never a single-task window.",
)
def sample_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import shuffle_order

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_order(d, "doc_id", seed="r5")


_WEIGHTED_ORACLE = """
    WITH t AS (
      SELECT doc_id, lang, CAST(length(text) AS DOUBLE) AS w
      FROM documents WHERE length(text) > 0
    ),
    r AS (
      SELECT doc_id, lang,
             ln(((CAST(CONCAT('0x', substring(md5('es:' ||
                 CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1048576)
                 + 0.5) / 1048576.0) / w AS es
      FROM t
    )
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang FROM r ORDER BY es DESC, doc_id LIMIT 200
    ) sel
"""


@register(
    "sample_weighted_es",
    oracle=_WEIGHTED_ORACLE,
    doc="Efraimidis-Spirakis weighted sampling without replacement "
    "(operators/sampling.py::sample_weighted): 200 documents with "
    "inclusion odds proportional to character length, via a "
    "deterministic md5 uniform and rank ln(u)/w — the length/"
    "temperature-proportional selection step of data recipes. "
    "Row-local codegen rank + TakeOrderedAndProject top-k.",
)
def sample_weighted_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_weighted

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("w")
    )
    return sample_weighted(d, "doc_id", "w", k=200).select("doc_id", "lang")


_PERGROUP_ORACLE = """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('pg:' || lang || ':'
                            || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 25
"""


@register(
    "sample_per_group_k",
    oracle=(
        "SELECT lang, CAST(doc_id AS BIGINT) AS doc_id "
        f"FROM ({_PERGROUP_ORACLE}) t"
    ),
    doc="Deterministic uniform k-per-group sampling (operators/"
    "sampling.py::sample_per_group): within each language, rows rank "
    "by a seeded md5 of (group, key) and the 25 smallest win — the "
    "per-stratum counterpart of shuffle_order, with the module's "
    "determinism contract (re-runs and cluster layouts reproduce the "
    "sample; growth only perturbs the hash boundary).  FULL sample "
    "membership is hash-checked, not just per-group counts.",
)
def sample_per_group_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_per_group

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_per_group(d, "lang", "doc_id", k=25, seed="pg").select(
        "lang", F.col("doc_id").cast("long").alias("doc_id")
    )


@register(
    "sample_stratified",
    oracle=(
        "SELECT 'stratified' AS part, lang AS k, n_sampled AS n, min_id AS v "
        "FROM (" + """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_id
    FROM (
      SELECT lang, doc_id FROM documents
      WHERE ((doc_id * 2654435761) % 1000) / 1000.0
            < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.2 ELSE 0.1 END
    )
    GROUP BY lang
    """ + ") t"
        + "\nUNION ALL\n"
        + f"SELECT 'mixture' AS part, lang AS k, n_sampled AS n, min_id AS v "
        f"FROM ({_MIXTURE_ORACLE}) t"
        + "\nUNION ALL\n"
        + f"SELECT 'upsample' AS part, lang AS k, n_rows AS n, min_id AS v "
        f"FROM ({_UPSAMPLE_ORACLE}) t"
        + "\nUNION ALL\n"
        + f"SELECT 'budget' AS part, lang AS k, n_sel AS n, total_tok AS v "
        f"FROM ({_BUDGET_ORACLE}) t"
        + "\nUNION ALL\n"
        + f"SELECT 'shuffle' AS part, CAST(doc_id AS VARCHAR) AS k, "
        f"shuffle_pos AS n, doc_id AS v FROM ({_SHUFFLE_ORACLE}) t"
        + "\nUNION ALL\n"
        + f"SELECT 'weighted' AS part, lang AS k, "
        f"CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(doc_id) AS BIGINT) AS v "
        f"FROM ({_WEIGHTED_ORACLE}) t GROUP BY lang"
        + "\nUNION ALL\n"
        + f"SELECT 'pergroup' AS part, lang AS k, "
        f"CAST(doc_id AS BIGINT) AS n, CAST(doc_id AS BIGINT) AS v "
        f"FROM ({_PERGROUP_ORACLE}) t"
    ),
    doc="The corpus-composition (data recipe) battery, every branch a "
    "deterministic pure-function-of-key operator: per-language "
    "stratified sampling (part=stratified), mixture balancing to a "
    "target 50/25/25 recipe (part=mixture), fractional epoch "
    "upsampling (part=upsample), token-budget priority selection over "
    "distributed_cumsum (part=budget), seeded global shuffle order "
    "(part=shuffle), and Efraimidis-Spirakis weighted sampling with "
    "length-proportional odds (part=weighted), and uniform "
    "k-per-group sampling with full membership hash-checked "
    "(part=pergroup). Subsumes "
    "sample_stratified_rates, sample_mixture_balanced, "
    "sample_upsample_epochs, sample_budget_select, "
    "sample_shuffle_order, sample_weighted_es, sample_per_group_k.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = sample_stratified_rates(spark, sf_dir).select(
        F.lit("stratified").alias("part"),
        F.col("lang").alias("k"),
        F.col("n_sampled").alias("n"),
        F.col("min_id").alias("v"),
    )
    mx = sample_mixture_balanced(spark, sf_dir).select(
        F.lit("mixture").alias("part"),
        F.col("lang").alias("k"),
        F.col("n_sampled").alias("n"),
        F.col("min_id").alias("v"),
    )
    up = sample_upsample_epochs(spark, sf_dir).select(
        F.lit("upsample").alias("part"),
        F.col("lang").alias("k"),
        F.col("n_rows").alias("n"),
        F.col("min_id").alias("v"),
    )
    bd = sample_budget_select(spark, sf_dir).select(
        F.lit("budget").alias("part"),
        F.col("lang").alias("k"),
        F.col("n_sel").alias("n"),
        F.col("total_tok").alias("v"),
    )
    sh = sample_shuffle_order(spark, sf_dir).select(
        F.lit("shuffle").alias("part"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("shuffle_pos").alias("n"),
        F.col("doc_id").alias("v"),
    )
    we = (
        sample_weighted_es(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").cast("bigint").alias("v"),
        )
        .select(
            F.lit("weighted").alias("part"), F.col("lang").alias("k"), "n", "v"
        )
    )
    pg = sample_per_group_k(spark, sf_dir).select(
        F.lit("pergroup").alias("part"),
        F.col("lang").alias("k"),
        F.col("doc_id").alias("n"),
        F.col("doc_id").alias("v"),
    )
    return (
        st.unionByName(mx)
        .unionByName(up)
        .unionByName(bd)
        .unionByName(sh)
        .unionByName(we)
        .unionByName(pg)
    )


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------


@register(
    "text_word_counts",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 100
    """,
    doc="Corpus word frequencies: tokenize → explode → two-phase count "
    "(partial map-side, one shuffle on the word) → top-100.",
)
def text_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return word_counts(d, "text").orderBy(F.desc("n"), F.asc("word")).limit(100)


@register(
    "text_quality_scores",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_measured,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio,
           CAST(length(regexp_replace(text, '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio
    FROM documents
    ORDER BY doc_id
    """,
    doc="Per-document quality signals (token count, stopword/distinct/"
    "punctuation ratios) — narrow expressions, zero shuffles; each ratio "
    "is a single IEEE division so the oracle hash matches bit-for-bit.",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return quality_features(d, "text", "doc_id").orderBy("doc_id")


_PIPELINE_ORACLE = """
WITH base AS (SELECT doc_id, text, source FROM documents),
qf AS (
  SELECT * FROM base
  WHERE len(string_split(text, ' ')) >= 5
    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) > 0.2
),
dd AS (
  SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies,
         text
  FROM qf GROUP BY text
),
gr AS (
  SELECT doc_id, n_copies, text,
         list_distinct(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
             i -> array_to_string(
                 list_slice(string_split(text, ' '), i, i + 2), ' ')
         )) AS grams
  FROM dd
),
ref AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
             i -> array_to_string(
                 list_slice(string_split(text, ' '), i, i + 2), ' ')
         ))) AS gram
  FROM base WHERE source = 'src0'
),
hits AS (
  SELECT doc_id, count(*) AS n_cont
  FROM (SELECT doc_id, unnest(grams) AS gram FROM gr) dg
  WHERE gram IN (SELECT gram FROM ref)
  GROUP BY doc_id
),
cont AS (
  SELECT gr.doc_id, gr.n_copies, gr.text,
         CASE WHEN len(gr.grams) > 0
              THEN CAST(COALESCE(hits.n_cont, 0) AS DOUBLE)
                   / len(gr.grams)
         END AS contamination_ratio
  FROM gr LEFT JOIN hits USING (doc_id)
),
kept AS (
  SELECT * FROM cont WHERE COALESCE(contamination_ratio, 0) <= 0.5
)
SELECT doc_id, n_copies,
       CASE WHEN CAST(CONCAT('0x',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 10 < 8 THEN 'train'
            WHEN CAST(CONCAT('0x',
                substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 10 < 9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INT) AS n_bpe_tokens,
       contamination_ratio
FROM kept
"""


@register(
    "corpus_training_pipeline",
    oracle=_PIPELINE_ORACLE,
    doc="The LLM-data pipeline END TO END as one verified composition — "
    "quality gate (≥5 tokens, distinct-ratio > 0.2) → exact dedup "
    "(min-id representative per sha2, copy count kept) → benchmark "
    "decontamination (3-gram overlap vs the source=src0 slice, docs "
    ">50% contaminated dropped, gram-less docs pass) → deterministic "
    "md5 train/val/test split (8/1/1) → token budgeting (whitespace + "
    "BPE-ish counts).  Every stage is individually oracle-checked "
    "elsewhere; THIS query hash-checks their composition — stage "
    "boundaries are where real pipelines corrupt data (dropped rows, "
    "doubled rows, leaked quarantine), and the end-to-end hash rules "
    "all of that out in one driver row.  Scale: each stage is one of "
    "the registry's own bounded-shuffle plans; nothing here adds a "
    "join or shuffle the constituents do not already carry.",
)
def corpus_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.text import (
        contamination_check,
        quality_columns,
        token_count_columns,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    q = d.select("doc_id", "text", "source", *quality_columns("text"))
    filt = q.where(
        (F.col("n_tokens") >= 5) & (F.col("distinct_ratio") > 0.2)
    ).select("doc_id", "text")

    reps = (
        exact_dedup(filt, "text", "doc_id")
        .select("doc_id", "n_copies")
        .join(filt, "doc_id")
    )
    ref = d.where(F.col("source") == "src0").select("doc_id", "text")
    cont = contamination_check(
        reps.select("doc_id", "text"), ref, "text", "doc_id", n=3
    )
    kept = (
        reps.join(cont.select("doc_id", "contamination_ratio"), "doc_id")
        .where(F.coalesce("contamination_ratio", F.lit(0.0)) <= 0.5)
    )
    sp = split_by_hash(kept, "doc_id", {"train": 8, "val": 1, "test": 1})
    return sp.select(
        "doc_id",
        F.col("n_copies").cast("long").alias("n_copies"),
        "split",
        *token_count_columns("text"),
        "contamination_ratio",
    )


@register(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INT)
               AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + a BPE-ish pre-tokenization "
    "regex count (regexp_count, codegen'd — the cheap token-budget "
    "estimator for corpus planning).",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return token_count_bpe_ish(d, "text", "doc_id").orderBy("doc_id")


@register(
    "text_repetition_signals",
    oracle="""
    WITH rtoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    rgrams AS (
      SELECT doc_id, v.n,
             array_to_string(list_slice(tk, u.i, u.i + v.n - 1), ' ') AS g
      FROM rtoks, (VALUES (2), (3)) v(n),
           UNNEST(range(1, greatest(len(tk) - v.n + 1, 0) + 1)) u(i)
    ),
    rcnt AS (SELECT doc_id, n, g, COUNT(*) AS c
             FROM rgrams GROUP BY doc_id, n, g),
    rmet AS (
      SELECT doc_id,
             CAST(MAX(CASE WHEN n = 2 THEN c END) AS DOUBLE)
                 / SUM(CASE WHEN n = 2 THEN c END) AS top_bigram_frac,
             CAST(COALESCE(SUM(CASE WHEN n = 2 AND c > 1 THEN c END), 0) AS DOUBLE)
                 / SUM(CASE WHEN n = 2 THEN c END) AS dup_bigram_frac,
             CAST(MAX(CASE WHEN n = 3 THEN c END) AS DOUBLE)
                 / SUM(CASE WHEN n = 3 THEN c END) AS top_trigram_frac,
             CAST(COALESCE(SUM(CASE WHEN n = 3 AND c > 1 THEN c END), 0) AS DOUBLE)
                 / SUM(CASE WHEN n = 3 THEN c END) AS dup_trigram_frac
      FROM rcnt
      GROUP BY doc_id
    )
    SELECT d.doc_id, rmet.top_bigram_frac, rmet.dup_bigram_frac,
           rmet.top_trigram_frac, rmet.dup_trigram_frac
    FROM documents d LEFT JOIN rmet USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Gopher-style within-document repetition quality signals "
    "(operators/text.py::repetition_features): fraction of n-grams in "
    "the most common n-gram and in n-grams occurring more than once, "
    "for n=2,3 — the boilerplate/spam gate of pretraining curation "
    "(Rae et al. 2021, Table A1). Distributed explode→count shape with "
    "map-side combining, two shuffles for all n at once; every metric "
    "is one IEEE division of exact integers, hash-checked.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return repetition_features(d, "text", "doc_id").orderBy("doc_id")


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"w -> list_contains({list(markers)!r}, w)))"
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {", ".join(f"{_lang_score_sql(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items())}
      FROM documents
    )
    SELECT doc_id,
           CASE
             {" ".join(
               f"WHEN s_{lang} >= GREATEST({', '.join('s_' + l2 for l2 in LANG_MARKERS)}) THEN '{lang}'"
               for lang in LANG_MARKERS
             )}
           END AS predicted_lang,
           CAST(GREATEST({", ".join("s_" + lang for lang in LANG_MARKERS)}) AS INT)
               AS marker_hits
    FROM scored
    ORDER BY doc_id
    """,
    doc="Marker-lexicon language ID: per-language token-membership scores, "
    "argmax with fixed declaration-order tie-break (the CASE chain checks "
    "languages in the same order the Spark struct-max priority encodes).",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return language_id(d, "text", "doc_id").orderBy("doc_id")


@register(
    "text_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(text) AS exact_fp,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_fp
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: exact md5 + order-insensitive "
    "bag-of-words md5 (sorted-token hash) — the cheap shuffled-content "
    "detector; both cryptographic, so cross-engine hash-stable.",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return fingerprints(d, "text", "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal columns.
# ---------------------------------------------------------------------------


@register(
    "multimodal_props_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS k_sum,
           CAST(SUM(CAST(props->>'k' AS INT)) AS DOUBLE) / COUNT(*) AS k_avg,
           CAST(MAX(CAST(props->>'k' AS INT)) AS INT) AS k_max
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="JSON sidecar parsing: from_json(props) schema-on-read → typed "
    "aggregation (exact integer sums; avg as exact-sum/count). The "
    "multimodal pattern for metadata riding next to opaque payloads.",
)
def multimodal_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = parse_props(load(spark, sf_dir, "events"))
    k = F.col("props_parsed.k")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).cast("bigint").alias("k_sum"),
            (F.sum(k).cast("double") / F.count("*")).alias("k_avg"),
            F.max(k).cast("int").alias("k_max"),
        )
        .orderBy("event_type")
    )


@register(
    "multimodal_embedding_quantize",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(len(list_filter(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
                v -> v > 0)) AS INT) AS n_pos,
           CAST(list_max(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS q_max,
           CAST(list_min(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS q_min
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="Embedding → integer features: per-dimension floor(x*1000) "
    "quantization (one correctly-rounded multiply + floor — engine-"
    "stable), then exact integer sums/extrema. The shape of PQ-code / "
    "sign-bit / histogram feature extraction.",
)
def multimodal_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return quantized_embedding_features(e).orderBy("vec_id")


@register(
    "multimodal_blob_decode",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(doc_id % 64 + 16 AS INT) AS width,
             CAST(doc_id % 48 + 16 AS INT) AS height,
             CAST(CASE WHEN doc_id % 7 = 0
                  -- real 24-bit BMP rows: 54-byte header + 4-byte
                  -- padded BGR rows (the BMP size formula)
                  THEN 54 + (((doc_id % 64 + 16) * 3 + 3) // 4) * 4
                         * (doc_id % 48 + 16)
                  ELSE 6 + length(CAST(doc_id % 64 + 16 AS VARCHAR))
                         + length(CAST(doc_id % 48 + 16 AS VARCHAR))
                         + octet_length(encode(text))
                  END AS INT) AS n_bytes,
             CAST(doc_id % 200 + 10 AS INT) AS n_frames
      FROM documents
    )
    SELECT doc_id, 'image' AS media_type, width, height, n_bytes,
           CAST(greatest(1, width * 32 // greatest(width, height)) AS INT)
               AS new_width,
           CAST(greatest(1, height * 32 // greatest(width, height)) AS INT)
               AS new_height,
           CAST((n_frames + 6) // 7 AS BIGINT) AS n_sampled_frames,
           CAST(7 * ((n_frames + 6) // 7 - 1) AS INT) AS max_frame_idx,
           CAST(7 * ((n_frames + 6) // 7 - 1) * 100 AS INT) AS last_frame_ts_ms
    FROM base
    ORDER BY doc_id
    """,
    doc="The opaque-binary modality surface end-to-end: synthesize "
    "deterministic blobs — every 7th doc a REAL 24-bit BMP (round 10, "
    "operators/multimodal.py::bmp_dims parses genuine binary headers), "
    "every 5th doc's video a REAL YUV4MPEG2 stream (round 10, "
    "y4m_frames walks genuine FRAME markers), the rest IMG/VID headers "
    "— then three Arrow-batched mapInPandas stages: metadata decode, "
    "aspect-preserving resize (longer side -> 32), and every-7th frame "
    "sampling (one row per kept frame, re-aggregated per doc).  The "
    "oracle recomputes every value from the id arithmetic (incl. the "
    "BMP size formula 54 + padded-rows x height; the Y4M streams carry "
    "the same n_frames/fps as the VID stub so the frame rows are "
    "identical), so the whole Python path INCLUDING two real codecs is "
    "hash-checked by the driver.",
)
def multimodal_blob_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        resize_images,
        sample_frames,
        synthesize_bmp_blobs,
        synthesize_videos,
        synthesize_y4m_blobs,
    )

    d = load(spark, sf_dir, "documents")
    # every 7th document rides as a REAL 24-bit BMP (round 10): the
    # decode/resize stages parse genuine binary headers and the oracle
    # derives width/height/n_bytes from the same id arithmetic plus the
    # BMP size formula — a real codec inside the driver's hash check
    blobs = synthesize_blobs(
        d.where(F.col("doc_id") % 7 != 0), "text", "doc_id"
    ).unionByName(synthesize_bmp_blobs(d.where(F.col("doc_id") % 7 == 0), "doc_id"))
    decoded = decode_blobs(blobs)
    resized = resize_images(blobs, max_side=32)
    # every 5th document's video rides as a REAL YUV4MPEG2 stream
    # (round 10): same n_frames/fps as the VID stub, so the sampled
    # frames — and therefore the oracle — are identical, but the rows
    # now come out of the genuine FRAME-marker demux
    vids = synthesize_videos(
        d.where(F.col("doc_id") % 5 != 0), "doc_id"
    ).unionByName(
        synthesize_y4m_blobs(
            d.where(F.col("doc_id") % 5 == 0),
            "doc_id",
            frames_base=10,
            frames_mod=200,
            w_mod=1,
            h_mod=1,
        )
    )
    frames = (
        sample_frames(vids, every_k=7)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sampled_frames"),
            F.max("frame_idx").alias("max_frame_idx"),
            F.max("ts_ms").alias("last_frame_ts_ms"),
        )
    )
    return (
        decoded.join(resized, "doc_id")
        .join(frames, "doc_id")
        .orderBy("doc_id")
    )


def split_by_hash(
    df: DataFrame,
    key_col: str,
    weights: dict[str, int],
) -> DataFrame:
    """Deterministic train/val/test assignment: md5(key) mod total_weight
    banded by cumulative weights — reproducible across runs, engines,
    and cluster layouts (the same discipline as sample_stratified:
    content-derived hash, never rand()), and stable under corpus growth
    (a document's split never changes when other documents arrive).

    Narrow expression, zero shuffles; md5 (not xxhash64) so an external
    system — or the DuckDB oracle — can reproduce the exact assignment.
    """
    total = sum(weights.values())
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(total),
    )
    expr = None
    cum = 0
    for name, wgt in weights.items():
        cum += wgt
        cond = bucket < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


_BM25_TERMS = ("spark", "merge", "vector")
_BM25_ORACLE = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM words GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM words
  WHERE w IN ('spark', 'merge', 'vector') GROUP BY doc_id, w
),
dfreq AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq FROM tf GROUP BY w),
term_scores AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dfreq.dfreq + 0.5) / (dfreq.dfreq + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, ROUND(SUM(s), 6) AS bm25 FROM term_scores GROUP BY doc_id
"""


@register(
    "text_bm25_scores",
    oracle=_BM25_ORACLE,
    doc="BM25 lexical scoring (operators/text.py::bm25_scores) promoted "
    "from test-only to a hash-checked oracle: every document matching "
    "≥1 of three query terms, scored.  Promotable because membership is "
    "exact-integer (term present or not) and the score is a pure "
    "formula of integer statistics — avgdl computed as "
    "exact-integer-sum ÷ count (identical IEEE division both engines, "
    "the registry's average discipline) and ROUND(x, 6) on both sides "
    "absorbing libm-log and sum-order ulps.  Only the top-k CUT stays "
    "test-pinned (bm25_topk — a 1-ulp disagreement at the k-th score "
    "could change LIMIT membership, which no rounding fixes; the "
    "numpy-reference test covers it).  Scale shape unchanged: dfreq "
    "joins SHUFFLE_HASH (query-term vocabulary is unbounded — a "
    "decontamination sweep passes a benchmark suite), single-row "
    "stats broadcast, scores one shuffle on doc_id.",
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bm25_scores

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(d, "text", "doc_id", list(_BM25_TERMS))


_RRF_ORACLE = (
    """
WITH bm AS ("""
    + _BM25_ORACLE
    + """),
lex_ranked AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           AS rank
  FROM bm
),
lex AS (SELECT id, rank FROM lex_ranked WHERE rank <= 20),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qvec FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS id,
         list_cosine_similarity(q.qvec, c.emb) AS cos_sim
  FROM q CROSS JOIN e c WHERE c.vec_id <> q.query_id
),
vec AS (
  SELECT query_id, id, rank FROM (
    SELECT query_id, id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, id) AS INT) AS rank
    FROM scored
  ) r WHERE rank <= 20
),
u AS (
  SELECT query_id, id, rank FROM vec
  UNION ALL
  SELECT qd.query_id, lex.id, lex.rank
  FROM (SELECT DISTINCT query_id FROM q) qd CROSS JOIN lex
),
fused AS (
  SELECT query_id, id,
         CAST(SUM(CAST(FLOOR(1000000000.0 / (60 + rank)) AS BIGINT))
              AS BIGINT) AS rrf_scaled,
         CAST(count(*) AS INT) AS n_lists
  FROM u GROUP BY query_id, id
)
SELECT query_id, id, rrf_scaled, n_lists,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY rrf_scaled DESC, id) AS INT) AS fused_rank
FROM fused
"""
)


@register(
    "hybrid_rrf_retrieval",
    oracle=_RRF_ORACLE,
    doc="Hybrid retrieval via reciprocal-rank fusion (operators/"
    "similarity.py::rrf_fusion): a lexical BM25 top-20 (three query "
    "terms, TakeOrderedAndProject — the round-6dp score plus doc_id "
    "tie-break makes LIMIT membership deterministic cross-engine, "
    "unlike a raw-double cut) fused with each query vector's exact "
    "cosine top-20 as score(d) = Σ 1/(60+rank).  The reciprocal is "
    "materialized as floor(1e9/(60+rank)) — an exact integer — so the "
    "fused score is an integer SUM (associative, shuffle-order-free) "
    "and the fused ranking is deterministic with the id tie-break; a "
    "float RRF sum would depend on which list's term arrived first.  "
    "Fusion is one hash aggregation on (query, id); the ranking window "
    "sees ≤ k·n_lists rows per query.  This is the retrieval-based "
    "data-selection shape (find corpus docs about X lexically AND "
    "semantically) at any corpus size, provided the retrievers bound "
    "their k.",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from ..operators.similarity import rrf_fusion
    from ..operators.text import bm25_scores

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = e.where(F.col("vec_id") % 50 == 0)

    lex = (
        bm25_scores(d, "text", "doc_id", list(_BM25_TERMS))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )
    # ranking the ≤20 surviving rows: the single-partition window is
    # bounded by the LIMIT, not the corpus
    lex_ranked = lex.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("int"),
    ).select(F.col("doc_id").alias("id"), "rank")
    # the single lexical list applies to every query: broadcast the
    # (tiny, distinct) query-id set over the 20 lexical rows
    qids = queries.select(F.col("vec_id").alias("query_id")).distinct()
    lex_per_q = F.broadcast(qids).crossJoin(lex_ranked)

    vec = brute_force_topk(e, queries, k=20).select(
        "query_id", F.col("neighbor_id").alias("id"), "rank"
    )
    return rrf_fusion(
        [vec, lex_per_q], ["query_id"], "id"
    ).select("query_id", "id", "rrf_scaled", "n_lists", "fused_rank")


_LINKAGE_ORACLE = """
WITH RECURSIVE recs AS (
  SELECT c_custkey AS rec_id, c_name AS name FROM customer
  UNION ALL
  SELECT c_custkey + 1000000000,
         substr(c_name, 1, 9) || 'x' || substr(c_name, 11, 8)
  FROM customer WHERE c_custkey % 5 = 0
),
keyed AS (
  SELECT rec_id,
         regexp_replace(lower(trim(name)), ' +', ' ', 'g') AS name_n
  FROM recs
),
k2 AS (
  SELECT rec_id, name_n,
         substr(name_n, length(name_n) - 3, 4) || '|'
           || CAST(length(name_n) AS VARCHAR) AS block
  FROM keyed
),
pairs AS (
  SELECT a.rec_id AS id_a, b.rec_id AS id_b,
         levenshtein(a.name_n, b.name_n) AS dist
  FROM k2 a JOIN k2 b ON a.block = b.block AND a.rec_id < b.rec_id
  WHERE levenshtein(a.name_n, b.name_n) <= 2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT 'pairs' AS part, id_a AS a, id_b AS b, CAST(dist AS BIGINT) AS d
FROM pairs
UNION ALL
SELECT 'clusters' AS part, a, min(b) AS b, CAST(NULL AS BIGINT) AS d
FROM reach GROUP BY a
"""


@register(
    "linkage_battery",
    oracle=_LINKAGE_ORACLE,
    doc="Entity resolution over a corpus with PLANTED fuzzy duplicates "
    "(every 5th customer re-appears under a new id with one character "
    "substituted — derived with pure expressions the oracle CTE "
    "restates verbatim, the dedup-family fixture discipline).  "
    "part=pairs: operators/linkage.py::linkage_candidates — blocking "
    "on (normalized-name SUFFIX, length) so identifier-shaped names "
    "with long constant prefixes don't collapse into one n² block, "
    "then exact levenshtein ≤ 2 verify on the co-blocked pairs; an "
    "equi-join shuffle, never a cross join.  part=clusters: "
    "linkage_candidates → linkage_clusters (pointer-jumped connected "
    "components, operators/dedup.py::dedup_groups) assigning each "
    "matched record the min reachable rec_id — hash-checked against a "
    "RECURSIVE-CTE transitive closure in DuckDB, which makes even the "
    "iterative graph stage oracle-verified (closure is O(component²) "
    "rows — fine for an oracle on hand-sized components, exactly why "
    "the ENGINE side uses pointer jumping instead).",
)
def linkage_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import linkage_candidates, linkage_clusters

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    base = cust.select(
        F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name")
    )
    variants = cust.where(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 1_000_000_000).alias("rec_id"),
        F.concat(
            F.substring("c_name", 1, 9),
            F.lit("x"),
            F.substring("c_name", 11, 8),
        ).alias("name"),
    )
    recs = base.unionByName(variants)
    pairs = linkage_candidates(
        recs, "rec_id", "name", block_suffix_len=4, max_dist=2
    )
    # both branches consume the pair table; pin it once so the blocking
    # join doesn't recompute under the components iteration
    from ..operators.pinning import eager_pin

    pairs = eager_pin(pairs)
    p = pairs.select(
        F.lit("pairs").alias("part"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("dist").cast("long").alias("d"),
    )
    c = linkage_clusters(pairs).select(
        F.lit("clusters").alias("part"),
        F.col("rec_id").alias("a"),
        F.col("entity_id").alias("b"),
        F.lit(None).cast("long").alias("d"),
    )
    return p.unionByName(c)


# ---------------------------------------------------------------------------
# Recall-driven parameter recommendation (round 12): the measured sf1
# recall curves (tools/recall_curves.py -> RECALL_CURVES_r11.json,
# recall x10000 as exact integers, cost = measured wall x10) embedded as
# the bounded curve table, so the argmin machinery itself is
# oracle-checked.  The simhash grid is excluded on purpose: its
# max_hamming axis changes the TASK (the ground-truth pair set), not
# just the operating point.
# ---------------------------------------------------------------------------

_RECALL_CURVE_ROWS = [
    # (family, param_id, p1, p2, recall_scaled, cost)
    ("minhash", 1, 2, 8, 9490, 34),    # bands=2 rows=8
    ("minhash", 2, 4, 4, 10000, 22),   # bands=4 rows=4
    ("minhash", 3, 8, 2, 10000, 22),   # bands=8 rows=2
    ("minhash", 4, 16, 1, 10000, 50),  # bands=16 rows=1
    ("ivf", 1, 1, 0, 9100, 34),        # nprobe=1
    ("ivf", 2, 2, 0, 9100, 29),
    ("ivf", 3, 4, 0, 9100, 28),
    ("ivf", 4, 8, 0, 9100, 29),
    ("ivf", 5, 16, 0, 9250, 29),
    ("pq", 1, 20, 0, 10000, 124),      # shortlist=20
    ("pq", 2, 50, 0, 10000, 130),
    ("pq", 3, 100, 0, 10000, 132),
    ("pq", 4, 200, 0, 10000, 140),
]

_RECALL_TARGET_ROWS = [
    ("minhash", 9500),
    ("minhash", 10000),
    ("ivf", 9000),
    ("ivf", 9900),  # unreachable on the measured grid: fallback path
    ("pq", 10000),
]


def _sql_values(rows) -> str:
    return ", ".join(
        "(" + ", ".join(f"'{v}'" if isinstance(v, str) else str(v) for v in r)
        + ")"
        for r in rows
    )


_TUNE_ORACLE = f"""
WITH curves(family, param_id, p1, p2, recall_scaled, cost) AS (
  VALUES {_sql_values(_RECALL_CURVE_ROWS)}
),
targets(family, target_scaled) AS (
  VALUES {_sql_values(_RECALL_TARGET_ROWS)}
),
j AS (
  SELECT c.*, t.target_scaled,
         c.recall_scaled >= t.target_scaled AS meets,
         CASE WHEN c.recall_scaled >= t.target_scaled THEN c.cost
              ELSE 100000000 - c.recall_scaled END AS pick
  FROM curves c JOIN targets t USING (family)
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY family, target_scaled
    ORDER BY meets DESC, pick, cost, param_id
  ) AS rn FROM j
)
SELECT family, CAST(target_scaled AS BIGINT) AS target_scaled,
       CAST(param_id AS BIGINT) AS param_id, CAST(p1 AS BIGINT) AS p1,
       CAST(p2 AS BIGINT) AS p2,
       CAST(recall_scaled AS BIGINT) AS recall_scaled,
       CAST(cost AS BIGINT) AS cost, meets
FROM r WHERE rn = 1
ORDER BY family, target_scaled
"""


@register(
    "tune_recall_params",
    oracle=_TUNE_ORACLE,
    doc="Recall-driven parameter recommendation (round 12 — "
    "operators/tuning.py::recommend_parameters): given the measured "
    "sf1 recall-vs-cost grids for MinHash banding / IVF nprobe / PQ "
    "shortlist (RECALL_CURVES_r11.json, recall x10000 exact integers) "
    "and a target recall, pick the CHEAPEST measured configuration "
    "meeting the target — or, when no configuration meets it, the "
    "maximum-recall fallback flagged meets=false.  Deterministic "
    "row_number argmin over bounded broadcast metadata tables; the "
    "oracle re-derives every pick from the same literal grid, so the "
    "recommendation MACHINERY (meets predicate, cost/recall ordering, "
    "fallback) is what the hash checks.  Turns the recall-curve "
    "artifacts from documentation into a queryable operator.",
)
def tune_recall_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tuning import recommend_parameters

    curves = spark.createDataFrame(
        _RECALL_CURVE_ROWS,
        "family string, param_id long, p1 long, p2 long, "
        "recall_scaled long, cost long",
    )
    targets = spark.createDataFrame(
        _RECALL_TARGET_ROWS, "family string, target_scaled long"
    )
    return recommend_parameters(curves, targets).orderBy(
        "family", "target_scaled"
    )

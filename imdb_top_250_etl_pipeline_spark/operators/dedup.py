"""Deduplication operators for large-scale text corpora.

The reference's only dedup is key-level (Postgres UNIQUE / composite-PK
ON CONFLICT, webscraper-postgres.py:122,132,137,142 — covered by the ETL
surface).  A training-data pipeline needs content-level dedup at corpus
scale; these operators provide it as pure DataFrame transformations:

- exact:   content-hash groupBy keep-first (one shuffle, map-side combine)
- MinHash: shingle → k-permutation min-hash signature → LSH band bucketing
           → bucket-local candidate join → exact Jaccard verify
- SimHash: 64-bit sign-of-weighted-bit-counts fingerprint → banded
           hamming-distance candidate pairs

Everything is built-in expression work (xxhash64 / transform / aggregate /
zip_with) — JVM-side, codegen'd, no Python in the hot path.  The all-pairs
comparison that kills at 100 TB never happens: candidates come only from
equal LSH/SimHash band buckets, and the verify joins are equi-joins on
doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pinning import eager_pin, pin

# Mersenne prime 2^31-1: modulus for the minhash permutation family.
# 31-bit on purpose: a*h+b stays < 2^62, so the arithmetic never overflows
# long — the driver's vanilla session runs ANSI mode, where a silent
# 64-bit wraparound would instead be a runtime ARITHMETIC_OVERFLOW error.
_P = (1 << 31) - 1


def plan_size_bytes(df: DataFrame) -> int | None:
    """Optimized-logical-plan size estimate in bytes — a STATIC size
    hint (no job, no action; the round-13 DSIR lesson forbids plan-time
    probe jobs).  None when unavailable (Connect session).  Estimates
    above joins/aggregates can inflate wildly — callers must clamp."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# bytes of input that justify one spread task: these passes do heavy
# per-byte expression work (shingling, hashing, signatures), so the
# quantum errs small — but a KB-scale input must not fan to 2*cores
# (round 14: at local[32] the fixed 64-way spread made every stage a
# 64-task stage on ~10 KB partitions; the 8-core control beat 32 cores)
_SPREAD_TASK_BYTES = 32 * 1024


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition across all cores with an EXPLICIT partition count.

    ``repartition(col)`` alone is advisory (REPARTITION_BY_COL): AQE
    coalesces it back down by byte size, which serializes CPU-heavy
    narrow work over small-but-expensive rows (measured: an LSH verify
    stage collapsed to 1 task).  An explicit count is a user demand AQE
    honors.  Use before interpreted/per-row-expensive passes whose input
    is small in bytes; harmless at scale where inputs arrive many-
    partitioned anyway.

    The count is SIZE-ADAPTIVE (round 14): 2*parallelism as before, but
    never more than one task per ``_SPREAD_TASK_BYTES`` of the plan's
    static byte estimate (floor 8) — a KB-scale input keeps real
    per-task work instead of scheduling 64 near-empty tasks.  Inflated
    estimates (joins) and unavailable stats degrade to the old fixed
    count; at production scale the 2*parallelism clamp always wins.
    Measured at sf0.1/local[32], min-of-4: simhash raw 3.55 → 2.40 s,
    minhash raw 2.87 → 1.74 s, cosine dedup 3.99 → 3.40 s.
    """
    n = max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    est = plan_size_bytes(df)
    if est is not None:
        n = max(8, min(n, -(-est // _SPREAD_TASK_BYTES)))
    return df.repartition(n, *[F.col(c) for c in cols])


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of a space-tokenized text (empty when < n words).

    Implemented as one pass of regexp_extract_all with a lookahead
    capture — the zero-width (?=...) makes the matches overlap while the
    consumed token boundary advances the scan, so every token start
    yields one gram.  Stays in whole-stage codegen; the equivalent
    transform(sequence, element_at...) formulation runs interpreted and
    measured 3× slower on the shingling pass.
    """
    c = F.col(text) if isinstance(text, str) else text
    gram = " ".join([r"\S+"] * n)
    pat = f"(?:^| )(?=({gram}))"
    return F.coalesce(
        F.regexp_extract_all(c, F.lit(pat), 1), F.array().cast("array<string>")
    )


def shingle_hashes(shingles: Column) -> Column:
    """31-bit-reduced xxhash64 of each shingle — computed ONCE and
    materialized as a column before the k permutations run over it
    (inlining it into minhash_signature re-evaluates the string hashing
    k times: Catalyst does not CSE across lambda bodies, a measured ~10×
    slowdown on the bench)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_P)))


def minhash_signature(hashes: str, k: int = 16, seed: int = 42) -> Column:
    """k-permutation MinHash signature over the pre-hashed shingle
    column ``hashes`` (see shingle_hashes).

    Permutation i is h -> (a_i * h + b_i) mod P — the classic universal-
    hash family, fixed seeds so the signature is deterministic across
    runs and cluster layouts, and every intermediate fits a long even
    under ANSI mode (31-bit domain: a*h+b < 2^62).  Rendered as one SQL
    expression: building the k lambdas through the Column API cost ~850
    driver-JVM round trips per call.
    """
    perms = []
    for i in range(k):
        a = (seed * 1_000_003 + i * 7919) % _P or 1
        b = (seed * 999_983 + i * 104_729) % _P
        perms.append(
            f"array_min(transform(`{hashes}`, x -> pmod(x * {a} + {b}, {_P})))"
        )
    return F.expr(f"array({', '.join(perms)})")


def lsh_bands(sig: str, bands: int, rows: int) -> Column:
    """Split the signature column ``sig`` into ``bands`` hashed bands of
    ``rows`` values.

    Two docs collide in a band iff their signatures agree on all of that
    band's rows — the standard S-curve knob: P(candidate) =
    1-(1-j^rows)^bands for Jaccard j.
    """
    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {i}, 'bucket', "
            f"xxhash64(slice(`{sig}`, {i * rows + 1}, {rows})))"
            for i in range(bands)
        )
        + ")"
    )


def bucket_stats(
    banded: DataFrame, id_col: str, band_cols: list[str]
) -> DataFrame:
    """Per-bucket member count + min id — the hot-bucket guard's input.

    One bare aggregation (band cols + id only, map-side partial combine).
    Compute once, persist (or write to a stats table), and pass to
    ``capped_band_pairs(precomputed_stats=...)`` so composed pipelines
    keep plan construction fully lazy; the eager default recomputes this
    internally per call.
    """
    return (
        banded.select(*band_cols, id_col)
        .groupBy(*band_cols)
        .agg(F.count("*").alias("_bn"), F.min(id_col).alias("_bmin"))
    )


def capped_band_pairs(
    banded: DataFrame,
    id_col: str,
    band_cols: list[str],
    max_bucket: int = 256,
    payload_cols: list[str] | None = None,
    precomputed_stats: DataFrame | None = None,
    verify=None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs within equal ``band_cols`` buckets,
    with a hot-bucket guard.

    Buckets of <= ``max_bucket`` members emit all pairs (the normal LSH
    path).  A degenerate bucket — N near-identical boilerplate docs, N
    empty docs — would otherwise emit N^2/2 pairs and take the job
    quadratic; above the cap the bucket instead emits STAR pairs only
    (every member against the bucket's min id, O(N) rows).  For the
    dedup use case the star is sufficient: each member is still flagged
    against a representative, and connected-component grouping downstream
    recovers the clique.  The tradeoff (a non-identical near-dup pair
    inside a hot bucket is detected only transitively via the
    representative) is the standard price of bounding LSH skew.

    ``payload_cols`` (fingerprints, vectors, norms) ride THROUGH the pair
    join and come back as ``<col>_a`` / ``<col>_b`` — callers verify
    candidates without re-joining the base table (a join-back per side
    measured ~2× slower end-to-end on the simhash bench).  The star
    representative's payload is captured in the stats aggregate via
    min_by, so the star path needs no lookup either.

    Guard plumbing is sized for the EXPECTED case — hot buckets are rare
    by construction (that's what banding is for): the over-cap buckets
    are detected with one BARE aggregation (band cols + id only, no
    payloads; map-side partial combine) materialized at plan-build time,
    and when the hot set is EMPTY — the normal case — the pair join is
    built directly on ``banded``, so the guarded plan differs from an
    unguarded one by exactly that one aggregation pass.  Only when hot
    buckets exist do the broadcast anti join (cap the all-pairs side)
    and the star path (members + representative payload lookup, both
    tiny broadcast joins) enter the plan.  (Earlier drafts joined full
    bucket stats onto every banded row — 1.9× slower on the minhash
    bench — or window-counted over the band columns — 4× slower on
    simhash.)  A corpus so degenerate that ``hot`` itself is huge would
    stress the broadcast; at that point the corpus needs cleaning, not
    pairing.

    ``verify`` (round 14, guide §2.3): an optional per-pair transform
    (filter + projection) applied to the candidate rows BEFORE the
    final distinct-pairs exchange.  Band-LSH verify stages are brutally
    selective (measured at sf0.1: 273k simhash candidates → 905
    surviving pairs), and payload columns are wide (fingerprints,
    vectors) — verifying first means the dropDuplicates exchange
    carries a few hundred narrow verified rows instead of every
    candidate with both payloads.  The transform must keep ``id_a`` /
    ``id_b`` and must be a pure row function of the pair (the same
    pair reached via different bands must produce identical rows —
    which any distance verify satisfies), so filter-then-distinct
    equals distinct-then-filter.  It runs on the star path too.

    ``precomputed_stats`` keeps plan construction FULLY LAZY: pass a
    ``bucket_stats(banded, ...)`` table (persisted, or written once per
    pipeline run) and no Spark job runs at build time — the guard is
    composed as the union of both paths (anti-joined all-pairs + star),
    which degrades gracefully to the all-pairs result when no bucket is
    actually hot (the anti join passes everything, the star side is
    empty).  That is the composed-pipeline/cluster shape; the default
    ``None`` keeps the eager measure-then-pick-a-plan behavior, which
    skips the two extra joins entirely in the common no-hot-bucket case.
    """
    payload_cols = payload_cols or []
    if precomputed_stats is None:
        hot_plan = bucket_stats(banded, id_col, band_cols).where(
            F.col("_bn") > max_bucket
        )
        # plan-build-time action, deliberately: when no bucket is hot (the
        # normal case) the guarded plan collapses to the bare pair join.
        # Round-13 optimization: probe emptiness on the LAZY plan and pin
        # only when hot buckets exist — the old eager_pin-then-isEmpty
        # paid a localCheckpoint write of the stats table on EVERY call,
        # then threw it away in the common empty case (nothing downstream
        # reads ``hot`` when no_hot).  The rare hot path now derives the
        # stats twice (isEmpty + pin), which is the right side of the
        # trade; callers pass ``precomputed_stats`` to avoid even that.
        no_hot = hot_plan.isEmpty()
        hot = None if no_hot else eager_pin(hot_plan)
    else:
        hot = precomputed_stats.where(F.col("_bn") > max_bucket)
        no_hot = False  # unknowable without an action; build both paths
    small = (
        banded
        if no_hot
        else banded.join(
            F.broadcast(hot.select(*band_cols)), list(band_cols), "left_anti"
        )
    )
    left, right = small.alias("l"), small.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for c in band_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    all_pairs = left.join(right, cond).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{p}").alias(f"{p}_a") for p in payload_cols],
        *[F.col(f"r.{p}").alias(f"{p}_b") for p in payload_cols],
    )
    if verify is not None:
        all_pairs = verify(all_pairs)
    if no_hot:
        return all_pairs.dropDuplicates(["id_a", "id_b"])
    hot_members = banded.join(F.broadcast(hot), list(band_cols))
    # representative payloads: one row per hot bucket, joined back to the
    # members broadcast-side (rare path — only runs when hot is non-empty)
    reps = hot_members.where(F.col(id_col) == F.col("_bmin")).select(
        *band_cols, *[F.col(p).alias(f"_bmin_{p}") for p in payload_cols]
    )
    star_pairs = (
        hot_members.where(F.col(id_col) != F.col("_bmin"))
        .join(F.broadcast(reps), list(band_cols))
        .select(
            F.col("_bmin").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"_bmin_{p}").alias(f"{p}_a") for p in payload_cols],
            *[F.col(p).alias(f"{p}_b") for p in payload_cols],
        )
    )
    if verify is not None:
        star_pairs = verify(star_pairs)
    return all_pairs.unionByName(star_pairs).dropDuplicates(["id_a", "id_b"])


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: sha2(text) → keep the smallest id per group.

    One shuffle on the 256-bit content hash with map-side partial
    aggregation; at 100 TB this is the cheapest possible full-corpus
    dedup (the hash is 32 bytes regardless of document size — project
    early so the shuffle never carries the text).
    """
    h = F.sha2(F.col(text_col), 256)
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 256,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding + exact-Jaccard verify.

    Never all-pairs: candidates are generated only inside equal
    (band, bucket) groups, then verified with exact word-shingle Jaccard
    via two equi-joins on doc id.  At 100 TB the band-bucket shuffle is
    the dominant cost and it carries only (band, bucket, id) triples.
    Buckets above ``max_bucket`` members fall back to star pairs against
    the bucket representative (see capped_band_pairs) so a degenerate
    bucket cannot go quadratic.  The shingle and bucket tables come from
    build_minhash_index.
    """
    if collapse_exact:
        df = collapse_exact_first(df, text_col, id_col)
    index = build_minhash_index(df, text_col, id_col, n_shingle, k, bands)
    cand = capped_band_pairs(index.buckets, id_col, ["band", "bucket"], max_bucket)
    sh = index.shingles
    verified = (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return verified


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document, as (id, 64-char bit string).

    Per word: xxhash64 → ±1 per bit; sum the ±1 vectors over all words;
    fingerprint bit j = sign of count j.  Shaped for codegen: explode to
    (id, word_hash) rows, derive the 64 ±1 bit columns with literal-
    shift integer expressions (no higher-order functions — an earlier
    array-fold formulation ran interpreted and ~8× slower), then one
    partial+final hash aggregate on the id.  The single shuffle carries
    64 ints per id — the same shape at any corpus size.
    """
    # hash once per word as its own projection: inlining xxhash64 into
    # each of the 64 bit-sum expressions would evaluate it 64× per row
    words = (
        spread(df, id_col)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .select(F.col(id_col), F.xxhash64("w").alias("h"))
    )
    h = F.col("h")
    bit_sums = [
        F.sum(
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        ).alias(f"b{j}")
        for j in range(64)
    ]
    counts = words.groupBy(id_col).agg(*bit_sums)
    # msb-first to match lpad(bin(h)) ordering conventions
    bits = F.concat(
        *[
            F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(63, -1, -1)
        ]
    )
    return counts.select(F.col(id_col), bits.alias("bits"))


def _half_long(bits: Column, start: int) -> Column:
    """One 32-bit half of a 64-char bit string as a long (via base-2 conv)."""
    return F.conv(F.substring(bits, start, 32), 2, 10).cast("long")


def collapse_exact_first(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Pre-collapse byte-identical texts to their min-id representative.

    The production pipeline order is exact-dedup THEN near-dedup: on a
    clone-heavy corpus (boilerplate, mirrored pages) identical texts
    flood every near-dup bucket with pairs the cheap hash-groupBy
    already finds.  Measured at sf1 (50k docs, ~10 exact clones per
    text by construction): the banded n-gram pass drops from ~730 s to
    seconds once 50k docs collapse to ~5k representatives, because
    within-bucket pair volume falls with the SQUARE of the clone
    factor.  Near-dup pairs among representatives plus exact-dup groups
    from ``exact_dedup`` together cover exactly the pairs the
    un-collapsed run emits (clone-clique pairs are the exact-dup
    signal, not a near-dup discovery).

    Digest discipline (round 12): the representative set is derived by
    grouping 256-bit sha2 digests (the same collision-resistant hash
    exact_dedup groups on — md5 collisions are practically
    constructible, and an engineered pair would silently merge two
    DISTINCT texts) — one shuffle of 32-byte keys with map-side
    combine — and the surviving rows come back via a left-semi join on
    the id, so the exchange never carries raw text as a GROUP BY key
    and only REPRESENTATIVE texts move at all (on the 10-clone sf1
    shape, 10× less text through the wire than the earlier
    groupBy(text)).  Returns the representatives' ORIGINAL rows, all
    columns preserved.
    """
    reps = (
        df.select(F.sha2(F.col(text_col), 256).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(reps, id_col, "left_semi")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 8,
    bands: int = 4,
    max_bucket: int = 256,
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs whose SimHash hamming distance <= max_hamming.

    Candidate generation by banding the 64-bit fingerprint into
    ``bands`` equal substrings: any pair within hamming distance
    (bands - 1) shares at least one exact band (pigeonhole), so with 4
    bands recall is exact for distance <= 3 and high for <= 8 on real
    near-dups.  Verification is bit_count(xor) on the two 32-bit halves;
    the fingerprint rides through the pair join as the capped_band_pairs
    payload (64 chars/row — cheaper than a verify join-back per side).
    Hot buckets (identical boilerplate fingerprints) are capped to star
    pairs via capped_band_pairs, so they cannot go quadratic.
    """
    if collapse_exact:
        df = collapse_exact_first(df, text_col, id_col)
    width = 64 // bands
    # materialize once: the banded self-join would otherwise rebuild the
    # whole fingerprint table for each side (persist() on a cluster)
    sh = eager_pin(simhash_table(df, text_col, id_col))
    # the verify payload is the fingerprint as TWO LONGS, parsed once
    # per document here (round 14) — the old 64-char ``bits`` payload
    # was conv()-parsed per CANDIDATE PAIR (4 string→long parses × 273k
    # candidates at sf0.1) and rode the distinct-pairs exchange as 128
    # chars/pair
    banded = sh.select(
        id_col,
        _half_long(F.col("bits"), 1).alias("h1"),
        _half_long(F.col("bits"), 33).alias("h2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("bits", i * width + 1, width).alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "h1", "h2", "bb.band", "bb.chunk")
    ham = (
        F.bit_count(F.col("h1_a").bitwiseXOR(F.col("h1_b")))
        + F.bit_count(F.col("h2_a").bitwiseXOR(F.col("h2_b")))
    )
    # hamming verify runs BEFORE the distinct-pairs exchange (guide
    # §2.3): banding is a recall device, so candidates outnumber true
    # pairs ~300:1 at sf0.1 — filtering first shrinks the exchange to
    # the verified survivors, three narrow columns each
    verify = lambda pairs: pairs.select(  # noqa: E731
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)
    return capped_band_pairs(
        banded,
        id_col,
        ["band", "chunk"],
        max_bucket,
        payload_cols=["h1", "h2"],
        verify=verify,
    )


def char_ngrams_distinct(text: Column | str, n: int = 3) -> Column:
    """DISTINCT character n-grams of a text column (empty array below
    length n) — the single gram definition ngram_jaccard_pairs scores
    with and the planted-invariant oracles recompute in SQL; keeping
    it in one place is what stops the oracle predicate and the
    operator's similarity from drifting apart."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.when(
            F.length(c) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - (n - 1)),
                lambda i: c.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bucket_cols: list[str],
    n: int = 3,
    threshold: float = 0.6,
    length_band: int = 32,
    collapse_exact: bool = False,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs within bounded buckets.

    The quadratic comparison is bounded two ways: rows must share
    ``bucket_cols`` (e.g. language), and must sit within one
    ``length_band`` of each other.  The left side expands to bands
    {b-1, b, b+1} so cross-boundary pairs still meet exactly once (the
    right side keeps its single band).

    Caveat: the length prefilter is exact for multiset Jaccard but the
    similarity computed here is over DISTINCT grams — a repetition-heavy
    pair (one side repeats the other's content) can be gram-set-identical
    at very different lengths and would be missed; widen ``length_band``
    or fall back to MinHash banding for such corpora.  At 100 TB this is
    the verify stage; use MinHash/SimHash banding when no natural
    bucketing exists.
    """
    if collapse_exact:
        # digest-first collapse preserves the min-id row's own bucket
        # columns (exactly what the old min_by(c, id) picked)
        df = collapse_exact_first(
            df.select(*{text_col, id_col, *bucket_cols}), text_col, id_col
        )
    grams = char_ngrams_distinct(text_col, n)
    band = F.floor(F.length(text_col) / length_band)
    # repartition FIRST: the probe side of the (broadcast) bucket join
    # keeps this partitioning, so pair generation and scoring parallelize
    # across cores instead of across input file count
    base = (
        spread(df, id_col)
        .select(
            F.col(id_col),
            *[F.col(c) for c in bucket_cols],
            band.alias("len_band"),
            grams.alias("grams"),
        )
        .where(F.size("grams") > 0)
    )
    left = base.select(
        "*", F.explode(F.array(F.col("len_band") - 1, F.col("len_band"), F.col("len_band") + 1)).alias("probe_band")
    ).alias("l")
    right = base.alias("r")
    cond = (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")) & (
        F.col("l.probe_band") == F.col("r.len_band")
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            (
                F.size(F.array_intersect("l.grams", "r.grams"))
                / F.size(F.array_union("l.grams", "r.grams"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_groups(
    pairs: DataFrame, max_iterations: int = 30
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, group_id) where
    group_id is the smallest id reachable through any chain of pairs —
    the step that turns pairwise candidates (minhash/simhash/ngram/
    cosine, and capped_band_pairs' star pairs) into dedup groups a
    pipeline can keep-one-per-group on.

    Min-label propagation accelerated with POINTER JUMPING: every vertex
    starts labeled with its own id; each round takes (a) the min of its
    own and its neighbors' labels, then (b) its label's label — path
    halving, which turns the O(diameter) rounds of plain propagation
    into O(log diameter) (a 1000-link chain converges in ~10 rounds, not
    1000; the default cap of 30 fits any graph this side of 10^8
    diameter — the sf1 collapse-first pair graph, all chains once the
    clone cliques are gone, measured ~20 rounds, and converged rounds
    cost nothing because the loop exits on no-change).  Each round is two shuffles (neighbor groupBy + the jump
    join); lineage is cut per round (localCheckpoint; persist-and-
    iterate on a cluster) and the loop exits once a round changes
    nothing — the kmeans_refine discipline (similarity.py) applied to
    graphs.  Raises if the cap is hit before convergence: a silently
    non-converged grouping would under-merge components, which for dedup
    means duplicate clusters survive.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    # materialize the symmetric edge list once: the two joins in every
    # round reuse it, and without the checkpoint the entire upstream
    # pair-generation lineage (e.g. a simhash+ngram union) would be
    # re-executed each iteration (persist() on a cluster)
    sym = eager_pin(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    labels, labels_pin = pin(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("group_id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("group_id").alias("nbr_min"))
        )
        propagated = labels.join(
            neighbor_min, labels.id == neighbor_min.dst, "left"
        ).select(
            "id",
            F.least(
                F.col("group_id"), F.coalesce("nbr_min", F.col("group_id"))
            ).alias("group_id"),
        )
        # pointer jump: label <- label(label); labels form a min-forest,
        # so following one hop per round halves every path
        parent = labels.select(
            F.col("id").alias("p_id"), F.col("group_id").alias("p_group")
        )
        new_labels, new_pin = pin(
            propagated.join(parent, propagated.group_id == parent.p_id, "left")
            .select(
                "id",
                F.least(
                    F.col("group_id"), F.coalesce("p_group", F.col("group_id"))
                ).alias("group_id"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.group_id") != F.col("o.group_id"))
            .count()
        )
        # the convergence check above was the old labels' last reader
        labels_pin.release()
        labels, labels_pin = new_labels, new_pin
        if changed == 0:
            return labels.select(F.col("id").alias("doc_id"), "group_id")
    raise ValueError(
        f"dedup_groups did not converge in {max_iterations} rounds — "
        "component diameter exceeds 2^rounds; raise max_iterations"
    )


class MinhashIndex:
    """Persisted-index handle for incremental dedup: the shingle table
    (verify side) and the banded bucket table (candidate side) of an
    already-deduplicated corpus.  Production persists both as tables
    (bucket table partitioned by band) and appends each accepted batch."""

    def __init__(self, shingles: DataFrame, buckets: DataFrame):
        self.shingles = shingles
        self.buckets = buckets


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
) -> MinhashIndex:
    """Shingle and bucket tables of a corpus: the one-time index build
    of the incremental flow, and minhash_candidate_pairs' first step.

    The shingle+hash table is computed ONCE and materialized (eager
    localCheckpoint — persist()/a staging table on a cluster): it feeds
    the signature AND both verify joins, and shingle generation is
    interpreted higher-order-function work, the pipeline's dominant CPU
    cost (re-deriving it 3× measured ~3× slower end-to-end).  The
    repartition spreads that work across all cores — text corpora often
    arrive as a few big files, which would otherwise cap parallelism at
    the file count.  The small (id, band, bucket) table is pinned too:
    the guard's bucket aggregation AND both pair-join sides read it, and
    the k-permutation signature must not be re-derived per consumer."""
    rows = k // bands
    base = eager_pin(
        spread(df, id_col)
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles(text_col, n_shingle)).alias("shingles"),
        )
        .where(F.size("shingles") > 0)
        .withColumn("h", shingle_hashes(F.col("shingles")))
    )
    sigs = base.select(id_col, minhash_signature("h", k=k).alias("sig"))
    buckets = eager_pin(
        sigs.select(id_col, F.explode(lsh_bands("sig", bands, rows)).alias("bb"))
        .select(id_col, "bb.band", "bb.bucket")
    )
    return MinhashIndex(base.select(id_col, "shingles"), buckets)


def minhash_probe_incremental(
    index: MinhashIndex,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    new_index: "MinhashIndex | None" = None,
) -> DataFrame:
    """Incremental near-dup check: (new_id, existing_id, jaccard) pairs
    of an incoming batch against the indexed corpus — WITHOUT touching
    the existing corpus beyond an equi-join on its (tiny) bucket table.

    The production delta-dedup flow: per ingest batch, compute
    signatures for the NEW documents only, bucket-join against the
    persisted index (shuffle ∝ batch size, with the index side pruned
    to matching buckets), verify exact Jaccard against the indexed
    shingle table.  Work per batch is O(batch + matched buckets), not
    O(corpus) — re-running minhash_candidate_pairs over corpus+batch
    would re-shingle and re-hash everything already indexed.
    """
    rows = k // bands
    if new_index is None:
        new_index = build_minhash_index(
            new_df, text_col, id_col, n_shingle, k, bands
        )
    cand = (
        new_index.buckets.alias("n")
        .join(
            index.buckets.alias("e"),
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.bucket") == F.col("e.bucket")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"e.{id_col}").alias("existing_id"),
        )
        .distinct()
    )
    return (
        cand.join(
            new_index.shingles.select(
                F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_n")
            ),
            "new_id",
        )
        .join(
            index.shingles.select(
                F.col(id_col).alias("existing_id"),
                F.col("shingles").alias("sh_e"),
            ),
            "existing_id",
        )
        .select(
            "new_id",
            "existing_id",
            (
                F.size(F.array_intersect("sh_n", "sh_e"))
                / F.size(F.array_union("sh_n", "sh_e"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def exact_dedup_by(
    df: DataFrame,
    text_col: str,
    id_col: str,
    prefer_col: str,
    descending: bool = True,
) -> DataFrame:
    """Exact content dedup with a KEEP POLICY: per content group, keep
    the row that maximizes (default) or minimizes ``prefer_col`` — e.g.
    keep the copy with the best quality score or the longest text,
    instead of exact_dedup's keep-smallest-id.

    Same single-shuffle shape as exact_dedup (32-byte hash + the policy
    key through the exchange, map-side combine); ties break on the
    smaller id via the (prefer, id) ordering struct so the choice is
    deterministic.
    """
    h = F.sha2(F.col(text_col), 256)
    projected = df.select(
        h.alias("content_hash"), F.col(id_col), F.col(prefer_col).alias("_pref")
    )
    pref = F.col("_pref")
    order = F.struct(
        (-pref if descending else pref).alias("p"), F.col(id_col).alias("i")
    )
    return (
        projected.withColumn("_ord", order)
        .groupBy("content_hash")
        .agg(
            F.min_by(F.col(id_col), F.col("_ord")).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_bucket: int = 1024,
) -> DataFrame:
    """Character-n-gram Jaccard pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family, Xiao et al., WWW'08) — the lossless
    replacement for ``ngram_jaccard_pairs``' bucket quadratic.

    Pigeonhole: if J(A,B) >= t then |A∩B| >= ceil(t·|A|), so A's
    ``|A| - ceil(t·|A|) + 1`` rarest grams (global rarest-first order)
    must contain a common gram — and symmetrically for B.  Candidates
    are therefore exactly the pairs sharing a PREFIX gram: an equi-join
    on gram over the exploded prefixes (through the hot-bucket star
    guard), followed by the symmetric length filter
    ``|B| >= ceil(t·|A|)`` and the exact verify.  Unlike the banded
    variant this needs no bucketing column and is LOSSLESS up to the
    hot-bucket star cap (with no hot gram bucket the candidates are a
    guaranteed superset -> identical post-verify output to brute
    force; a gram shared by > ``max_bucket`` prefixes degrades to star
    pairs, the same documented cap as every banded operator), and
    candidate volume tracks rare-gram co-occurrence instead of bucket
    size squared.

    Scale shape: gram frequencies are a two-phase count joined back
    SHUFFLE_HASH (gram vocabulary is unbounded — never broadcast); the
    per-doc rarest-first order is one array_sort over collected
    (dfreq, gram) structs; prefixes explode WITHOUT the gram-array
    payload (the first draft shipped each doc's full gram set once per
    prefix gram — ~0.4·|g| copies; instead candidate ids pair up bare
    and the two gram arrays join back by id for the verify, two
    hash joins on already-small candidates).

    Measured (sf0.1 documents, t=0.6): the banded variant returns 81k
    pairs in ~15 s steady; this one returns the full 848k true pairs in
    ~120 s — the extra cost IS the 10× extra qualifying pairs the
    band/bucket approximation silently drops on this dense synthetic
    corpus.  Pick banded when an approximate same-bucket result is
    acceptable and cheap, prefix when completeness matters or no
    natural bucketing column exists; on real (sparser) corpora the
    prefix candidate volume also shrinks toward the true pair count.
    """
    grams = F.array_distinct(
        F.when(
            F.length(text_col) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(text_col) - (n - 1)),
                lambda i: F.col(text_col).substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    base = eager_pin(  # exploded twice + verify join
        spread(df, id_col)
        .select(F.col(id_col), grams.alias("grams"))
        .where(F.size("grams") > 0)
    )
    exploded = base.select(
        id_col, F.explode("grams").alias("gram")
    )
    freq = exploded.groupBy("gram").agg(F.count("*").alias("dfreq"))
    ordered = (
        exploded.join(freq.hint("shuffle_hash"), "gram")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dfreq", "gram"))
            ).alias("ordered")
        )
    )
    n_grams = F.size("ordered")
    prefix_len = n_grams - F.ceil(n_grams * F.lit(threshold)) + 1
    pre = ordered.select(
        F.col(id_col),
        n_grams.alias("n_grams"),
        F.explode(
            F.transform(
                F.slice("ordered", F.lit(1), prefix_len),
                lambda x: x.gram,
            )
        ).alias("gram"),
    )
    # length-compatibility verify pushed BEFORE the distinct-pairs
    # exchange (round 14, guide §2.3) — it also subsumes the second
    # dropDuplicates this path used to run after its own filter
    cand = capped_band_pairs(
        pre,
        id_col,
        ["gram"],
        max_bucket,
        payload_cols=["n_grams"],
        verify=lambda p: p.where(
            (F.col("n_grams_b") >= F.ceil(F.col("n_grams_a") * F.lit(threshold)))
            & (F.col("n_grams_a") >= F.ceil(F.col("n_grams_b") * F.lit(threshold)))
        ).select("id_a", "id_b"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("grams").alias("_ga")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("grams").alias("_gb")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_ga", "_gb"))
                / F.size(F.array_union("_ga", "_gb"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: tuple[int, int] = (4, 5),
    max_gram_freq: int = 50,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment — the metric
    Jaccard misses by construction: a short document fully quoted
    inside a long one (prefix republication, wrapper boilerplate,
    excerpting) has tiny Jaccard (union is dominated by the long side)
    but containment ≈ 1.  Emits (id_a, id_b, shared, n_a, n_b,
    containment) where containment = shared_grams / min(|A|, |B|) —
    direction-free "how much of the smaller document lives inside the
    larger" — for pairs at or above ``threshold`` (an exact rational
    (num, den): the cut is shared·den ≥ num·min, integer arithmetic,
    no float compare at the boundary).

    Distributed shape: inverted-index join, never all-pairs — distinct
    grams explode to (gram, doc), co-occurring docs pair ONLY through
    shared grams, and one combining groupBy counts the shared grams per
    pair.  Grams appearing in more than ``max_gram_freq`` documents are
    dropped first (the stop-gram guard: a ubiquitous gram contributes
    O(freq²) candidate pairs and no containment signal — same recall
    trade as the MinHash star cap, and the n=5 default keeps grams
    selective).  The frequency filter runs BEFORE pairing, so the
    worst-case pair fan-out per gram is C(max_gram_freq, 2).

    Containment is over DISTINCT grams (multiset repetition collapses),
    and the emitted double is an exact small-integer division — both
    engines agree bit for bit.
    """
    num, den = threshold
    grams = F.array_distinct(
        F.when(
            F.length(text_col) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(text_col) - (n - 1)),
                lambda i: F.col(text_col).substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    base = spread(df, id_col).select(
        F.col(id_col), grams.alias("_grams")
    )
    g = base.select(id_col, F.explode("_grams").alias("_gram"))
    keep = (
        g.groupBy("_gram")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= max_gram_freq)
        .select("_gram")
    )
    gk = g.join(keep, "_gram")
    # sizes AFTER the stop-gram filter: containment is over the grams
    # that can actually pair, else ubiquitous dropped grams would
    # deflate every score
    sizes = gk.groupBy(id_col).agg(F.count("*").alias("_n"))
    shared = (
        gk.alias("x")
        .join(
            gk.alias("y"),
            (F.col("x._gram") == F.col("y._gram"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .groupBy(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    m = F.least(F.col("n_a"), F.col("n_b"))
    return (
        shared.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("n_b")),
            "id_b",
        )
        .where(F.col("shared") * den >= num * m)
        .select(
            "id_a",
            "id_b",
            F.col("shared").cast("long"),
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            (F.col("shared") / m).alias("containment"),
        )
    )


def dup_rate_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-duplication health report per group → (n_docs, n_distinct,
    n_clones, max_clone_count, dup_ppm): how much of each source is
    verbatim copies, BEFORE any near-dup machinery runs.

    The first number a corpus owner asks for per source: crawlers that
    re-fetch, mirrors, and template farms show up as dup_ppm spikes and
    a large max_clone_count; the exact-collapse-first composition
    (collapse clones, then near-dup the survivors) is worth its 20×
    pair reduction exactly when this report says so.

    All exact integers: documents hash once (md5 — 32 bytes shuffled,
    never text, the exact_dedup discipline), per-(group, hash) clone
    counts combine map-side, and the per-group rollup is a second
    bounded aggregate.  dup_ppm = (n_docs − n_distinct)·10⁶ div n_docs
    — integer parts-per-million, no float anywhere.  NO eager pins, no
    iteration — safe to run on every ingest batch.
    """
    clones = (
        df.select(
            F.col(group_col).alias("_g"),
            F.md5(F.col(text_col)).alias("_h"),
        )
        .groupBy("_g", "_h")
        .agg(F.count("*").alias("_c"))
    )
    return (
        clones.groupBy("_g")
        .agg(
            F.sum("_c").alias("n_docs"),
            F.count("*").alias("n_distinct"),
            F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)).alias(
                "n_clones"
            ),
            F.max("_c").alias("max_clone_count"),
        )
        .select(
            F.col("_g").alias(group_col),
            "n_docs",
            "n_distinct",
            "n_clones",
            "max_clone_count",
            F.expr(
                "(n_docs - n_distinct) * 1000000 div n_docs"
            ).alias("dup_ppm"),
        )
    )

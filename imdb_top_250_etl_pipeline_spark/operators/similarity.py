"""Similarity search over embedding columns (array<float>).

Not in the reference (its similarity notion is key equality); required by
the north star for training-data pipelines: top-k nearest neighbors per
query vector, plus an embedding-cosine near-dup filter.

Two tiers, mirroring how ANN is actually deployed:

- brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the corpus, rank per query.  Linear in corpus size;
  correct at any scale but reads everything.
- IVF (inverted-file) top-k — the 100 TB path: assign every vector to its
  nearest centroid once (broadcast centroids, narrow pass), then probe
  only the ``nprobe`` clusters nearest each query.  The probe join is an
  equi-join on cluster id, so the per-query work drops from O(corpus) to
  O(corpus * nprobe / n_centroids).

All vector math is built-in expression work (zip_with product + aggregate
fold) — JVM-side, no Python.  Floats are widened to double once at the
start of each expression; the fold is left-to-right and deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import sizing
from .dedup import capped_band_pairs, spread
from .pinning import eager_pin, pin


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sq_dist(a: Column, b: Column) -> Column:
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v * v)


def _sq_dist_unrolled(a: Column, b: Column, n: int) -> Column:
    """sq_dist for a STATICALLY KNOWN small length ``n`` — the fold
    unrolled into n codegen'd terms added left-to-right from 0.0, the
    identical float association order as the interpreted aggregate
    (bit-identical values).  Round-13 measurement: for the PQ subvector
    width (4) this is 4.3x faster per scored row than the fold; for
    full-width vectors (64) the giant expression REGRESSES 2.5x — only
    short, static widths may use this (the PQ family), never the
    general paths.
    """
    acc = F.lit(0.0)
    for j in range(1, n + 1):
        d = F.element_at(a, j).cast("double") - F.element_at(b, j).cast(
            "double"
        )
        acc = acc + d * d
    return acc


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus → window rank.

    ``queries`` must be broadcast-small (the usual search shape); the
    corpus side streams, one narrow pass + one shuffle on query_id for
    the per-query top-k heap.  Self-matches are excluded.
    """
    # norms are attached per SIDE before the pair join: computing them
    # inside cosine() would re-fold each corpus vector once per query
    # (higher-order functions are interpreted — measured dominant cost)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        l2_norm(F.col(vec_col)).alias("nnorm"),
    )
    # repartition first: embedding tables often land as a handful of files
    # and the scoring pass is CPU-bound — without the spread it runs on
    # file-count tasks regardless of cluster size
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qvec"), F.col("nvec")) / (F.col("qnorm") * F.col("nnorm"))).alias(
                "cos_sim"
            ),
        )
    )
    # corpus is the per-query row-volume bound: small corpus -> the
    # size-gated single-window path (identical result, one less pass)
    return _two_phase_topk(scored, k, size_hint_df=corpus)


def _two_phase_topk(
    scored: DataFrame, k: int, size_hint_df: DataFrame | None = None
) -> DataFrame:
    """Per-query top-k from (query_id, neighbor_id, cos_sim) rows, salted.

    A single ``Window.partitionBy(query_id)`` funnels O(corpus) scored
    rows per query into ONE task — the classic top-k hot partition.
    Phase 1 salts the partition key with a hash of the neighbor id so
    each query's rows spread across ~parallelism tasks and each emits a
    local top-k; phase 2's global per-query window then receives at most
    k * n_salts rows per query.  Shuffle volume for phase 1 is the same
    as the naive plan (the scored rows move once either way) — what the
    salt buys is that no single task ever holds a whole query's corpus.

    n_salts is sized from cluster layout, yet the RESULT is
    layout-independent: each neighbor hashes to exactly ONE salt group,
    so any row in a query's true global top-k is also top-k within its
    (query, salt) group — phase 1 can never cut a survivor, for any
    salt count (the trending_topk invariant).

    ``size_hint_df``: callers pass the CORPUS-side relation (per-query
    scored volume is bounded by it); when ``sizing.fits_one_task`` says
    one task can hold a whole query's rows, the salting phase is
    skipped -- the identical result (the invariant above, fuzz-pinned)
    through one window pass instead of two.  No hint keeps the salted
    production shape.  The salt count is ``sizing.salts``.
    """
    w2 = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    rank_k = lambda df: (  # noqa: E731
        df.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )
    if size_hint_df is not None and sizing.fits_one_task(size_hint_df):
        return rank_k(scored)
    n_salts = sizing.salts(scored)
    salted = scored.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("neighbor_id")), F.lit(n_salts))
    )
    w1 = W.partitionBy("query_id", "salt").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    partial = (
        salted.withColumn("prank", F.row_number().over(w1))
        .where(F.col("prank") <= k)
        .drop("salt", "prank")
    )
    return rank_k(partial)


def assign_clusters(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector (broadcast centroids).

    At 100 TB this is the one full pass over the corpus; its output
    (id, cluster) is what gets partitioned/bucketed by cluster for all
    subsequent probes.  Centroids here are data-derived (a deterministic
    sample); production would run sampled k-means — the operator shape
    is identical.

    The argmin is ``groupBy(id).agg(min_by(...))``, NOT a window: after
    the broadcast cross join every id's corpus×centroids scored rows sit
    in one input partition, so the partial (map-side) aggregate collapses
    them to one row per vector before the shuffle — a window over
    ``partitionBy(id)`` would shuffle all n_centroids rows per vector
    (~1000× the exchange volume at IVF scale).  min_by keys on
    struct(d2, centroid_id) so ties break deterministically on the lower
    centroid id; the vector itself rides along via first() (constant
    within the group).
    """
    cents = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    scored = spread(corpus, id_col).crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        "centroid_id",
        sq_dist(F.col(vec_col), F.col("cvec")).alias("d2"),
    )
    return scored.groupBy(id_col).agg(
        F.first(F.col(vec_col)).alias(vec_col),
        F.min_by(
            F.col("centroid_id"), F.struct(F.col("d2"), F.col("centroid_id"))
        ).alias("cluster"),
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> DataFrame:
    """Lloyd's k-means refinement of IVF centroids, pure DataFrame ops.

    The iterative-algorithm shape: each round is (assign to nearest
    centroid) → (element-wise mean per cluster).  The mean runs as
    posexplode to (cluster, dim, value) → partial+final avg → re-
    assemble with sort_array(collect_list) — all codegen'd, one shuffle
    per half-step.  Each round's centroid table is materialized
    (localCheckpoint; persist-and-iterate on a cluster) so the lineage
    does not grow exponentially with iterations — the standard Spark
    iterative-algorithm discipline.

    Returns (centroid_id, vec) with ids 0..k-1 reassigned per round
    (cluster identity, not lineage, is what IVF needs).
    """
    cents, prev_pin = pin(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    )
    for _ in range(iterations):
        assigned = assign_clusters(
            corpus, cents.select(
                F.col("centroid_id").alias(id_col), F.col("cvec").alias(vec_col)
            ), id_col, vec_col
        )
        by_dim = assigned.select(
            "cluster", F.posexplode(F.col(vec_col)).alias("dim", "v")
        )
        means = by_dim.groupBy("cluster", "dim").agg(F.avg("v").alias("m"))
        cents, handle = pin(
            means.groupBy("cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.getField("m").cast("float"),
                ).alias("cvec")
            )
            .select(F.col("cluster").alias("centroid_id"), "cvec")
        )
        # the new round materialized eagerly above; round N-1's blocks
        # are dead weight from here — free them
        prev_pin.release()
        prev_pin = handle
    return cents


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-time IVF index build: (id, vec, cluster, norm) per corpus row.

    This is the expensive full-corpus pass; persist/bucket its output by
    ``cluster`` and reuse it across every subsequent search batch —
    ``ivf_topk(..., index=...)`` skips the rebuild.  The
    build-once/probe-many split is how IVF actually deploys: the index
    is a table, not a per-query computation.
    """
    return assign_clusters(corpus, centroids, id_col, vec_col).withColumn(
        "nnorm", l2_norm(F.col(vec_col))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest clusters per query.

    Recall < 1 by design (misses neighbors assigned to unprobed
    clusters); the unit test measures recall against brute_force_topk.
    Pass a prebuilt ``index`` (build_ivf_index) to search without
    re-assigning the corpus.
    """
    assigned = (
        index
        if index is not None
        else build_ivf_index(corpus, centroids, id_col, vec_col)
    )
    cents = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("qnorm"),
    )
    qprobe_w = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qvec",
            "qnorm",
            "centroid_id",
            sq_dist(F.col("qvec"), F.col("cvec")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(qprobe_w))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "qnorm", F.col("centroid_id").alias("cluster"))
    )
    scored = (
        probes.join(assigned, "cluster")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                dot(F.col("qvec"), F.col(vec_col))
                / (F.col("qnorm") * F.col("nnorm"))
            ).alias("cos_sim"),
        )
    )
    # candidates per query ~ corpus * nprobe / n_centroids — still large
    # enough at scale that a single per-query task would hot-spot; the
    # salted two-phase ranking bounds every task like the brute path.
    # Size hint: the RAW corpus relation (its scan-stat estimate is
    # honest; the assigned index is an agg over a crossJoin whose
    # estimate inflates ~1000x and would never let the gate fire)
    return _two_phase_topk(
        scored, k, size_hint_df=corpus if index is None else index
    )


def collapse_exact_vectors_first(
    df: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Pre-collapse byte-identical vectors to their min-id representative
    — the operators/dedup.py::collapse_exact_first digest discipline
    applied to embeddings (round 13, found BY the 3-point scale probe:
    without it, a clone-dense corpus grows near-dup pair volume with
    the SQUARE of the clone factor — measured exponent 2.8 on the
    10-clone sf1 shape — because every clone clique floods its LSH
    bucket with pairs the cheap exact collapse already accounts for).

    The digest is sha2-256 of the vector's JSON rendering (Spark's
    float->JSON formatting is deterministic), so the exchange carries
    32-byte keys with map-side combine — never the O(dims) vector as a
    groupBy key — and survivors return via a left-semi join on the id.
    Returns the representatives' ORIGINAL rows, all columns preserved.
    """
    digest = F.sha2(
        F.to_json(F.struct(F.col(vec_col).alias("v"))), 256
    )
    reps = (
        df.select(digest.alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(reps, id_col, "left_semi")


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 32,
    bands: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH + cosine verify.

    Sign-of-projection bits against ``n_planes`` fixed pseudo-random
    hyperplanes (deterministic per dimension index — no RNG state),
    banded like MinHash; only same-band candidates get the exact cosine.

    Hyperplane weights are derived INLINE per (plane, dim) from
    xxhash64 — a pure codegen expression, no weight table, no join, and
    no dimensionality assumption: any embedding width (64, 768, 1024...)
    gets a full-coverage signature.  (An earlier broadcast weight-table
    formulation was hardcoded to 256 dims and silently truncated longer
    vectors' signatures.)

    Band width is the load-bearing knob: 8 bits/band (32 planes / 4
    bands) gives 256 buckets per band, so candidate volume stays near
    the true-duplicate count; 4-bit bands measured 20× more candidates —
    each paying a 64-dim verify — for no recall gain at cosine ≥ 0.95
    (a 0.95-pair flips any given plane with p ≈ 0.1; an 8-bit band still
    matches with p ≈ 0.43, and 4 bands give ≥ 90% recall).

    On a clone-dense corpus compose the production exact-then-near
    order, ``cosine_near_dup_pairs(collapse_exact_vectors_first(df,
    ...))``: pairs are then emitted among representatives only and pair
    volume stays ~linear in docs (clone-clique pairs are the exact-dup
    signal, not a near-dup discovery).
    """
    rows = n_planes // bands
    # Hyperplane weights are DATA-INDEPENDENT pseudo-random ints in
    # [-1000, 1000), derived per (plane, dim) from xxhash64 — but
    # computed once per DISTINCT dimension index (a tiny aggregated
    # table broadcast back onto the exploded frame), not once per
    # (vector, dim, plane): n_planes hashes × n_dims total instead of
    # × n_vectors·n_dims (measured the dominant cost of the inline
    # form).  Sizing the table from the data's own distinct dims keeps
    # any dimensionality fully covered — no cap, no driver-side probe.
    # Everything is INTEGER math on purpose: quantized x (2^20) times
    # integer weights sum order-independently, so the signature is
    # deterministic under any aggregation order (a double sum would make
    # near-zero projections flip sign run-to-run).  |xq*w| < 2^31 for
    # unit-scale components, so even 10^6-dim sums stay far from long
    # overflow under ANSI mode.
    spread_df = spread(df, id_col)
    exploded = spread_df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select(
        id_col,
        "dim",
        F.floor(F.col("x").cast("double") * (1 << 20)).cast("long").alias("xq"),
    )
    # dims derived from the distinct vector SIZES (one narrow column
    # pass, usually a single row) — NOT from the exploded values, whose
    # re-evaluation inside the broadcast build would double the
    # pipeline's dominant explode cost (measured ~2× slower)
    wdf = (
        df.select(F.size(F.col(vec_col)).alias("n"))
        .distinct()
        .select(F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("dim"))
        .distinct()
        .select(
            "dim",
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(f"plane{p}"), F.col("dim")), F.lit(2000)
                    )
                    - F.lit(1000)
                    for p in range(n_planes)
                ]
            ).alias("w"),
        )
    )
    proj_sums = [
        F.sum(F.col("xq") * F.element_at("w", p + 1)).alias(f"s{p}")
        for p in range(n_planes)
    ]
    sig_bits = F.concat(
        *[
            F.when(F.col(f"s{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for p in range(n_planes)
        ]
    )
    sigs = (
        exploded.join(F.broadcast(wdf), "dim")
        .groupBy(id_col)
        .agg(*proj_sums)
        .select(F.col(id_col), sig_bits.alias("sig"))
    )
    # materialize signatures+norms once: both sides of the banded
    # self-join read this table (persist() on a cluster)
    base = eager_pin(
        spread_df.select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("norm"),  # once per vector, not per pair
        )
        .join(sigs, id_col)
    )
    # vectors and norms ride through the pair join as capped_band_pairs
    # payloads (cheaper than a verify join-back per side — measured);
    # hot signature buckets are star-capped so they cannot go quadratic
    banded = base.select(
        id_col,
        vec_col,
        "norm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("sig", i * rows + 1, rows).alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, vec_col, "norm", "bb.band", "bb.chunk")
    # exact-cosine verify runs BEFORE the distinct-pairs exchange
    # (round 14, guide §2.3): banding is a recall device, so candidates
    # vastly outnumber true near-dups — filtering first means the
    # dropDuplicates exchange moves a handful of (id_a, id_b, cos_sim)
    # rows instead of every candidate with BOTH full vectors aboard
    verify = lambda pairs: pairs.select(  # noqa: E731
        "id_a",
        "id_b",
        (
            dot(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b"))
            / (F.col("norm_a") * F.col("norm_b"))
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)
    return capped_band_pairs(
        banded,
        id_col,
        ["band", "chunk"],
        max_bucket,
        payload_cols=[vec_col, "norm"],
        verify=verify,
    )


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 4,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with deterministic
    ±1 sign weights → long-form (id, out_dim, y).

    The embedding-preprocessing step ahead of ANN/clustering at scale:
    a sign-matrix projection preserves pairwise distances within
    JL bounds at a fraction of the width, and ±1 weights make it pure
    integer arithmetic.  Each component is computed as an INTEGER sum
    of quantized inputs (floor(x·2²⁰), the signature discipline of
    cosine_near_dup_pairs) times md5-derived signs, then dequantized by
    one exact power-of-two division — so the result is bit-identical
    under ANY aggregation order AND across engines, which is what lets
    a float-valued vector operator carry a hash-checked DuckDB oracle
    (the md5 sign derivation is reproducible SQL, unlike xxhash64).
    Quantization error is ≤ 2⁻²⁰ per input component — noise far below
    the JL distortion itself.

    Shape: one posexplode of the vectors, a per-distinct-dim sign table
    broadcast back (out_dim × n_dims hashes total, not × n_vectors),
    one combining groupBy(id) — the cosine-LSH signature plan with the
    sign bits kept as values.
    """
    exploded = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    ).select(
        id_col,
        "dim",
        F.floor(F.col("x").cast("double") * (1 << 20)).cast("long").alias("xq"),
    )

    def sign(j: int) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.lit(j), F.col("dim"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return (F.pmod(h, 2) * 2 - 1).cast("long")

    wdf = (
        df.select(F.size(F.col(vec_col)).alias("n"))
        .distinct()
        .select(F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("dim"))
        .distinct()
        .select("dim", F.array(*[sign(j) for j in range(out_dim)]).alias("w"))
    )
    sums = [
        F.sum(F.col("xq") * F.element_at("w", j + 1)).alias(f"_s{j}")
        for j in range(out_dim)
    ]
    proj = exploded.join(F.broadcast(wdf), "dim").groupBy(id_col).agg(*sums)
    pairs = []
    for j in range(out_dim):
        pairs += [
            F.lit(j),
            F.col(f"_s{j}").cast("double") / F.lit(float(1 << 20)),
        ]
    return proj.select(
        F.col(id_col),
        F.explode(F.map_from_arrays(
            F.array(*pairs[0::2]), F.array(*pairs[1::2])
        )).alias("out_dim", "y"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cluster: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, call vectors within the SAME cluster
    whose cosine exceeds ``threshold`` semantic duplicates, and keep
    one representative per duplicate group → (id, group_id, keep).

    The composition is entirely existing scale-safe machinery:
    ``assign_clusters`` (one broadcast-centroid pass, min_by argmin),
    within-cluster candidate pairs via ``capped_band_pairs`` on the
    cluster id (the cluster IS the LSH bucket here — SemDeDup's core
    trick is that clustering makes within-cluster all-pairs affordable;
    the star cap keeps a degenerate mega-cluster from going quadratic,
    exactly like a hot LSH bucket), exact cosine verify with vectors
    and norms riding the pair join as payloads, and ``dedup_groups``
    (pointer-jumped connected components) to collapse transitive
    duplicates.  ``keep`` marks the min-id representative of each
    group (and every unpaired vector).

    Cross-cluster near-duplicates are missed BY DESIGN — that is
    SemDeDup's recall/cost tradeoff; raise centroid count to shrink
    clusters (cost) or lower it to catch more cross-boundary pairs
    (recall).  EAGER: the pair table pins via localCheckpoint (it
    feeds both the grouping iteration and the join-back); wrap calls
    in ``pinning.pin_scope`` to release the blocks.
    """
    from .dedup import capped_band_pairs, dedup_groups
    from .pinning import eager_pin

    assigned = assign_clusters(corpus, centroids, id_col, vec_col)
    base = assigned.select(
        F.col(id_col),
        F.col(vec_col),
        "cluster",
        l2_norm(F.col(vec_col)).alias("norm"),
    )
    cos = F.when(
        (F.col("norm_a") > 0) & (F.col("norm_b") > 0),
        dot(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b"))
        / (F.col("norm_a") * F.col("norm_b")),
    ).otherwise(F.lit(0.0))
    # cosine verify pushed BEFORE the distinct-pairs exchange (round
    # 14, guide §2.3): the exchange then carries only verified narrow
    # rows, never candidate pairs with both vectors aboard
    cand = capped_band_pairs(
        base,
        id_col,
        ["cluster"],
        max_cluster,
        payload_cols=[vec_col, "norm"],
        verify=lambda p: p.select("id_a", "id_b", cos.alias("cos")).where(
            F.col("cos") >= threshold
        ),
    )
    pairs = eager_pin(cand)
    groups = dedup_groups(pairs.select("id_a", "id_b"))
    return (
        corpus.select(id_col)
        .join(groups, F.col(id_col) == F.col("doc_id"), "left")
        .select(
            id_col,
            F.col("group_id"),
            (
                F.col("group_id").isNull()
                | (F.col("group_id") == F.col(id_col))
            ).alias("keep"),
        )
    )


def rrf_fusion(
    lists: list[DataFrame],
    group_cols: list[str],
    id_col: str,
    rank_col: str = "rank",
    k_rrf: int = 60,
    scale: int = 10**9,
) -> DataFrame:
    """Reciprocal-rank fusion of per-query rank lists — the standard
    hybrid-retrieval combiner (lexical BM25 + vector ANN, or any number
    of retrievers): ``score(d) = Σ_lists 1 / (k + rank_list(d))``.

    Each input carries ``(*group_cols, id_col, rank_col)``; a document
    missing from a list simply contributes no term (the usual RRF
    convention).  Returns one row per (group, id) with the fused score
    and a deterministic ``fused_rank``.

    Determinism discipline (what makes this oracle-checkable): the
    reciprocal is materialized as an exact integer —
    ``floor(scale / (k + rank))`` — so the fused score is an integer
    SUM (associative, shuffle-order-free) instead of a float sum whose
    value depends on which list's term arrives first.  Both engines
    divide the same two exact doubles, so the floor agrees bit-for-bit.

    Scale shape: inputs are top-k lists (bounded per group), so the
    fusion is one hash aggregation on (group, id) and the ranking
    window sees ≤ k × n_lists rows per group — no data-sized partition
    anywhere, safe at any corpus size as long as the upstream
    retrievers bound their k.
    """
    cols = [*group_cols, id_col, rank_col]
    u = lists[0].select(*cols)
    for nxt in lists[1:]:
        u = u.unionByName(nxt.select(*cols))
    contrib = F.floor(
        F.lit(float(scale)) / (F.lit(k_rrf) + F.col(rank_col))
    ).cast("long")
    fused = u.groupBy(*group_cols, id_col).agg(
        F.sum(contrib).alias("rrf_scaled"),
        F.count("*").cast("int").alias("n_lists"),
    )
    w = W.partitionBy(*group_cols).orderBy(
        F.desc("rrf_scaled"), F.asc(id_col)
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("int")
    )


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank of per-query candidate lists:
    greedily select ``k`` of each query's candidates maximizing
    ``lam * rel(d, q) - (1 - lam) * max_{s in S} sim(d, s)`` — the
    standard diversification pass over an ANN/BM25 shortlist (drop
    near-duplicate hits, keep coverage).

    ``candidates`` carries (query_id, neighbor_id); vectors are joined
    in from ``corpus`` (all candidates) and ``queries`` (broadcast,
    search-shaped small).  The greedy loop is inherently sequential
    PER QUERY, so it runs inside one Arrow-batched applyInPandas group
    per query — bounded by the candidate-list length (k_candidates²
    pairwise sims over ≤ dozens of rows), never by the corpus.  Ties
    break on the lower neighbor id, making selection deterministic.

    Returns (query_id, neighbor_id, rank) with rank = selection order
    (1-based) — the ``sim_topk_battery`` shape.  Exactness is pinned
    by a pure-numpy dual in tests (rows-only for the driver: the
    greedy argmax is not SQL-expressible).
    """
    import numpy as np
    import pandas as pd

    c = candidates.select("query_id", "neighbor_id")
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    base = c.join(nv, "neighbor_id").join(F.broadcast(qv), "query_id")

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        vecs = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["nvec"]]
        )
        q = np.asarray(pdf["qvec"].iloc[0], dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        qn = np.linalg.norm(q)
        safe = np.where(norms > 0, norms, 1.0)
        rel = vecs @ q / (safe * (qn if qn > 0 else 1.0))
        sims = (vecs @ vecs.T) / np.outer(safe, safe)
        n = len(pdf)
        selected: list[int] = []
        remaining = list(range(n))
        while remaining and len(selected) < k:
            if selected:
                red = sims[np.ix_(remaining, selected)].max(axis=1)
            else:
                red = np.zeros(len(remaining))
            score = lam * rel[remaining] - (1.0 - lam) * red
            # ties -> lowest neighbor_id; rows are id-sorted so argmax
            # already returns the first (lowest-id) maximum
            best = remaining[int(np.argmax(score))]
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": pdf["neighbor_id"].iloc[selected].values,
                "rank": np.arange(1, len(selected) + 1, dtype=np.int32),
            }
        )

    return base.groupBy("query_id").applyInPandas(
        _mmr, "query_id long, neighbor_id long, rank int"
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the memory-bounded ANN tier.
# ---------------------------------------------------------------------------


def _subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int
) -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors.

    Row-local (sequence/slice/posexplode, zero shuffles); the subvector
    length is derived per row as size/m so any uniform dimension works
    without declaring it.
    """
    sublen = (F.size(F.col(vec_col)) / m).cast("int")
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col(vec_col), s * sublen + 1, sublen),
            )
        ).alias("sub", "svec"),
    )


def _assign_codes(
    sv: DataFrame,
    id_col: str,
    books: DataFrame,
    sublen: int | None = None,
) -> DataFrame:
    """Nearest code per (vector, subspace): broadcast the codebooks,
    equi-join on ``sub``, argmin via map-side-combining min_by (same
    rationale as assign_clusters: a window would shuffle ksub rows per
    subvector; the partial aggregate collapses them before the
    exchange).  Ties break on the lower code id.  With a known
    ``sublen`` the distance uses the unrolled codegen form
    (bit-identical; measured 2.4x on the whole assignment pass)."""
    d2 = (
        _sq_dist_unrolled(F.col("svec"), F.col("cvec"), sublen)
        if sublen
        else sq_dist(F.col("svec"), F.col("cvec"))
    )
    scored = sv.join(F.broadcast(books), "sub").select(
        F.col(id_col),
        "sub",
        "svec",
        "code",
        d2.alias("d2"),
    )
    return scored.groupBy(id_col, "sub").agg(
        F.first("svec").alias("svec"),
        F.min_by(F.col("code"), F.struct(F.col("d2"), F.col("code"))).alias(
            "code"
        ),
    )


def pq_train(
    corpus: DataFrame,
    seeds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Train product-quantization codebooks: per-subspace Lloyd k-means.

    PQ is the memory tier FAISS puts under IVF at billion-vector scale:
    each vector compresses to ``m`` one-byte-ish codes (m·log2(ksub)
    bits instead of 4·dim bytes), and search scans codes against a
    per-query lookup table instead of touching floats.  Training is
    k-means run INDEPENDENTLY in each of the ``m`` subspaces — here all
    m runs execute simultaneously by keying every step on ``sub``, so
    the round count stays ``iterations`` regardless of m.

    ``seeds`` supplies ≥ ksub deterministic corpus rows (the same
    data-derived-centroid convention as build_ivf_index); code ids are
    their id-order ranks.  Each round is one broadcast-join argmin +
    one (sub, code, dim)-keyed mean — both partial-aggregated map-side;
    per-round state is the m·ksub codebook table, never the corpus.
    Codes that lose every member keep their previous centroid (the
    empty-cluster convention), so the codebook always has m·ksub rows
    and every ADC table lookup is total.  Round N-1's pinned blocks are
    released as soon as round N materializes (localCheckpoint here;
    reliable checkpoint() on a cluster).

    Returns (sub, code, cvec) with sub in 0..m-1, code in 0..ksub-1.
    """
    w = W.orderBy(id_col)
    init = (
        seeds.withColumn("code", F.row_number().over(w) - 1)
        .where(F.col("code") < ksub)
        .select(id_col, "code", F.col(vec_col))
    )
    books, prev_pin = pin(
        _subvectors(init, "code", vec_col, m).select(
            "sub", "code", F.col("svec").alias("cvec")
        )
    )
    sublen = dim // m if dim else None
    sv, sv_pin = pin(_subvectors(corpus, id_col, vec_col, m))
    for _ in range(iterations):
        assigned = _assign_codes(sv, id_col, books, sublen)
        means = (
            assigned.select(
                "sub", "code", F.posexplode(F.col("svec")).alias("dim", "v")
            )
            .groupBy("sub", "code", "dim")
            .agg(F.avg("v").alias("mv"))
        )
        new_cvecs = (
            means.groupBy("sub", "code")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "mv"))),
                    lambda s: s.getField("mv").cast("float"),
                ).alias("new_cvec")
            )
        )
        books, handle = pin(
            books.join(new_cvecs, ["sub", "code"], "left").select(
                "sub",
                "code",
                F.coalesce("new_cvec", "cvec").alias("cvec"),
            )
        )
        prev_pin.release()
        prev_pin = handle
    sv_pin.release()
    return books


def pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Encode every vector as its ``m`` nearest-code ids.

    The one-time compression pass (the PQ analogue of build_ivf_index):
    broadcast-join argmin per subspace, then reassemble the code array
    in subspace order via sort_array(collect_list(struct)) — no sort
    exchange.  Returns (id, codes array<int>); this table is what a
    100 TB deployment persists (and bucket-joins) instead of the raw
    float vectors — m·log2(ksub) bits per vector.
    """
    sv = _subvectors(corpus, id_col, vec_col, m)
    return (
        _assign_codes(sv, id_col, books, dim // m if dim else None)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("sub", "code"))),
                lambda s: s.getField("code").cast("int"),
            ).alias("codes")
        )
    )


def pq_topk(
    index: DataFrame,
    queries: DataFrame,
    books: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    dim: int | None = None,
    size_hint_df: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes.

    Per query, the distance table d[sub][code] = ||q_sub − c_{sub,code}||²
    is m·ksub doubles — built by one broadcast join over the codebooks
    and assembled into a nested array.  The scan is then a crossJoin of
    the (tiny) query table against the code index where each candidate's
    distance is m array lookups + adds (zip_with/element_at/aggregate —
    whole-stage codegen, no floats from the corpus touched), followed by
    the same salted two-phase top-k as the exact path so no task ever
    holds one query's full corpus.  Approximate BY CONSTRUCTION
    (quantization error): recall is measured against brute_force_topk
    in unit tests; exact ADC arithmetic is pinned by a numpy dual.

    ``index`` is pq_encode's output (id, codes).  Returns
    (query_id, neighbor_id, rank) ranked by ascending ADC distance,
    ties to the lower neighbor id.
    """
    qsub = _subvectors(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        "query_id",
        vec_col,
        m,
    )
    per_sub = (
        qsub.join(F.broadcast(books), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            (
                _sq_dist_unrolled(F.col("svec"), F.col("cvec"), dim // m)
                if dim
                else sq_dist(F.col("svec"), F.col("cvec"))
            ).alias("d2"),
        )
        .groupBy("query_id", "sub")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("code", "d2"))),
                lambda s: s.getField("d2"),
            ).alias("drow")
        )
    )
    dtab = per_sub.groupBy("query_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "drow"))),
            lambda s: s.getField("drow"),
        ).alias("dtabs")
    )
    scored = (
        index.crossJoin(F.broadcast(dtab))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (
                -F.aggregate(
                    F.zip_with(
                        F.col("codes"),
                        F.col("dtabs"),
                        lambda c, row: F.element_at(row, c + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ).alias("cos_sim"),
        )
    )
    # negated distance rides the shared desc-ordered two-phase ranker
    # (size hint: the code index bounds per-query candidate volume; an
    # inline-built index carries inflated agg stats, so composing
    # callers pass the raw corpus instead)
    return _two_phase_topk(
        scored, k, size_hint_df=index if size_hint_df is None else size_hint_df
    )


def pq_refine_topk(
    index: DataFrame,
    queries: DataFrame,
    books: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """PQ-ADC shortlist + exact re-rank — the production PQ deployment
    (FAISS IndexRefineFlat): the compressed-code scan produces a
    ``shortlist``-sized candidate set per query, then ONLY those
    candidates' raw vectors are fetched (one equi-join on the id —
    shortlist·queries rows, never the corpus) and ranked by exact
    cosine.  Recovers the within-cluster fine ordering that
    quantization blurs while the corpus-sized scan still touches no
    floats.  Returns (query_id, neighbor_id, rank) like the exact
    path; recall floors vs brute_force_topk pinned in unit tests.
    """
    cands = pq_topk(
        index, queries, books, id_col, vec_col, k=shortlist, m=m, dim=dim,
        size_hint_df=corpus,
    )
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = (
        cands.join(vecs, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("nvec")).alias("cos_sim"),
        )
    )
    # per-query rows are bounded by the shortlist, so the plain window
    # (no salt needed) ranks them without a hot partition
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
        )
    )

"""Entity resolution / record linkage: blocking → verify → cluster.

The classic three-stage construction for "which records are the same
real-world entity" (customer files, product catalogs, author tables):

1. **Blocking** — a cheap deterministic key (here: normalized suffix +
   length band) so candidate generation is an EQUI-join on the block,
   never the O(n²) all-pairs cross join.  The same reduce-to-equi-join
   move as the MinHash bands (operators/dedup.py) and the interval
   buckets (operators/timeseries.py): at 100 TB the only joins that
   work are hash joins.
2. **Verify** — exact edit distance (levenshtein, JVM codegen) on the
   few pairs sharing a block, keeping pairs within ``max_dist``.
   Payload (the normalized strings) rides the block join
   (operators/dedup.py::capped_band_pairs, hot blocks capped to star
   pairs); nothing re-joins against the corpus.
3. **Cluster** — connected components over the verified pairs
   (operators/dedup.py::dedup_groups — pointer-jumped min-label
   propagation), so A↔B and B↔C land A,B,C in one entity even when
   A↔C itself missed the distance cut.

Blocking is RECALL-bounded: a true match whose records disagree on the
block key is never compared (the standard trade — production systems
run several complementary blocking passes and union the pairs, exactly
how dedup_pairs_battery unions minhash/simhash/ngram candidates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import capped_band_pairs, dedup_groups


def normalize_name(c: Column | str) -> Column:
    """Canonical comparison form: lowercase, outer whitespace stripped,
    inner whitespace runs collapsed.  Kept deliberately tiny and
    SQL-expressible (lower/trim/regexp_replace) so the DuckDB oracle
    states the identical normalization."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(F.lower(F.trim(col)), " +", " ")


def linkage_candidates(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_suffix_len: int = 4,
    max_dist: int = 2,
) -> DataFrame:
    """Verified candidate pairs (id_a < id_b, edit distance ≤ max_dist)
    among records sharing a blocking key.

    The block is (suffix of the normalized name, length) — suffix
    rather than prefix because identifier-shaped names (SKUs, account
    names, "Customer#000000042") share long constant prefixes, which
    would collapse everything into one block and reintroduce the n²
    join blocking exists to avoid.  The length band is free extra
    selectivity: records whose lengths differ by more than ``max_dist``
    cannot be within distance ``max_dist`` anyway (levenshtein ≥
    length difference), so banding on exact length only costs matches
    blocking already risks, and it bounds the worst block size.

    The pairs come from operators/dedup.py::capped_band_pairs with the
    block as the one band column and the normalized name as payload,
    so a block is guarded like an LSH bucket: a block of more than 256
    records emits star pairs against its min id (O(n)) instead of its
    n²/2 clique, and the levenshtein verify runs on both paths before
    the distinct-pairs exchange.  ``linkage_clusters`` still puts every
    verified star member in the representative's entity.
    """
    n = normalize_name(name_col)
    keyed = records.select(
        F.col(id_col).alias("rec_id"),
        n.alias("name_n"),
        F.concat_ws(
            "|",
            F.substring(n, -block_suffix_len, block_suffix_len),
            F.length(n).cast("string"),
        ).alias("_block"),
    )
    verify = lambda pairs: pairs.select(  # noqa: E731
        "id_a", "id_b", F.levenshtein("name_n_a", "name_n_b").alias("dist")
    ).where(F.col("dist") <= max_dist)
    return capped_band_pairs(
        keyed, "rec_id", ["_block"], payload_cols=["name_n"], verify=verify
    )


def linkage_clusters(pairs: DataFrame) -> DataFrame:
    """Entity ids from verified pairs: (rec_id, entity_id) where
    entity_id is the smallest rec_id transitively reachable — a thin
    naming shim over dedup_groups (same algorithm, same guarantees);
    records with no matching pair are their own entity and simply
    don't appear (union them back with entity_id = rec_id if a total
    assignment is needed)."""
    return dedup_groups(pairs.select("id_a", "id_b")).select(
        F.col("doc_id").alias("rec_id"), F.col("group_id").alias("entity_id")
    )


def fastss_pairs(
    df: DataFrame,
    id_col: str,
    s_col: str,
    max_len: int = 64,
) -> DataFrame:
    """FastSS deletion-neighborhood join → every pair (id_a, id_b,
    s_a, s_b, dist) with edit distance ≤ 1, EXACTLY — no recall bound.

    The lossless complement to ``linkage_candidates``' heuristic
    blocking: for distance ≤ 1 the deletion neighborhood is a COMPLETE
    blocking key (Bocek et al. 2007) — a substitution pair shares the
    same-position deletion, and an insertion/deletion pair shares the
    shorter string itself (every string is in its own neighborhood) —
    so the candidate equi-join provably surfaces every true pair, and
    the levenshtein verify only removes the distance-2 collisions of
    unequal-position deletions.  Strings longer than ``max_len`` are
    dropped whole (the capped-contract discipline: a megabyte "name"
    would fan out a megabyte of variants).

    Distributed shape: one per-row transform builds the ≤ len+1
    variants (no re-shipped token arrays), one explode, one
    self-equi-join on the variant (hash join — never all pairs), a
    distinct on the id pair riding the same shuffle, then the codegen
    levenshtein verify on candidates only.  Fan-out is len+1 replicas
    per string — the price of PROVABLY exact recall, vs the
    suffix+length-band blocking's cheap-but-lossy key.
    """
    base = (
        df.where(F.length(F.col(s_col)) <= max_len)
        .select(
            F.col(id_col).alias("_id"), F.col(s_col).alias("_s")
        )
        .where(F.col("_s").isNotNull())
    )
    s = F.col("_s")
    variants = F.concat(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                s.substr(i + 1, F.length(s)),
            ),
        ),
    )
    ex = base.select(
        "_id", "_s", F.explode(variants).alias("_v")
    ).distinct()
    cand = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a._v") == F.col("b._v"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._s").alias("s_a"),
            F.col("b._s").alias("s_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "s_a",
        "s_b",
        F.levenshtein("s_a", "s_b").alias("dist"),
    ).where(F.col("dist") <= 1)

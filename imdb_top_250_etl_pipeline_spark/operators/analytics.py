"""Behavioral-analytics operators over event streams — ordered funnels
and retention cohorts, the two queries every product-analytics engine
ships and plain SQL states awkwardly.

Both are compositions of existing primitives (conditional aggregation,
per-key joins, date arithmetic) with one discipline: every stage
aggregates BEFORE it joins, so the tables being joined are bounded by
user cardinality, never event volume — the shape that survives a 100 TB
event log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import sizing


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel: for each user, the earliest time each step was
    reached GIVEN the previous step happened strictly before it —
    (user, t_step1..t_stepN, n_steps).

    The classic "view → click → purchase" conversion query.  Stage k
    filters to step-k events, joins the per-user frontier of stage k-1
    (a table bounded by user count, not event count), keeps events
    strictly after it, and takes the per-user min — so each stage is one
    filtered aggregate plus one key join, and the whole funnel is N-1
    shuffles on the user key with partial aggregation everywhere.
    Users who never complete step 1 are absent from the output.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    frontier = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            events.where(F.col(type_col) == step)
            .select(user_col, F.col(ts_col).alias("_ts"))
            .join(frontier, user_col)
            .where(F.col("_ts") > F.col(f"t_{k - 1}"))
            .groupBy(user_col, *[f"t_{i}" for i in range(1, k)])
            .agg(F.min("_ts").alias(f"t_{k}"))
        )
        # left join keeps users who stalled at step k-1 (their t_k NULL)
        frontier = frontier.join(
            nxt.select(user_col, f"t_{k}"), user_col, "left"
        )
    n_steps = sum(
        F.when(F.col(f"t_{i}").isNotNull(), 1).otherwise(0)
        for i in range(1, len(steps) + 1)
    )
    return frontier.select(
        user_col,
        *[f"t_{i}" for i in range(1, len(steps) + 1)],
        n_steps.cast("int").alias("n_steps"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-grain retention: (cohort_date, day_offset, n_users) — of the
    users whose FIRST event fell on cohort_date, how many were active
    day_offset days later.

    Both inputs to the final count are user-bounded: the cohort table is
    one min-aggregate per user, the activity table one distinct
    (user, day) pair per active day — the join and the final
    count-distinct shuffle on user/cohort keys, never raw events.
    offset 0 (the cohort day itself) is included, so n_users at offset 0
    equals the cohort size.
    """
    firsts = events.groupBy(user_col).agg(
        F.to_date(F.min(ts_col)).alias("cohort_date")
    )
    activity = events.select(
        user_col, F.to_date(ts_col).alias("_day")
    ).distinct()
    return (
        activity.join(firsts, user_col)
        .select(
            "cohort_date",
            F.datediff("_day", "cohort_date").alias("day_offset"),
            user_col,
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    channel_col: str,
    is_touch,
    is_conversion,
    order_col: str | None = None,
) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    conversion event, the channel of the user's earliest and latest
    qualifying touch at or before the conversion time.

    One pass, one shuffle — the asof_join union-sort-carry construction
    turned inward: within each user's timeline (ordered by ts, with
    ``order_col`` — e.g. the event id — as the deterministic tie-break,
    and touches sorting BEFORE conversions at equal timestamps so a
    same-instant touch is creditable), a running first_value/last_value
    over touch channels is read off at each conversion row.  No
    touches-to-conversions join ever materializes (the naive theta-join
    explodes by touches×conversions per user); per-user work is the
    sort, so skew follows user activity — the funnel/retention bound.
    Conversions with no prior touch keep NULL attribution (organic).
    """
    tie = [F.col(order_col)] if order_col else []
    touch_ch = F.when(is_touch, F.col(channel_col))
    w = (
        W.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.when(is_touch, 0).otherwise(1), *tie)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    enriched = events.select(
        "*",
        F.first(touch_ch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch_ch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return enriched.where(is_conversion).select(
        user_col,
        ts_col,
        *([order_col] if order_col else []),
        "first_touch",
        "last_touch",
    )


def transition_counts(
    events: DataFrame,
    key_col: str,
    order_cols: list,
    state_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-key timelines:
    for each observed (src, dst) consecutive-state pair — its count and
    conditional probability P(dst | src).

    The user-journey fingerprint behind next-action prediction and
    anomaly scoring.  One window shuffle on the key builds consecutive
    pairs (lead), then the pair counts aggregate map-side; the per-src
    totals are bounded by the STATE vocabulary, not event volume, so
    they broadcast back onto the counts.  ``order_cols`` must totally
    order each key's timeline (include a unique tie-break key).

    ``p`` is one integer÷integer double division — exact-identical
    cross-engine, no rounding needed.
    """
    w = W.partitionBy(key_col).orderBy(*order_cols)
    pairs = events.select(
        F.col(state_col).alias("src"),
        F.lead(state_col).over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    c = pairs.groupBy("src", "dst").agg(F.count("*").cast("long").alias("n"))
    tot = c.groupBy("src").agg(F.sum("n").cast("long").alias("_tot"))
    return c.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        "n",
        (F.col("n").cast("double") / F.col("_tot").cast("double")).alias("p"),
    )


def session_paths(
    events: DataFrame,
    key_col: str,
    order_cols: list[str],
    state_col: str,
    sep: str = ">",
    max_len: int | None = None,
) -> DataFrame:
    """Journey-path frequency table: each key's states concatenated in
    timeline order (``view>click>purchase``), then counted across keys —
    the top-paths report behind funnel discovery (which funnels exist,
    before funnel_steps measures a chosen one).

    One shuffle builds per-key paths via collect_list(struct(order,
    state)) + array_sort — per-row array work, no window and no second
    sort exchange — and the path counts aggregate map-side.  Path length
    is bounded by per-key activity; ``max_len`` caps the path to the
    first N states (set it at 100 TB — single keys can own millions of
    events, and an uncapped collect_list holds them all in one row).
    ``order_cols`` must totally order each key's timeline.
    """
    seq = F.array_sort(F.collect_list(F.struct(*order_cols, state_col)))
    if max_len is not None:
        seq = F.slice(seq, 1, max_len)
    per_key = events.groupBy(key_col).agg(
        F.array_join(
            F.transform(seq, lambda s: s[state_col]),
            sep,
        ).alias("path")
    )
    return per_key.groupBy("path").agg(
        F.count("*").cast("long").alias("n_keys")
    )


def funnel_steps_fold(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """``funnel_steps`` in ONE shuffle for any step count: each user's
    timeline collects once, sorts per-row, and a single ``aggregate``
    fold walks it carrying the k frontier timestamps — step j's slot
    fills with the first event of type j whose time is strictly after
    slot j-1.

    Exactly equivalent to the join formulation (equivalence-tested):
    the fold processes events in ascending time order, so "first
    qualifying" IS the per-step minimum, and reading the PRE-update
    accumulator preserves the strictly-before precedence even among
    same-timestamp events.  Per-user memory is that user's event count
    (the session_paths boundedness contract — cap the timeline first if
    single users can own millions of events); in exchange the N-1
    frontier joins of the staged form collapse into one groupBy, the
    better shape when the step list is long or the engine is re-run per
    step-permutation (funnel exploration).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    k = len(steps)
    ts_type = events.schema[ts_col].dataType
    seq = F.array_sort(
        F.collect_list(
            F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("et"))
        )
    )

    def merge(acc, x):
        outs = [
            F.coalesce(
                acc["t_1"], F.when(x["et"] == steps[0], x["ts"])
            ).alias("t_1")
        ]
        for j in range(2, k + 1):
            outs.append(
                F.coalesce(
                    acc[f"t_{j}"],
                    F.when(
                        (x["et"] == steps[j - 1])
                        & acc[f"t_{j - 1}"].isNotNull()
                        & (x["ts"] > acc[f"t_{j - 1}"]),
                        x["ts"],
                    ),
                ).alias(f"t_{j}")
            )
        return F.struct(*outs)

    init = F.struct(
        *[
            F.lit(None).cast(ts_type).alias(f"t_{i}")
            for i in range(1, k + 1)
        ]
    )
    folded = events.groupBy(user_col).agg(
        F.aggregate(seq, init, merge).alias("_f")
    )
    n_steps = sum(
        F.when(F.col(f"_f.t_{i}").isNotNull(), 1).otherwise(0)
        for i in range(1, k + 1)
    )
    return folded.where(F.col("_f.t_1").isNotNull()).select(
        user_col,
        *[F.col(f"_f.t_{i}").alias(f"t_{i}") for i in range(1, k + 1)],
        n_steps.cast("int").alias("n_steps"),
    )


def trending_topk(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window: str = "6 hours",
    k: int = 3,
) -> DataFrame:
    """Top-k most active keys per tumbling window — the trending-items
    report (hottest users/products/queries each hour) as a windowed
    aggregate + per-window rank.

    Scale shape: the count aggregate map-side combines before its one
    shuffle; the per-window ranking reuses the salted two-phase top-k
    discipline (similarity._two_phase_topk) because a single
    ``Window.partitionBy(window)`` would funnel EVERY distinct key of a
    window into one task — phase 1 ranks within (window, salt) and
    emits k rows each, phase 2's real per-window rank sees at most
    k × n_salts rows per window.  Counts are exact integers and ties
    break on the lower key, so the selection is deterministic and
    oracle-checkable.
    """
    per = events.groupBy(
        F.window(ts_col, window).alias("w"), key_col
    ).agg(F.count("*").alias("n_events"))
    # each key hashes to ONE salt group, so any row of a window's global
    # top-k is top-k within its (window, salt) group: phase 1 never cuts
    # a survivor, whatever the salt count (operators/sizing.py)
    n_salts = sizing.salts(events)
    salted = per.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_salts))
    )
    w1 = W.partitionBy("w", "_salt").orderBy(
        F.desc("n_events"), F.asc(key_col)
    )
    partial = (
        salted.withColumn("_pr", F.row_number().over(w1))
        .where(F.col("_pr") <= k)
        .drop("_salt", "_pr")
    )
    w2 = W.partitionBy("w").orderBy(F.desc("n_events"), F.asc(key_col))
    return (
        partial.withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            key_col,
            "n_events",
            "rank",
        )
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: int = 64,
) -> DataFrame:
    """Market-basket association rules → (item_a, item_b, c_a, c_b,
    c_ab, confidence, lift) for every ordered item pair co-occurring
    in ≥ ``min_support`` baskets: confidence = c_ab/c_a (how often a
    basket holding a also holds b), lift = N·c_ab/(c_a·c_b) (>1 ⇒
    genuinely associated, not just both popular).

    The co-occurrence family's decision layer: `transition_counts`
    gives ORDERED event flows, this gives UNORDERED co-membership —
    the "frequently bought together" / feature-co-occurrence query.

    Distributed shape: pair generation is a self-equi-join on the
    basket key, so fan-out is Σ s_i² over basket sizes — bounded by
    ``max_basket_items`` (baskets past the cap are DROPPED whole, the
    standard FP-growth guard: a 10⁶-item degenerate basket would
    otherwise emit 10¹² pairs; the cap is an explicit, checkable
    contract, not a silent truncation).  Item counts c_a aggregate
    BEFORE joining back (tables bounded by item cardinality, never
    pair volume) and N rides a 1-row broadcast.  All counts are exact
    integers; confidence and lift are single IEEE divisions of exact
    integer products (c_a·c_b ≤ N² < 2⁶³) — hash-identical
    cross-engine.
    """
    from .pinning import eager_pin

    bi = baskets.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    sizes = bi.groupBy("_bk").agg(F.count("*").alias("_sz"))
    # the capped basket-item table feeds FOUR branches (N, item counts,
    # both pair sides): pin it once or every branch rescans the source
    # (on-cluster prefer reliable checkpoint()/persist; see pinning.py)
    ok = eager_pin(
        bi.join(
            sizes.where(F.col("_sz") <= max_basket_items).select("_bk"),
            "_bk",
        )
    )
    n_baskets = ok.select("_bk").distinct().agg(
        F.count("*").cast("long").alias("_n")
    )
    item_counts = ok.groupBy("_it").agg(F.count("*").cast("long").alias("_c"))
    a = ok.select("_bk", F.col("_it").alias("item_a"))
    b = ok.select("_bk", F.col("_it").alias("item_b"))
    pairs = (
        a.join(b, "_bk")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= min_support)
    )
    # emit both rule directions so confidence(a→b) and (b→a) are rows
    both = pairs.unionByName(
        pairs.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "c_ab",
        )
    )
    return (
        both.join(
            item_counts.select(
                F.col("_it").alias("item_a"), F.col("_c").alias("c_a")
            ),
            "item_a",
        )
        .join(
            item_counts.select(
                F.col("_it").alias("item_b"), F.col("_c").alias("c_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "c_a",
            "c_b",
            "c_ab",
            (F.col("c_ab").cast("double") / F.col("c_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("c_ab") * F.col("_n")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
    )


def sessionize(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    gap_us: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization → one row per (user, session):
    (user, session_id, session_start, session_last, n_events), where a
    gap of **at least** ``gap_us`` microseconds since the user's
    previous event starts a new session (matching the built-in
    ``F.session_window``, whose window is [start, start+gap)), and
    session_id numbers a user's sessions 1..N in time order.

    ``ts_col`` may be a TIMESTAMP or TIMESTAMP_NTZ (gaps measured
    µs-exact and zone-free via timestamp_diff — unix_timestamp would
    truncate to seconds, and unix_micros rejects NTZ) or an integral
    column already in µs.  ``tiebreak_cols`` must complete a total
    order when timestamps can collide (the standard window-determinism
    contract); with ``gap_us == 0`` every event starts its own session
    by the >= convention.

    Distributed shape: lag + running-sum session ids over the SAME
    (user, ts, tiebreak) window partitioning — two window passes, one
    shuffle, reused — then one combining groupBy on (user, session_id).
    State is bounded per user; for mega-entity keys the running sum has
    the spill-proof twin in ``windows.grouped_cumsum``.
    """
    tb = [F.col(c) for c in (tiebreak_cols or [])]
    w = W.partitionBy(user_col).orderBy(F.col(ts_col), *tb)
    ts_t = events.schema[ts_col].dataType.simpleString()
    prev = F.lag(events[ts_col]).over(w)
    if ts_t in ("bigint", "int", "smallint", "tinyint"):
        gap = F.col(ts_col).cast("long") - prev.cast("long")
    else:
        gap = F.timestamp_diff("MICROSECOND", prev, F.col(ts_col))
    new_session = F.when(
        prev.isNull() | (gap >= F.lit(int(gap_us))), 1
    ).otherwise(0)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        events.withColumn("_ns", new_session)
        .withColumn("session_id", F.sum("_ns").over(run).cast("bigint"))
        .groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_last"),
            F.count("*").alias("n_events"),
        )
    )


def flag_streaks(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    flag,
    min_len: int = 1,
) -> DataFrame:
    """Gaps-and-islands streak detection → one row per maximal run of
    consecutive flagged events within a user's timeline:
    (user, streak_len, n_events_before, start_ts, end_ts).

    The classic sequence question — "longest run of errors", "how many
    uninterrupted purchase streaks" — stated with the row-number
    difference idiom: rank every event, rank only the flagged ones,
    and their difference is CONSTANT exactly within a maximal island
    (any unflagged event between two flagged ones advances the first
    rank but not the second).  ``n_events_before`` (the island key,
    rn_all − rn_flag) is kept in the output: it both pins determinism
    and tells the analyst how deep into the user's history the streak
    started.

    Distributed shape: two per-user ranking windows (state bounded by
    each user's event count — for mega-entity keys switch the ranks to
    `windows.grouped_row_number`, the documented spill-proof twin) and
    one combining groupBy; no joins.  Ties inside ``ts`` break on the
    event id column being part of the caller's ts ordering contract —
    pass a unique (ts, id) composite when timestamps can collide.
    """
    ts0 = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    w_all = W.partitionBy(user_col).orderBy(*[F.col(c) for c in ts0])
    ranked = events.withColumn("_rn", F.row_number().over(w_all)).where(flag)
    w_flag = W.partitionBy(user_col).orderBy("_rn")
    grouped = ranked.withColumn(
        "_grp", F.col("_rn") - F.row_number().over(w_flag)
    )
    return (
        grouped.groupBy(user_col, "_grp")
        .agg(
            F.count("*").cast("long").alias("streak_len"),
            F.min(ts0[0]).alias("start_ts"),
            F.max(ts0[0]).alias("end_ts"),
        )
        .where(F.col("streak_len") >= min_len)
        .select(
            user_col,
            "streak_len",
            F.col("_grp").cast("long").alias("n_events_before"),
            "start_ts",
            "end_ts",
        )
    )


def interarrival_burstiness(
    df: DataFrame,
    key_col: str,
    order_cols: list,
    ts_col: str,
) -> DataFrame:
    """Inter-arrival burstiness per key → (n_gaps, mean_gap_us, cv2,
    burstiness): the coefficient-of-variation signature of each key's
    event-gap distribution, and the Goh–Barabási burstiness index
    B = (σ−μ)/(σ+μ) ∈ (−1, 1).

    The bot/automation detector next to flag_streaks (runs of WHAT)
    and markov transitions (order of WHAT): humans are bursty (B > 0,
    heavy-tailed gaps), cron jobs are periodic (B → −1, σ → 0), and
    Poisson-random traffic sits at B ≈ 0 — a score that needs no
    labels and one pass.

    Exactness: gaps are exact integer microseconds from ONE lead()
    window (``order_cols`` must be a total order — the standard
    contract); the sufficient statistics (n, Σg as bigint, Σg² as
    DECIMAL(38,0) — a decade in µs squared passes 2^63) aggregate in
    one combining groupBy; cv² = (n·Σg² − (Σg)²)/(Σg)² is ONE IEEE
    division of exact quantities (the n² factors cancel), mean_gap
    one more; burstiness carries the only libm call (sqrt) and rounds
    to 6 dp for the cross-engine hash (the PMI/bigram-LM discipline).
    Keys with a single event have no gaps and drop out; zero total
    gap (all events at one instant) yields NULL cv2/burstiness
    rather than ÷0.

    Distributed shape: one key-window shuffle + one combining
    aggregate — per-row state O(1), any key cardinality.
    """
    w = W.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    us = F.unix_micros(F.col(ts_col))
    gaps = (
        df.select(key_col, (F.lead(us).over(w) - us).alias("_g"))
        .where(F.col("_g").isNotNull())
    )
    agg = gaps.groupBy(key_col).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("_g").alias("_sg"),
        # cast BEFORE squaring: a multi-hour gap in µs squared passes
        # 2^63, so the product must happen in decimal, not int64
        F.sum(F.col("_g").cast("decimal(38,0)") * F.col("_g")).alias(
            "_sgg"
        ),
    )
    sg_d = F.col("_sg").cast("decimal(38,0)")
    num = (
        F.col("n_gaps").cast("decimal(38,0)") * F.col("_sgg")
        - sg_d * sg_d
    ).cast("double")
    cv2 = F.when(F.col("_sg") > 0, num / (sg_d * sg_d).cast("double"))
    rt = F.sqrt(cv2)
    return agg.select(
        key_col,
        "n_gaps",
        (F.col("_sg") / F.col("n_gaps").cast("double")).alias(
            "mean_gap_us"
        ),
        cv2.alias("cv2"),
        F.round((rt - 1) / (rt + 1), 6).alias("burstiness"),
    )

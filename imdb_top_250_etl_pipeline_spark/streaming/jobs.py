"""Structured Streaming surface — SURVEY §2.10.

The reference's 'streaming' is a weekly cron re-running the whole batch
pipeline with idempotent upserts (Dockerfile:55, README.md:117-133).
Structured Streaming subsumes that model: a file/kafka source, watermarked
event-time windows, stateful dedup, and foreachBatch MERGE give the same
idempotent refresh continuously, with Trigger.AvailableNow reproducing the
cron batch exactly.

Tests drive every job with availableNow over the events parquet and
assert parity with the batch duals in plans/streaming_queries.py — the
standard way to validate streaming logic deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.etl import upsert

# streaming reads declare the raw parquet schema explicitly (no inference
# on a stream).  The ts physical type varies by fixture generation —
# TIMESTAMP(NANOS) (surfaced as long under nanosAsLong) in older fixtures,
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ) in
# current ones — so the schema is picked per-directory by sniffing one
# footer, mirroring the batch catalog's adaptive handling
# (sources/catalog.py:56-70).
def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _events_ts_unit(sf_dir: str) -> str:
    """Sniff the events parquet footer for the timestamp unit ('ns' for the
    legacy nanos fixtures, 'us' otherwise).  One footer read at plan time —
    negligible next to the stream itself, and the only reliable signal
    (a declared-schema mismatch on a stream fails at runtime, not plan)."""
    try:
        import pyarrow.parquet as pq

        t = pq.ParquetFile(f"{sf_dir}/events.parquet").schema_arrow.field("ts").type
        return getattr(t, "unit", "us") or "us"
    except (ImportError, FileNotFoundError, KeyError) as exc:
        # narrow except: a malformed footer (ArrowInvalid etc.) should
        # surface here at plan time, not later as an opaque scan error.
        # The fallbacks below are the only sniff failures with a sane
        # default (no pyarrow / no file yet / no ts field) — warn so a
        # wrong guess on a legacy ns fixture stays diagnosable.
        import warnings

        warnings.warn(
            f"events ts-unit sniff failed ({exc!r}); assuming 'us'",
            RuntimeWarning,
            stacklevel=2,
        )
        return "us"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one parquet = one batch
    under availableNow; a directory of arriving files in production)."""
    # pin the session TZ so the NTZ→TIMESTAMP cast below is value-identical
    # (UTC wall-clock == UTC instant); without this a non-UTC driver session
    # would silently shift event times relative to the batch catalog
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _events_ts_unit(sf_dir) == "ns":
        # legacy fixtures: TIMESTAMP(NANOS) refuses to scan unless surfaced
        # as long; integer-divide to µs exactly like the batch catalog
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(_events_schema(T.LongType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # current fixtures: µs TIMESTAMP_NTZ; cast to the zoned type the
    # event-time operators (withWatermark, window, session_window) require.
    # cast(T.TimestampType()) not cast("timestamp"): the string form
    # resolves via spark.sql.timestampType and becomes a no-op if a session
    # sets that to TIMESTAMP_NTZ.
    raw = (
        spark.readStream.schema(_events_schema(T.TimestampNTZType()))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation (streaming form of
    stream_tumbling_window): late events beyond the watermark are
    dropped and window state is evicted — the unbounded-state fix."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "approx_users")
    )


def session_counts(events: DataFrame, gap: str = "6 hours") -> DataFrame:
    """Watermarked session windows (streaming form of
    stream_session_window): sessions close when no event arrives within
    the gap; watermark bounds how long an open session is retained."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark horizon —
    the streaming form of exact dedup (state evicts with the watermark,
    so memory stays bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event totals that survive across microbatches.

    The state (one count per user) lives in the state store; each
    microbatch folds its rows in and emits the updated totals — the
    primitive under sessionization, rate limiting, and online feature
    aggregation when the built-in window operators can't express the
    semantics.  State is per-key and bounded, so it scales with user
    cardinality, not event volume.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def foreach_batch_upsert(
    events: DataFrame,
    target_path: str,
    checkpoint_path: str,
    n_bands: int = 16,
):
    """foreachBatch MERGE: the streaming S5 — each microbatch upserts into
    a parquet target keyed by event_id (update-wins on re-delivery, so
    the sink is idempotent across retries/restarts; the reference's
    ON CONFLICT DO UPDATE on a cron, continuously).

    The target is partitioned by ``key_band = event_id % n_bands`` and
    written with DYNAMIC partition overwrite, so each microbatch
    rewrites only the key bands it actually touches: read the touched
    partitions (partition pruning on key_band), merge, overwrite those
    partitions — O(touched bands), not O(table), per batch.  Untouched
    partition files are left byte-identical.  Size n_bands so one band
    ~= the data a microbatch can rewrite comfortably; a transactional
    format (Delta/Iceberg MERGE INTO) is the production target and
    slots into this same foreachBatch.
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        cols = ["event_id", "user_id", "event_type", "value"]
        incoming = (
            batch.select(*cols)
            .dropDuplicates(["event_id"])
            .withColumn("key_band", (F.col("event_id") % n_bands).cast("int"))
        )
        touched = incoming.select("key_band").distinct()
        try:
            existing = (
                spark.read.parquet(target_path)
                # broadcast semi-join on the partition column: dynamic
                # partition pruning scans only the touched band dirs
                .join(F.broadcast(touched), "key_band", "left_semi")
                .select(*cols, "key_band")
            )
        except Exception:
            existing = spark.createDataFrame([], incoming.schema)
        merged = upsert(
            existing,
            incoming,
            key="event_id",
            update_cols=["event_type", "value"],
            stable_cols=["user_id", "key_band"],
        )
        # the checkpoint materializes before the overwrite clobbers the
        # input files the plan still references; the per-write option
        # (not a session conf, which would leak dynamic-overwrite
        # semantics into every later partitioned write) replaces only
        # the partitions present in the output (the touched bands).
        # pin + release: per-batch checkpoint blocks freed as soon as
        # the write lands — a long-running stream would otherwise
        # accumulate one dead block set PER MICROBATCH
        from ..operators.pinning import pin

        pinned, handle = pin(merged)
        try:
            (
                pinned.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("key_band")
                .parquet(target_path)
            )
        finally:
            handle.release()

    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )


def stream_to_txn_table(
    events: DataFrame,
    table: str,
    checkpoint_path: str,
    app_id: str,
    key: str = "event_id",
):
    """END-TO-END exactly-once streaming sink into the transaction-log
    table: source offsets live in the streaming checkpoint
    (replayable), and each microbatch appends under an idempotent
    ``txn`` action stamped (app_id, batch_id) — foreachBatch's
    at-least-once replays (restart mid-batch, checkpoint rollback)
    become no-ops because the log already records the batch.  This is
    the Delta `txn`-action protocol; the committed table is readable
    mid-stream via txn_read with full snapshot isolation.

    Contrast with foreach_batch_upsert: that sink is idempotent by
    key-level MERGE semantics (re-delivery overwrites in place); this
    one is idempotent by BATCH identity, which is what append-only
    fact/event tables need — a replayed batch must not double its rows.
    """
    from ..sources.txn import txn_append

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        txn_append(batch, table, key=key, app_txn=(app_id, batch_id))

    return (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )


def enrich_stream(
    events: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each microbatch against a batch
    dimension table (the streaming form of J2's broadcast lookup).

    The static side is re-resolved per microbatch (so a dim refreshed
    between batches is picked up) and explicitly broadcast — the stream
    side never shuffles, which is the only sustainable shape for an
    unbounded source.  Stateless: no watermark needed (unlike
    stream-stream joins, whose buffered state requires one)."""
    return events.join(F.broadcast(dim), on, how)


def join_event_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: pair each left event with right
    events of the same key that happened in (left.ts - within,
    left.ts] — e.g. the purchase within an hour after a click.

    BOTH sides need watermarks plus a time-range join condition: that is
    what lets the state store evict buffered rows (without the range
    bound every past event must be retained forever waiting for future
    matches).  State per key is bounded by events inside the
    watermark+range horizon — the only sustainable stream-stream shape.

    ``how='leftOuter'`` adds the outer-emission semantics users hit
    first in practice (the click with NO purchase within the hour):
    an unmatched left row is emitted null-extended only once the
    watermark passes its match horizon — i.e. once no future right row
    could still pair with it — so outer results trail the watermark
    delay by construction.  Rows still inside the horizon at stream
    end are withheld, exactly like an unclosed window in append mode;
    the batch dual in tests restates this cutoff explicitly.
    ``rightOuter``/``fullOuter`` follow the same contract symmetrically:
    under ``fullOuter`` an unmatched row on EITHER side null-extends
    once the watermark passes its own match horizon (the output key is
    coalesced across sides, since a right-only row has no left key).
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") <= F.col("l_ts")),
        how,
    ).select(
        F.coalesce(F.col("l_key"), F.col("r_key")).alias(key),
        "l_ts",
        "l_event_id",
        "r_ts",
        "r_event_id",
    )


def dedup_stream_ttl(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps an event_id in the state store only until the watermark passes
    it, so state size tracks the re-delivery window, not stream history.

    The production form of ``dedup_stream``: plain dropDuplicates on a
    stream retains every key forever (state grows with the stream);
    at-least-once sources re-deliver within a bounded horizon, which is
    exactly what the watermark bound encodes.  Guarantees: duplicates
    arriving within ``watermark`` of the first copy are dropped;
    duplicates separated by more may both survive — the documented
    tradeoff of bounding state.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def tws_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithStateInPandas API
    (Spark 4's arbitrary-state v2): per-user running (count, value sum)
    kept in a typed ValueState, updated totals emitted each microbatch.

    The successor to applyInPandasWithState
    (``stateful_user_counts``): the handle-based API gives named,
    independently-typed state variables, timers, and TTL support
    instead of one state tuple — this operator is the minimal v2 shape
    (one ValueState, no timers) so the two APIs are directly
    comparable in tests.  State is per-user and bounded by user
    cardinality, never event volume.

    ENVIRONMENT GATE (like the JDBC reader): the TWS state-server
    protocol needs the ``protobuf`` Python package, which this image
    does not ship — the runtime test skips when ``google.protobuf`` is
    absent and the v1 operator remains the executable path here; on a
    standard Spark 4 deployment (protobuf is a released PySpark
    dependency) this runs as-is.
    """
    from pyspark.sql.streaming import StatefulProcessor

    class _UserStats(StatefulProcessor):
        def init(self, handle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._agg.exists():
                n, total = self._agg.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "value_sum": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStats(),
        outputStructType="user_id BIGINT, n_events BIGINT, value_sum DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def cusum_stream(
    events: DataFrame,
    target: float = 25.0,
    slack: float = 5.0,
    threshold: float = 100.0,
    scale: int = 1000,
) -> DataFrame:
    """Streaming two-sided CUSUM drift detector (applyInPandasWithState):
    the online form of ``operators/timeseries.py::cusum_changepoints``
    — per-user state is just the (s_pos, s_neg) carry pair, each
    microbatch folds its rows in event order, and every processed row
    emits with its statistic and alarms.

    THE monitoring deployment of the batch detector: the alarm fires
    DURING ingest, not at the next batch audit.  State is two bigints
    per key — bounded by key cardinality, not history — because the
    max(0,·) recurrence needs only its carry: within a batch the
    closed reflection form generalizes to a carry-in as
    ``S_i = Q_i − min(0, min_{j≤i} Q_j)`` over ``Q = prefix(x) + s₀``
    (the batch operator's identity, shifted), so the fold is two
    vectorized cumulative ops, never a Python-per-row loop.

    Contract: a key's events must arrive in event order ACROSS
    microbatches (within a batch this operator sorts); out-of-order
    delivery needs the watermarked windowed detectors instead.
    Quantization matches the batch dual exactly: floor(v·scale + ½) =
    HALF_UP for the non-negative values this detector monitors.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("cusum_pos", T.LongType()),
            T.StructField("cusum_neg", T.LongType()),
            T.StructField("alarm_pos", T.BooleanType()),
            T.StructField("alarm_neg", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("sp", T.LongType()), T.StructField("sn", T.LongType())]
    )
    t_q = int(round(target * scale))
    k_q = int(round(slack * scale))
    h_q = int(round(threshold * scale))

    def update(key, pdfs, state):
        import numpy as np
        import pandas as pd

        sp, sn = state.get if state.exists else (0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(
                ["ts", "event_id"], kind="mergesort", ignore_index=True
            )
            q = np.floor(
                pdf["value"].to_numpy(dtype=np.float64) * scale + 0.5
            ).astype(np.int64)

            def fold(x, s0):
                qq = np.cumsum(x) + s0
                return qq - np.minimum(np.minimum.accumulate(qq), 0)

            cp = fold(q - t_q - k_q, sp)
            cn = fold(t_q - q - k_q, sn)
            state.update((int(cp[-1]), int(cn[-1])))
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    "value": pdf["value"],
                    "cusum_pos": cp,
                    "cusum_neg": cn,
                    "alarm_pos": cp > h_q,
                    "alarm_neg": cn > h_q,
                }
            )

    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_near_dup_ingest(
    docs: DataFrame,
    index_dir: str,
    checkpoint_path: str,
    app_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    index_duplicates: bool = False,
):
    """Streaming incremental near-dup dedup (round 13): the LLM-pipeline
    shape for a continuously-ingesting corpus, composed from the two
    verified pieces — the exactly-once txn-table sink (sources/txn.py's
    app_txn idempotent append) and the batch-proportional MinHash probe
    (operators/dedup.py::minhash_probe_incremental).

    Per microbatch (foreachBatch):
      1. shingle + sign + band the NEW docs once (build_minhash_index);
      2. probe them against the ACCUMULATED index tables
         ({index_dir}/shingles, /buckets — empty before batch 0) for
         cross-batch duplicates, and against themselves for
         within-batch pairs (new_id > existing_id, each pair once);
      3. append found (new_id, existing_id, jaccard, batch_id) rows to
         {index_dir}/dups;
      4. append the batch's shingle and bucket rows to the index —
         every doc when ``index_duplicates`` (report-only mode: exact
         duplicates remain GUARANTEED findable forever, the invariant
         the registered oracle checks), else only docs not flagged as
         the new side of a duplicate (drop mode — the corpus-pruning
         policy; near-dup chains then resolve to the earliest copy).

    Exactly-once across restarts: all three appends ride distinct
    app_txn streams keyed (app_id + suffix, batch_id), so a replayed
    microbatch (restart mid-batch, checkpoint rollback, or a full
    re-run against a fresh checkpoint) re-computes deterministically
    and every already-committed append is a no-op — the dups table
    records each pair exactly once.  Partial-failure replays converge:
    if a crash lands between the dups append and the index appends,
    the replay skips the former and performs the latter.

    Per-batch work is O(batch + matched buckets), never O(corpus): the
    probe equi-joins the batch's bucket table against the persisted
    one, and shuffles carry signatures/ids, not text.  Returns the
    DataStreamWriter (caller picks the trigger; availableNow for
    catch-up ingest, processingTime for continuous).
    """
    import os

    from ..operators.dedup import (
        MinhashIndex,
        build_minhash_index,
        minhash_probe_incremental,
    )
    from ..operators.pinning import pin_scope
    from ..sources.txn import txn_append, txn_read

    sh_table = os.path.join(index_dir, "shingles")
    bk_table = os.path.join(index_dir, "buckets")
    dup_table = os.path.join(index_dir, "dups")

    def process(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch calls back on a Py4J thread, which has no scope
        # of its own: the batch owns its pins and frees them at its end
        with pin_scope():
            spark = batch.sparkSession
            b = batch.select(id_col, text_col)
            new_index = build_minhash_index(
                b, text_col, id_col, n_shingle, k, bands
            )
            try:
                existing = MinhashIndex(
                    txn_read(spark, sh_table), txn_read(spark, bk_table)
                )
                cross = minhash_probe_incremental(
                    existing, b, text_col, id_col, n_shingle, k, bands,
                    jaccard_threshold, new_index=new_index,
                )
            except FileNotFoundError:
                cross = None  # first batch: nothing indexed yet
            within = minhash_probe_incremental(
                new_index, b, text_col, id_col, n_shingle, k, bands,
                jaccard_threshold, new_index=new_index,
            ).where(F.col("new_id") > F.col("existing_id"))
            dups = within if cross is None else cross.unionByName(within)
            dups = dups.select(
                "new_id", "existing_id", "jaccard",
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            txn_append(
                dups, dup_table, key="new_id",
                app_txn=(f"{app_id}-dups", batch_id),
            )
            if index_duplicates:
                accepted_sh = new_index.shingles
                accepted_bk = new_index.buckets
            else:
                flagged = dups.select(F.col("new_id").alias(id_col)).distinct()
                accepted_sh = new_index.shingles.join(
                    flagged, id_col, "left_anti"
                )
                accepted_bk = new_index.buckets.join(flagged, id_col, "left_anti")
            txn_append(
                accepted_sh, sh_table, key=id_col,
                app_txn=(f"{app_id}-sh", batch_id),
            )
            txn_append(
                accepted_bk, bk_table, key=id_col,
                app_txn=(f"{app_id}-bk", batch_id),
            )

    return docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )

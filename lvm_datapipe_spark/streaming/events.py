"""Structured Streaming ingestion (SURVEY.md §2.9 extension layer).

The reference is batch-only; its resume-marker pattern (F2/F3) is a manual
substitute for incremental processing.  Here the same clip/event tables get
real incremental semantics:

- file-source stream over a landing directory (new files = new data, the
  streaming analog of the reference's per-shard arrival),
- watermark + ``dropDuplicates`` for late/duplicate records (the streaming
  form of the dedup the reference approximates with marker files),
- tumbling-window aggregation whose PLAN IS THE BATCH PLAN — the
  ``events_tumbling_window`` oracle query and :func:`windowed_counts` are the
  same transformation applied to a batch or streaming DataFrame,
- a stateful sessionizer via ``applyInPandasWithState`` (the reference has no
  stateful operator; this is the Spark-native way to express one).

All transformations take a DataFrame and work identically on batch and
streaming inputs; the ``read_*``/``start_*`` helpers differ only in source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lvm_datapipe_spark.operators.aggregates import decimal_sum

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    landing_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-source stream over a landing directory.  maxFilesPerTrigger
    bounds per-micro-batch work (backpressure); at scale the landing dir is
    partitioned by arrival date so the file index stays small."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(landing_dir)
    )


def ensure_event_time(events: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (with local-tz semantics).

    Spark >= 4 infers parquet timestamps written without UTC adjustment as
    TIMESTAMP_NTZ, but ``withWatermark`` only accepts TIMESTAMP — a stream
    built straight off such files fails analysis with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.  The cast interprets the NTZ wall
    clock in the session timezone; pipelines pin
    ``spark.sql.session.timeZone=UTC`` (session.py) so the instant is exact
    and the round-trip back to NTZ is the identity."""
    if isinstance(events.schema[col].dataType, T.TimestampNTZType):
        return events.withColumn(col, F.col(col).cast("timestamp"))
    return events


def deduplicate_events(
    events: DataFrame, watermark: str = "1 hour", key: str = "event_id"
) -> DataFrame:
    """Watermarked exactly-once-per-key: duplicates within the watermark
    horizon are dropped and state is evicted once the watermark passes.

    ``dropDuplicatesWithinWatermark`` (Spark >= 3.5) is required here: plain
    ``dropDuplicates([key])`` only evicts state when the event-time column is
    part of the dedup subset, so keying on event_id alone would grow state
    unboundedly — a guaranteed OOM on a long-running stream.  Batch
    DataFrames fall back to ``dropDuplicates`` (same result set; batch has
    no state to bound)."""
    if not events.isStreaming:
        return events.dropDuplicates([key])
    events = ensure_event_time(events)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (default) or sliding (``slide`` < window) per-type counts +
    value sums.  Identical plan in batch mode (watermark=None) and streaming
    mode — the batch forms are the oracle-checked ``events_tumbling_window``
    / ``events_sliding_window`` queries."""
    src = ensure_event_time(events).withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), decimal_sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    dim_key: str = "c_custkey",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch of the event stream
    against a static dimension table (customer attributes, video metadata).

    Stream-static joins need NO watermark and keep NO state — Spark re-plans
    the static side per micro-batch, and a broadcast-sized dim costs a
    map-side hash probe per event (the same plan the batch form gets, which
    is what makes the batch≡stream property testable).  Works identically on
    a batch DataFrame, so the batch form serves as the oracle."""
    d = F.broadcast(dim.withColumnRenamed(dim_key, on))
    return events.join(d, on, how)


def interval_join_views_purchases(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval: each purchase
    matches the same user's views in ``[purchase.ts - horizon, purchase.ts]``
    (attribution inside a bounded lookback).

    The time-range condition is what makes this run UNBOUNDED: with both
    sides watermarked and the join range closed, Spark evicts buffered rows
    once ``watermark + horizon`` passes — without the range the state grows
    forever.  On batch inputs ``withWatermark`` is a no-op and the identical
    expression is the oracle-checked ``stream_interval_join`` query, so
    batch ≡ stream is testable on the same data.

    ``how="left_outer"`` keeps purchases with NO view in the lookback
    (null view columns).  In streaming mode the null row for a purchase
    emits only once the watermark passes the point where no future view
    can match it — so outer results trail the watermark by design; the
    batch twin (``stream_interval_join_outer``) is the oracle form."""
    v = ensure_event_time(views).withWatermark("ts", watermark).alias("v")
    p = ensure_event_time(purchases).withWatermark("ts", watermark).alias("p")
    cond = (
        (F.col("v.user_id") == F.col("p.user_id"))
        & (F.col("v.ts") <= F.col("p.ts"))
        & (F.col("v.ts") >= F.col("p.ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(v, cond, how).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("v.event_id").alias("view_id"),
        F.col("v.ts").alias("view_ts"),
        F.col("v.value").alias("view_value"),
    )


SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator: per-user session windows with an inactivity
    gap, via ``applyInPandasWithState`` (GroupState timeout closes sessions).

    Emits one row per CLOSED session.  The batch twin is the w3_sessionize
    oracle query (gaps-and-islands over a window function).
    """
    import datetime as dt

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = dt.timedelta(minutes=gap_minutes)

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        closed: list[tuple] = []
        if state.hasTimedOut:
            if state.exists:
                last_ts, session_start, n = state.get
                closed.append((user_id, session_start, last_ts, n))
                state.remove()
        else:
            rows = []
            for pdf in pdf_iter:
                rows.extend(
                    (ts.to_pydatetime(), 1) for ts in pd.to_datetime(pdf["ts"])
                )
            rows.sort(key=lambda r: r[0])
            if state.exists:
                last_ts, session_start, n = state.get
            else:
                last_ts = session_start = None
                n = 0
            for ts, _ in rows:
                if last_ts is not None and ts - last_ts > gap:
                    closed.append((user_id, session_start, last_ts, n))
                    session_start, n = ts, 0
                if session_start is None:
                    session_start = ts
                last_ts = ts
                n += 1
            if last_ts is not None:
                state.update((last_ts, session_start, n))
                # timeout must be >= the current watermark — clamp so a
                # session whose gap already elapsed times out next trigger
                candidate = int(last_ts.timestamp() * 1000) + gap_minutes * 60 * 1000
                state.setTimeoutTimestamp(
                    max(candidate, state.getCurrentWatermarkMs() + 1)
                )
        if closed:
            yield pd.DataFrame(
                closed, columns=["user_id", "session_start", "session_end", "n_events"]
            )

    return (
        ensure_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def start_to_memory(df: DataFrame, query_name: str, output_mode: str = "update"):
    """Test/debug sink: complete results into an in-memory table."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .start()
    )


def start_to_parquet(df: DataFrame, path: str, checkpoint: str):
    """Production sink: append parquet with checkpointed exactly-once."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def start_foreach_batch_partitioned(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str],
):
    """Streaming materialization via ``foreachBatch`` + dynamic partition
    overwrite: every micro-batch REPLACES exactly the partitions it
    contains (sources/sinks.py::write_partitioned), so update-mode
    aggregations land as upserts — re-emitted windows overwrite their own
    partition instead of appending duplicates, and a replayed batch (after
    a crash between write and checkpoint commit) converges to the same
    state instead of doubling it.  This is the idempotent-sink discipline
    Spark's exactly-once story requires from foreachBatch."""
    from lvm_datapipe_spark.sources.sinks import write_partitioned

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_partitioned(batch_df, path, partition_by)

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def start_versioned_sink(df: DataFrame, table_dir: str, checkpoint: str):
    """EXACTLY-ONCE streaming delivery into a versioned table: every
    micro-batch appends as one immutable txlog version stamped with its
    epoch id, and a REPLAYED batch (crash between the commit and Spark's
    checkpoint write — the gap foreachBatch's at-least-once contract
    leaves open) is SKIPPED because its epoch is already in a committed
    manifest.  A crash mid-commit is also safe: the replay computes the
    same version number (the pointer never advanced) and rewrites the
    same data dir cleanly.

    Downstream consumers get the full versioned-table contract:
    ``txlog.read`` for the current snapshot, ``txlog.diff_files`` for
    per-version increments (process each micro-batch's delta exactly
    once), time travel for replayable backfills."""
    from lvm_datapipe_spark.sources import txlog

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id in txlog.committed_epochs(table_dir):
            return  # replayed epoch — already durably committed
        txlog.commit(
            batch_df.sparkSession,
            batch_df,
            table_dir,
            op="append",
            meta={"epoch": batch_id},
        )

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def start_versioned_upsert_sink(
    df: DataFrame, table_dir: str, checkpoint: str, key_cols: list[str]
):
    """EXACTLY-ONCE streaming UPSERT into a versioned table: each
    micro-batch MERGEs on ``key_cols`` (late re-emissions of a key
    replace the stored row — the streaming SCD/current-state shape),
    with the same epoch-skip replay guard as :func:`start_versioned_sink`.

    The 100 TB property comes from ``txlog.merge``'s file granularity:
    a micro-batch touching k keys rewrites only the files containing
    those keys, never the table.  Within one batch, duplicate keys are
    collapsed deterministically to the lexicographically-greatest full
    row (a pure function of the batch's DATA, not its partition order —
    replays must produce byte-identical merges) before the key-unique
    merge contract applies."""
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.sources import txlog

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id in txlog.committed_epochs(table_dir):
            return  # replayed epoch — already durably committed
        others = [c for c in batch_df.columns if c not in key_cols]
        if others:
            latest = (
                batch_df.groupBy(*key_cols)
                .agg(F.max(F.struct(*others)).alias("_s"))
                .select(*key_cols, *[F.col(f"_s.{c}").alias(c) for c in others])
            )
        else:  # key-only rows: duplicates are identical, keep one
            latest = batch_df.dropDuplicates(key_cols)
        txlog.merge(
            batch_df.sparkSession,
            latest,
            table_dir,
            key_cols=key_cols,
            meta={"epoch": batch_id},
        )

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def tws_available() -> bool:
    """transformWithState needs a google.protobuf runtime able to load
    pyspark's generated StateMessage code.  The container ships pyspark
    without protobuf installed; :mod:`lvm_datapipe_spark.protobuf_compat`
    bootstraps a public on-disk runtime (path probe + same-major version
    relaxation) for the driver, and the session puts
    ``_pybootstrap/sitecustomize.py`` on the workers' ``PYTHONPATH`` so
    every spawned interpreter applies the same bootstrap.  False only when
    no runtime can be found at all."""
    from lvm_datapipe_spark.protobuf_compat import ensure_protobuf

    if not ensure_protobuf():
        return False
    try:
        from pyspark.sql.streaming.proto import StateMessage_pb2  # noqa: F401

        return True
    except Exception:
        return False


def make_session_processor(gap_minutes: int = 30):
    """Build the transformWithState session processor (module-level factory
    so the processor logic is unit-drivable with injected fakes — the
    container's protobuf cannot run the real state server; see
    :func:`tws_available`)."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap = dt.timedelta(minutes=gap_minutes)
    gap_ms = gap_minutes * 60 * 1000
    cols = ["user_id", "session_start", "session_end", "n_events"]

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._state = handle.getValueState("session", SESSION_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            ts_list: list = []
            for pdf in rows:
                ts_list.extend(t.to_pydatetime() for t in pd.to_datetime(pdf["ts"]))
            ts_list.sort()
            if self._state.exists():
                last_ts, session_start, n = self._state.get()
            else:
                last_ts = session_start = None
                n = 0
            closed = []
            for ts in ts_list:
                if last_ts is not None and ts - last_ts > gap:
                    closed.append((user_id, session_start, last_ts, n))
                    session_start, n = ts, 0
                if session_start is None:
                    session_start = ts
                last_ts = ts
                n += 1
            if last_ts is not None:
                self._state.update((last_ts, session_start, n))
                # one live timer per key: re-arm at the new inactivity
                # deadline, clamped past the watermark so an already-elapsed
                # gap fires on the next trigger
                for t in self._handle.listTimers():
                    self._handle.deleteTimer(t)
                deadline = int(last_ts.timestamp() * 1000) + gap_ms
                self._handle.registerTimer(
                    max(deadline, timerValues.getCurrentWatermarkInMs() + 1)
                )
            if closed:
                yield pd.DataFrame(closed, columns=cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (user_id,) = key
            if self._state.exists():
                last_ts, session_start, n = self._state.get()
                self._state.clear()
                yield pd.DataFrame(
                    [(user_id, session_start, last_ts, n)], columns=cols
                )

        def close(self) -> None:
            pass

    return SessionProcessor


def sessionize_stream_tws(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """The :func:`sessionize_stream` semantics on the transformWithState
    API (Spark 4 stateful engine): typed ValueState + real event-time
    TIMERS instead of GroupState timeouts.  Same output rows — one per
    CLOSED session — so either implementation drops into the pipeline.

    Why the new API matters at scale: state lives in per-key typed slots
    on the RocksDB state store backend, timers are first-class (a key can
    hold several), and the processor can evolve state schema between runs
    — the operational gaps of applyInPandasWithState.

    Requires the RocksDB state store provider (multiple column families:
    one per state variable + timers); the default HDFS-backed provider
    raises multipleColumnFamiliesNotSupported.  Set on the session here —
    it is the provider a 100 TB stateful deployment runs anyway."""
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    SessionProcessor = make_session_processor(gap_minutes)
    return (
        ensure_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="EventTime",
        )
    )


def flag_seen_before(
    events: DataFrame,
    bitmap: list[int],
    key_sql: str = "user_id",
    out_col: str = "seen_before",
    n_hashes: int = 3,
) -> DataFrame:
    """Stream-side membership flag against a HISTORICAL corpus compressed
    to a Bloom bitmap (operators/bloom.py): each micro-batch row gets a
    boolean "this key existed before the stream started".

    This is the streaming half of cross-corpus dedup at 100 TB: the
    historical side (billions of keys) ships to every executor as a
    fixed-size literal bitmap inside ONE parsed expression — zero state,
    zero watermark, zero stream-side shuffle, identical plan in batch and
    stream (so the batch twin is the oracle).  One-sided error matches
    the dedup use: a true "never seen" can read as seen (FP rate set by
    the bitmap size), but history can never be missed — rows flagged
    False are SAFE to treat as new."""
    from lvm_datapipe_spark.operators.bloom import bloom_might_contain

    return events.withColumn(
        out_col, bloom_might_contain(bitmap, key_sql, n_hashes)
    )


def start_running_totals(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key: str = "user_id",
    val: str = "value",
):
    """Streaming running totals merged into an EXTERNAL parquet store —
    the pattern for unbounded-key stateful aggregation (per-user lifetime
    value over millions of users) where the state-store would grow
    without bound and complete-mode would rewrite everything per batch.

    Each micro-batch pre-aggregates map-side (exact DECIMAL partials),
    unions with the current store, re-aggregates, and swaps the store via
    the rename-aside protocol (sinks.compact_dir discipline): write to a
    temp dir, move the old store aside, move the new one in, drop the
    old — a crash at any step leaves a readable store.  The decimal
    accumulator makes the merge ASSOCIATIVE-EXACT: any batch arrival
    order produces bit-identical totals, so the batch twin is the
    oracle.  NOTE: per-key totals written before a crash and replayed
    re-merge idempotently only because each batch REPLACES the whole
    aggregate (union + re-aggregate), never increments in place."""
    import os
    import shutil

    from pyspark.sql import functions as F

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        dec = F.col(val).cast("decimal(27,6)")
        inc = batch_df.groupBy(key).agg(F.sum(dec).alias("_t"))
        if os.path.isdir(path):
            cur = spark.read.parquet(path).select(
                key, F.col("total").cast("decimal(27,6)").alias("_t")
            )
            inc = inc.unionByName(cur).groupBy(key).agg(F.sum("_t").alias("_t"))
        out = inc.select(key, F.col("_t").cast("decimal(27,6)").alias("total"))
        tmp, old = path + "__next", path + "__old"
        out.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.isdir(old):
            shutil.rmtree(old)

    return (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def windowed_distinct_users(
    events: DataFrame,
    window: str = "6 hours",
    slide: str = "1 hour",
    watermark: str | None = "2 hours",
    lg_k: int = 12,
) -> DataFrame:
    """Approximate distinct users per sliding window, streaming-safe.

    Exact COUNT(DISTINCT) is not supported in streaming aggregations
    (unbounded per-window state); the mergeable-sketch path is: each
    window's HLL absorbs users register-wise, state per window is one
    KB-sized sketch, and late rows fold in commutatively.  Because HLL
    register updates are order-independent MAXes, the ESTIMATE is a
    deterministic function of the window's user SET — so the batch form
    (watermark=None) produces bit-equal results and serves as the twin
    for the stream≡batch property test, the same contract as
    ``windowed_counts``.  The batch-side exact oracle for the same
    question is ``events_sliding_distinct_users``; the batch sketch
    rollup is ``aggregates.hll_partials``/``hll_merge``."""
    src = (
        ensure_event_time(events).withWatermark("ts", watermark)
        if watermark
        else events
    )
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(lg_k))
            ).alias("approx_users")
        )
        .select(F.col("w.start").alias("window_start"), "approx_users")
    )


RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.DoubleType()),
        T.StructField("last_ms", T.LongType()),
    ]
)
RATE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("allowed", T.BooleanType()),
    ]
)


def rate_limit_stream(
    events: DataFrame,
    capacity: float = 5.0,
    refill_per_s: float = 0.01,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-key EVENT-TIME token bucket — ingest quota enforcement as a
    custom stateful operator (``applyInPandasWithState``, the same live
    API as :func:`sessionize_stream`).

    Each key holds a bucket of ``capacity`` tokens refilling at
    ``refill_per_s`` tokens per EVENT-TIME second; an event is marked
    ``allowed`` iff a full token is available (and consumes it) — the
    deterministic classic algorithm, driven by the event's own
    timestamps rather than processing time so that replaying the same
    data yields the SAME decisions (processing-time limiters are
    non-reproducible by construction, useless for a data pipeline that
    must be re-runnable).  Within a micro-batch, events sort by
    (ts, event_id) — a total order — so decisions are independent of
    arrival interleaving; state per key is two scalars.  Emits EVERY
    event with its decision (callers filter or route on ``allowed``;
    dropping silently would hide the quota's effect from audits).

    The batch twin — the same fold over the whole history in one pass —
    is what the stream must converge to, property-tested like every
    streaming operator here.  Convergence holds when arrival respects
    event-time order ACROSS micro-batches (within a batch any
    interleaving is fine — the sort normalizes it); a late row under
    the watermark is decided against the bucket state as of its
    arrival, not retroactively (same contract as every real quota
    system — exact retroactive decisions would need the event-buffering
    pattern of the tws sessionizer).

    State is BOUNDED: a key idle for capacity/refill_per_s event-time
    seconds has provably refilled to capacity, which is exactly the
    fresh-key state — so its row is evicted on an event-time timeout at
    that horizon with zero effect on any future decision (the
    deduplicate_events lesson: unbounded keyed state is a guaranteed
    OOM on a long-running stream)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    full_after_ms = int(capacity / refill_per_s * 1000) + 1

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            # idle long enough that the bucket is provably full again ==
            # fresh state; dropping the row changes no future decision
            state.remove()
            return
        rows = []
        for pdf in pdf_iter:
            for eid, ts in zip(pdf["event_id"], pd.to_datetime(pdf["ts"])):
                rows.append((int(eid), ts.to_pydatetime()))
        rows.sort(key=lambda r: (r[1], r[0]))
        if state.exists:
            tokens, last_ms = state.get
        else:
            tokens, last_ms = float(capacity), None
        out = []
        for eid, ts in rows:
            ms = int(ts.timestamp() * 1000)
            if last_ms is not None and ms > last_ms:
                tokens = min(
                    float(capacity), tokens + (ms - last_ms) / 1000.0 * refill_per_s
                )
            last_ms = ms if last_ms is None else max(last_ms, ms)
            if tokens >= 1.0:
                tokens -= 1.0
                out.append((user_id, eid, ts, True))
            else:
                out.append((user_id, eid, ts, False))
        state.update((tokens, last_ms if last_ms is not None else 0))
        if last_ms is not None:
            state.setTimeoutTimestamp(
                max(last_ms + full_after_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts", "allowed"]
            )

    return (
        ensure_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def watermark_drop_audit(
    events: DataFrame,
    key_col: str = "event_type",
    tsec_col: str = "tsec",
    order_cols: tuple[str, ...] = ("arr", "event_id"),
    delays: tuple[int, ...] = (0, 60, 600, 3600),
) -> DataFrame:
    """Batch watermark-tuning audit (the core of the declared
    ``events_watermark_drop_audit`` query): replay each stream partition
    (``key_col``) in ARRIVAL order (``order_cols`` — a data-driven total
    order, e.g. an ingest sequence number), track the running event-time
    high-water mark, and for each candidate ``delay`` report how many
    events arrive later than ``high_water - delay`` — i.e. would be
    dropped by a stateful streaming operator watermarked at that delay.

    Arrival order comes from DATA, not from any synthetic expression, so
    the audit semantics are testable with shuffled-arrival fixtures
    independent of how a caller derives the order (the declared query
    passes a deterministic producer-jitter order; the pytest fixture
    passes an explicitly scrambled ingest sequence).

    Scale shape: one keyed running-max window (parallelism = partition
    count, O(1) state per key — the same sequential cost the streaming
    job itself pays), a literal delay-grid explode, one keyed aggregate.
    All integer arithmetic (epoch seconds, ppm via integer division)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    a = events.select(
        key_col,
        tsec_col,
        F.max(tsec_col).over(w).alias("high_water"),
    )
    lat = a.select(
        key_col, (F.col("high_water") - F.col(tsec_col)).alias("late_s")
    )
    d = lat.select(
        key_col,
        "late_s",
        F.explode(F.array(*[F.lit(int(x)) for x in delays])).alias("delay_s"),
    )
    return (
        d.groupBy(key_col, "delay_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("late_s") > F.col("delay_s"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
        .select(
            key_col,
            F.col("delay_s").cast("long").alias("delay_s"),
            "n_events",
            "n_dropped",
            F.expr("n_dropped * 1000000 DIV n_events").alias("drop_ppm"),
            "max_late_s",
        )
    )

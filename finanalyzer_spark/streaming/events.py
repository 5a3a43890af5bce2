"""Structured Streaming operators over the `events` table.

Each aggregation here is the streaming twin of a batch query in
plans/eventsops.py — identical groupBy logic, plus watermarks for
bounded state. In tests the parquet fixture drives the stream
(maxFilesPerTrigger-style micro-batches) through a memory sink via
`run_to_completion`.

Scale notes: watermarks bound the state store (without one, a windowed
agg keeps every window forever); `dropDuplicates` within the watermark
is how the reference's post-hoc redundancy delete becomes an online
operator. Real deployments swap the file source for Kafka and the
memory sink for a Delta/parquet sink with checkpointing — the
transformation graph is identical.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _ts_parquet_unit(path: str) -> str | None:
    """Read the `ts` column's timestamp unit ('us', 'ns', ...) straight
    from the parquet footer; None for a plain int64 column (treated as
    raw nanoseconds, the pre-normalization layout).

    The streaming source must declare its schema up front (no inference
    on readStream), and a wrong unit silently shifts every event by
    1000x — so the unit is taken from the file itself, never hardcoded,
    and a fixture regeneration (ns <-> us) cannot break the family.
    """
    import pyarrow.parquet as pq

    file = path
    if os.path.isdir(path):
        # Unit is inferred from the first file; one unit per directory is
        # an invariant of the fixture layout (a mixed-unit dir would need
        # per-file schemas, which the file stream source can't declare).
        file = None
        for entry in sorted(os.listdir(path)):
            if entry.endswith(".parquet"):
                file = os.path.join(path, entry)
                break
        if file is None:
            raise FileNotFoundError(
                f"no *.parquet files under {path!r}: cannot determine the ts "
                "timestamp unit (an empty streaming source dir must be "
                "seeded with at least one file before the stream starts)"
            )
    return getattr(pq.ParquetFile(file).schema_arrow.field("ts").type, "unit", None)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (fixture driver).

    One file per micro-batch keeps the test deterministic; a production
    source (Kafka, rate, Delta CDF) plugs in here unchanged.

    The `ts` unit is footer-driven (see _ts_parquet_unit): microsecond
    fixtures stream as TIMESTAMP_NTZ exactly like the batch catalog
    reads them; nanosecond fixtures go through the nanosAsLong legacy
    conf (Spark's parquet reader rejects TIMESTAMP(NANOS)) and an
    integer div to microseconds, matching catalog._normalize.
    """
    unit = _ts_parquet_unit(path)
    if os.path.isfile(path):
        # the file source only monitors directories; stage a single-file
        # fixture behind a symlink dir (read-only testdata stays untouched)
        staged = tempfile.mkdtemp(prefix="evstream_")
        os.symlink(path, os.path.join(staged, os.path.basename(path)))
        path = staged
    if unit == "us":
        raw = (
            spark.readStream.schema(_events_schema(T.TimestampNTZType()))
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        # Watermarks demand TIMESTAMP_LTZ; with the session pinned to
        # UTC (session.tune) the NTZ->LTZ cast is value-preserving, so
        # stream and batch agree on every window boundary. The cast
        # names timestamp_ltz explicitly (not "timestamp") so an
        # external session's spark.sql.timestampType conf can't turn
        # it into a no-op.
        return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    # 'ns' (or a raw int64 ts): read as long nanos, truncate to micros.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(_events_schema(T.LongType()))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def streaming_tumbling_counts(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windowed counts/sums with watermarked state."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def streaming_sliding_sums(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Sliding 1-hour windows every 30 minutes."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", lateness: str = "1 hour"
) -> DataFrame:
    """Per-user session windows (gap-based) — the streaming form of
    plans/eventsops.session_windows."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_ohlc(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Hourly OHLC bars per user over the stream — the online twin of
    plans/eventsops.ohlc_downsample. Open/close pick the first/last
    value by (ts, event_id) via min_by/max_by with a struct ordering
    key (order-insensitive declarative aggregates — micro-batch
    arrival order never matters); the watermark bounds per-(user,
    window) state exactly as for any windowed agg."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("vol"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "vol",
        )
    )


def streaming_dedup(events: DataFrame, lateness: str = "1 day") -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids arriving
    within the watermark — the online form of the reference's post-load
    redundancy delete (redundancy.sql) with its lateness tolerance
    (today-or-yesterday, findatabase.py:217 → 1-day watermark)."""
    return events.withWatermark("ts", lateness).dropDuplicates(["event_id"])


def run_to_completion(
    stream_df: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame over a finite source to completion
    through a memory sink; return the materialized result as a batch
    DataFrame. Test harness only."""
    name = f"out_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


def streaming_enrich_with_dim(
    events: DataFrame, dim: DataFrame, on_left: str = "user_id",
    on_right: str = "c_custkey",
) -> DataFrame:
    """Stream-static join: enrich the event stream with a slowly-
    changing dimension (here customer segment keyed by user id). The
    static side is broadcast per micro-batch — no shuffle of the
    stream, no state store; the static snapshot is re-resolved each
    batch, so dimension updates flow in automatically."""
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "left"
    ).drop(on_right)


def _read_once(merge):
    """foreachBatch writer around `merge(batch, batch_id)` that persists
    the micro-batch for the merge's duration. A keyed merge uses the
    incoming rows twice (left-anti join + union), and each use of an
    unpersisted micro-batch re-runs the source — twice the fetch, and
    twice the rows in the query's `numInputRows`. The cache is dropped
    after every trigger, so it never outlives its batch."""

    def write(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            merge(batch, batch_id)
        finally:
            batch.unpersist()

    return write


def foreach_batch_merge(target_dir: str, keys: list[str]):
    """ForeachBatch sink: idempotent keyed upsert of each micro-batch
    into a parquet target (read → left-anti on keys → union → swap).

    This is the reference's post-load redundancy delete
    (redundancy.sql) turned into an online MERGE: re-delivered rows
    (at-least-once sources, restarts) replace rather than duplicate.
    Plain parquet makes the rewrite full-table (fine for a test
    harness and small dims); at 100 TB the target is Delta/Iceberg and
    `merge_into` becomes a metadata-only `MERGE INTO` on the same keys
    — the streaming graph above it is unchanged.
    """
    from ..pipeline.merge import merge_into

    return _read_once(
        lambda batch, batch_id: merge_into(
            batch.sparkSession, target_dir, batch, keys
        )
    )


def foreach_batch_versioned_merge(table, keys: list[str]):
    """ForeachBatch sink over a VersionedTable: every micro-batch
    commits a new snapshot via the keyed merge, so the streaming write
    gets MVCC for free — readers pinned to any snapshot are never
    disturbed by the next trigger, history is time-travelable until
    vacuum, and replayed batches produce identical row sets (as fresh
    versions). The upgrade path from foreach_batch_merge when
    downstream consumers read WHILE the stream runs."""
    # batch_id is the engine's monotone epoch — passing it as the txn
    # id makes redelivered batches version-level no-ops
    return _read_once(
        lambda batch, batch_id: table.merge(batch, keys, txn_id=batch_id)
    )


def streaming_view_click_join(
    views: DataFrame, clicks: DataFrame, within: str = "30 minutes",
    lateness: str = "1 hour", how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each view joins the same user's clicks
    landing within `within` after it. Both sides are watermarked and
    the join condition time-bounds both event times, so the state store
    evicts rows once they can no longer match — bounded state, the
    requirement for an unbounded two-stream join.

    `how="left_outer"` preserves unmatched views: their null-click rows
    emit only once the watermark passes view_ts + `within` (no earlier
    — a match could still arrive), which is why outer stream-stream
    joins REQUIRE the time-bound condition Spark enforces. Rows still
    open when the stream stops never emit; an eval comparing against a
    batch join must restrict to watermark-closable views.

    Output: (user_id, view_id, click_id, view_ts, click_ts)."""
    v = (
        views.withWatermark("ts", lateness)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", lateness)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
        how,
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
    )


def cms_counter_increments(events: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """(row, bucket) increment stream for a count-min sketch over
    user_id — shared by the batch and streaming twins below."""
    from ..plans.sketches import cms_bucket

    return events.select(
        F.posexplode(
            F.array(
                *[cms_bucket(F.col("user_id"), i, w) for i in range(d)]
            )
        ).alias("i", "b")
    )


def streaming_cms_counters(events: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """INCREMENTAL count-min sketch maintenance: the counter matrix is
    a plain streaming groupBy count over the (row, bucket) increment
    stream — CMS counters are additive, so micro-batch updates compose
    exactly (the same mergeability that makes the sketch
    groupBy-reducible in batch makes it update-mode maintainable in
    streaming; state is bounded at d*w rows FOREVER, the ideal
    streaming-aggregate shape: no watermark needed, no state
    eviction).

    Batch twin: the same increments aggregated in one pass — the test
    asserts final stream state == batch counters row-for-row."""
    return cms_counter_increments(events, d, w).groupBy("i", "b").count()


def drift_bin_increments(
    events: DataFrame,
    type_a: str = "purchase",
    type_b: str = "view",
    lo: float = 0.0,
    hi: float = 100.0,
    bins: int = 64,
) -> DataFrame:
    """(bucket, in_a, in_b) increment stream for the binned drift
    monitor — shared by the batch and streaming twins. Bin edges are
    FIXED [lo, hi) reference bounds (how a production monitor bins:
    against the training-time reference range, so bucket assignment
    never depends on data seen so far); values outside clamp to the
    edge bins. Pure codegen arithmetic, identical in both paths."""
    x = F.col("value")
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((x - F.lit(lo)) * bins / F.lit(hi - lo)).cast("int"),
        ),
    )
    return events.where(F.col("event_type").isin(type_a, type_b)).select(
        bucket.alias("bucket"),
        (F.col("event_type") == type_a).cast("long").alias("in_a"),
        (F.col("event_type") == type_b).cast("long").alias("in_b"),
    )


def streaming_drift_bins(
    events: DataFrame,
    type_a: str = "purchase",
    type_b: str = "view",
    lo: float = 0.0,
    hi: float = 100.0,
    bins: int = 64,
) -> DataFrame:
    """INCREMENTAL drift-monitor state: per-bucket counts of the two
    populations as a plain streaming groupBy sum over the increment
    stream — binned counts are additive, so micro-batch updates
    compose exactly and state is bounded at `bins` rows FOREVER (the
    CMS shape: no watermark, no eviction). KS / PSI / W1 then read off
    the final ≤`bins`-row table with the same integer CDF algebra as
    the batch queries (plans/profile.binned_ks_drift) — the monitor
    never rescans history to re-score drift.

    Batch twin: the same increments aggregated in one pass — the test
    asserts final stream state == batch bins row-for-row, and the KS
    computed from the streamed state equals the batch KS exactly."""
    return (
        drift_bin_increments(events, type_a, type_b, lo, hi, bins)
        .groupBy("bucket")
        .agg(F.sum("in_a").alias("a"), F.sum("in_b").alias("b"))
    )

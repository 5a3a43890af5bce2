"""finanalyzer's three ETL entry points as idempotent Spark jobs.

Reference lifecycle (SURVEY.md §3):
* initialize_database(fill) — DDL + registry bootstrap
  (findatabase.py:79-91)
* update_database() — per-key incremental refresh with freshness
  branches, retention, dedup (findatabase.py:203-232)
* fill_all_data() — full reload (findatabase.py:181-201)

Spark redesign: the N+1 per-ticker loop collapses into ONE plan —
  names ⟕ history.groupBy(id).agg(max(date))  → fetch ranges
  → mapInPandas parallel fetch → append → dedup → retention filter.

Quirk semantics preserved exactly (SURVEY §5 item 2):
* surrogate ids are 1-based CSV-positional (findatabase.py:158) —
  row_number over the seed order, never monotonically_increasing_id;
* freshness: skip refresh if last date is today OR yesterday
  (findatabase.py:217 — market-closed tolerance);
* retention: drop rows with date_added older than 10 years
  (findatabase.py:230, constants.py:1);
* dedup keeps one arbitrary row per (date_value, names_id) — we keep a
  DETERMINISTIC one (latest by date_added then close) and tests assert
  key-uniqueness, not survivor identity (redundancy.sql is unordered).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_by_key
from ..operators.ids import positional_ids
from ..sources.csvseed import read_tickers_csv
from ..sources.fetcher import FakeFeed, fetch_history, fetch_info
from .merge import merge_into, overwrite_atomic

MAX_DATA_HISTORY_YEARS = 10  # reference constants.py:1
RETENTION_DAYS = 3650  # findatabase.py:50: 365 * years


class FinStore:
    """Parquet-backed store for the three reference tables.

    The storage seam of the whole pipeline: every job goes through
    read / write / overwrite_atomic / merge / merge_sink, so swapping
    the backend (VersionedFinStore below; Delta in production) is a
    constructor change, never a job change."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        import glob

        return bool(glob.glob(os.path.join(self.path(table), "*.parquet"))) or bool(
            glob.glob(os.path.join(self.path(table), "*/*.parquet"))
        )

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(table))

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        df.write.mode(mode).parquet(self.path(table))

    def overwrite_atomic(self, df: DataFrame, table: str) -> None:
        """Stage-and-swap overwrite — safe even when `df` reads the
        same table (see pipeline.merge; Delta backend drop-in seam)."""
        overwrite_atomic(df, self.path(table))

    def merge(
        self,
        table: str,
        source: DataFrame,
        keys: list[str],
        order_by: list | None = None,
        retain=None,
    ) -> DataFrame:
        """Keyed upsert into `table` (pipeline.merge.merge_into
        semantics). Returns the post-merge table."""
        return merge_into(
            self.spark, self.path(table), source, keys,
            order_by=order_by, retain=retain,
        )

    def merge_sink(self, table: str, keys: list[str]):
        """foreachBatch writer performing the idempotent keyed merge
        per micro-batch — the streaming face of merge()."""
        from ..streaming.events import foreach_batch_merge

        return foreach_batch_merge(self.path(table), keys)


class VersionedFinStore(FinStore):
    """FinStore on the MVCC snapshot store: every overwrite/merge is a
    snapshot commit, so pipeline readers are never disturbed by a
    concurrent refresh, any pre-refresh state is time-travelable until
    vacuum, and the streaming sink is transactionally idempotent by
    epoch. Same jobs, same tests — only the backend differs (the
    promise the Delta seam makes, demonstrated end to end)."""

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        from .versioned import VersionedTable

        self._tables: dict[str, VersionedTable] = {}
        self._VersionedTable = VersionedTable

    def table(self, name: str):
        if name not in self._tables:
            self._tables[name] = self._VersionedTable(
                self.spark, self.path(name)
            )
        return self._tables[name]

    def exists(self, table: str) -> bool:
        return self.table(table).current_version() > 0

    def read(self, table: str) -> DataFrame:
        return self.table(table).read()

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        self.table(table).commit(df)

    def overwrite_atomic(self, df: DataFrame, table: str) -> None:
        self.table(table).commit(df)

    def merge(
        self,
        table: str,
        source: DataFrame,
        keys: list[str],
        order_by: list | None = None,
        retain=None,
    ) -> DataFrame:
        t = self.table(table)
        t.merge(source, keys, order_by=order_by, retain=retain)
        return t.read()

    def merge_sink(self, table: str, keys: list[str]):
        from ..streaming.events import foreach_batch_versioned_merge

        return foreach_batch_versioned_merge(self.table(table), keys)


def bootstrap_registry(store: FinStore, tickers_csv: str) -> DataFrame:
    """initialize_database + set_database_names (findatabase.py:79-91,
    147-161): CSV seed → left-anti against existing registry → append
    with 1-based positional surrogate ids.

    The reference probes each ticker with a per-row SELECT then INSERTs
    one at a time; here it's one anti-join and one append."""
    seed = read_tickers_csv(store.spark, tickers_csv).select(
        F.col("Ticker").alias("ticker"),
        F.col("Name").alias("name"),
        F.col("Exchange").alias("exchange"),
    )
    if store.exists("names"):
        existing = store.read("names")
        new = seed.join(existing, "ticker", "left_anti")
        base = existing.select("id", "ticker", "name", "exchange")
        offset = existing.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m")).collect()[
            0
        ]["m"]
    else:
        new = seed
        base = None
        offset = 0
    # deterministic 1-based positional ids without a global window
    appended = positional_ids(new, ["ticker"], id_name="_rid").select(
        (F.col("_rid") + F.lit(offset)).cast("long").alias("id"),
        "ticker",
        "name",
        "exchange",
    )
    out = appended if base is None else base.unionByName(appended)
    if base is None:
        store.write(out, "names")
    else:
        # plain parquet can't overwrite a path its own plan is reading —
        # stage-and-swap via the merge seam (one write, not two)
        store.overwrite_atomic(out, "names")
    return store.read("names")


def _freshness(history: DataFrame, names: DataFrame, today: dt.date) -> DataFrame:
    """names ⟕ per-key max(date_value): one aggregation replaces the
    reference's per-id check_last_update loop (findatabase.py:209-229).
    Adds fetch range [start_date, end_date] per the branch semantics."""
    last = history.groupBy("names_id").agg(F.max("date_value").alias("last_date"))
    today_lit = F.lit(today.isoformat()).cast("date")
    ten_years_ago = F.date_sub(today_lit, RETENTION_DAYS)
    joined = names.join(last, names.id == last.names_id, "left")
    return joined.select(
        "id",
        "ticker",
        "last_date",
        F.when(F.col("last_date").isNull(), ten_years_ago)
        .otherwise(F.date_add(F.col("last_date"), 1))
        .alias("start_date"),
        today_lit.alias("end_date"),
        # fresh = last date is today or yesterday (findatabase.py:217)
        (
            F.col("last_date").isNotNull()
            & (F.datediff(today_lit, F.col("last_date")) <= 1)
        ).alias("is_fresh"),
    )


def update_history(
    store: FinStore,
    today: dt.date,
    feed: FakeFeed | None = None,
) -> DataFrame:
    """update_database (findatabase.py:203-232) as one idempotent job:
    stale-key fetch → append → dedup → retention. Returns the new
    history DataFrame."""
    names = store.read("names")
    history = (
        store.read("history")
        if store.exists("history")
        else store.spark.createDataFrame(
            [],
            "names_id long, date_value date, date_added date, open double, "
            "high double, low double, close double",
        )
    )
    plan = _freshness(history, names, today)
    tasks = plan.where(~F.col("is_fresh")).select(
        "ticker",
        F.col("start_date").cast("string"),
        F.col("end_date").cast("string"),
    )
    fetched = fetch_history(tasks, feed)
    incoming = (
        fetched.join(F.broadcast(names.select("id", "ticker")), "ticker")
        .select(
            F.col("id").alias("names_id"),
            F.col("date_value").cast("date"),
            F.lit(today.isoformat()).cast("date").alias("date_added"),
            "open",
            "high",
            "low",
            "close",
        )
    )
    # Keyed upsert + fused retention through the merge seam: incoming
    # rows replace matched (names_id, date_value) keys, within-batch
    # duplicates resolve deterministically, and rows outside the 10-y
    # window drop in the same rewrite. On a Delta backend this whole
    # call is MERGE INTO + DELETE WHERE, metadata-only.
    if not store.exists("history"):
        incoming = history.unionByName(incoming)  # preserve declared schema
    return store.merge(
        "history",
        incoming,
        ["names_id", "date_value"],
        order_by=[F.col("date_added").desc(), F.col("close").desc()],
        retain=F.col("date_added")
        >= F.date_sub(F.lit(today.isoformat()).cast("date"), RETENTION_DAYS),
    )


def stream_update_history(
    store: FinStore,
    start: dt.date,
    end: dt.date,
    days_per_batch: int = 1,
    checkpoint_dir: str | None = None,
    wait_secs: float = 0.0,
) -> DataFrame:
    """update_database as a CONTINUOUS job: the feed's streaming reader
    (sources/feed_datasource.FeedStreamReader — calendar-day offsets,
    the reference's per-key incremental cursor made checkpointable)
    joins the broadcast registry for surrogate ids and upserts every
    micro-batch through the same merge seam the batch job uses.

    Exactly-once end to end: the engine's offset log decides which days
    each micro-batch covers, the feed is a pure function of
    (ticker, day), and foreach_batch_merge is an idempotent keyed
    upsert — a replayed batch replaces rather than duplicates. The
    batch `update_history` and this stream land identical rows for the
    same range (tests/test_pipeline.py proves it); the reference's
    daily cron (findatabase.py:62) becomes a trigger cadence.

    `date_added` is the ingest day (= `end`, 'today' at stream setup),
    matching the batch job's bookkeeping column.  `wait_secs` forwards
    the reference's WAIT_TIME_BETWEEN_REQUESTS throttle to the feed
    reader — each micro-batch's per-ticker fetch sleeps that long
    before its request (rate-limited ingest, executor-side). The feed
    groups the tickers into at most `defaultParallelism` partitions, so
    a trigger runs one fetch task per core, not one per ticker."""
    from ..sources.feed_datasource import FeedDataSource

    store.spark.dataSource.register(FeedDataSource)
    names = store.read("names")
    tickers = ",".join(r["ticker"] for r in names.select("ticker").collect())
    stream = (
        store.spark.readStream.format("fake_feed")
        .option("tickers", tickers)
        .option("start", start.isoformat())
        .option("end", end.isoformat())
        .option("days_per_batch", str(days_per_batch))
        .option("wait_secs", str(wait_secs))
        .option("numPartitions", str(store.spark.sparkContext.defaultParallelism))
        .load()
    )
    incoming = stream.join(
        F.broadcast(names.select("id", "ticker")), "ticker"
    ).select(
        F.col("id").alias("names_id"),
        F.col("date_value").cast("date"),
        F.lit(end.isoformat()).cast("date").alias("date_added"),
        "open",
        "high",
        "low",
        "close",
    )
    writer = incoming.writeStream.foreachBatch(
        store.merge_sink("history", ["names_id", "date_value"])
    ).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read("history")


def fill_all_history(
    store: FinStore, today: dt.date, feed: FakeFeed | None = None
) -> DataFrame:
    """fill_all_data (findatabase.py:181-201): truncate + full 10-year
    fetch for every registered ticker."""
    names = store.read("names")
    start = today - dt.timedelta(days=RETENTION_DAYS)
    tasks = names.select(
        "ticker",
        F.lit(start.isoformat()).alias("start_date"),
        F.lit(today.isoformat()).alias("end_date"),
    )
    fetched = fetch_history(tasks, feed)
    incoming = (
        fetched.join(F.broadcast(names.select("id", "ticker")), "ticker")
        .select(
            F.col("id").alias("names_id"),
            F.col("date_value").cast("date"),
            F.lit(today.isoformat()).cast("date").alias("date_added"),
            "open",
            "high",
            "low",
            "close",
        )
    )
    deduped = dedup_by_key(
        incoming,
        ["names_id", "date_value"],
        [F.col("date_added").desc(), F.col("close").desc()],
    )
    store.write(deduped, "history")
    return store.read("history")


def update_fundamentals(
    store: FinStore,
    today: dt.date,
    feed: FakeFeed | None = None,
) -> DataFrame:
    """Fundamentals refresh (insert_info_from_web branch of
    update_database, findatabase.py:225-227): unlike history, info is
    stale unless its last snapshot is EXACTLY today (no yesterday
    tolerance). One anti-join finds stale tickers; one mapInPandas
    fetch pulls their snapshots; null→0 coercion happens in the kernel
    (dataAcquisition.py:59-66)."""
    names = store.read("names")
    if store.exists("fundamentals"):
        info = store.read("fundamentals")
        fresh_ids = info.where(
            F.col("date_value") == F.lit(today.isoformat()).cast("date")
        ).select("names_id")
        stale = names.join(
            fresh_ids, names.id == fresh_ids.names_id, "left_anti"
        )
    else:
        stale = names
    tasks = stale.select("ticker", F.lit(today.isoformat()).alias("as_of"))
    fetched = fetch_info(tasks, feed)
    incoming = fetched.join(
        F.broadcast(names.select("id", "ticker")), "ticker"
    ).select(
        F.col("id").alias("names_id"),
        F.col("date_value").cast("date"),
        *[c for c in fetched.columns if c not in ("ticker", "date_value")],
    )
    # same merge seam as update_history: keyed upsert, arbitrary
    # within-batch survivor (reference redundancy.sql semantics —
    # the stale anti-join guarantees no key overlap with the base)
    return store.merge("fundamentals", incoming, ["names_id", "date_value"])


def latest_fundamentals_asof(
    history: DataFrame, fundamentals: DataFrame
) -> DataFrame:
    """As-of join: each (names_id, date_value) price row gets the most
    recent fundamentals snapshot at or before that date — the analytic
    join the reference's schema implies but never writes (SURVEY §2.3).
    Implemented as union + last(ignorenulls) over a time window
    (operators/joins.asof_join is the generic range form)."""
    from ..operators.joins import asof_join

    return asof_join(
        history.select("names_id", "date_value", "close"),
        fundamentals.select("names_id", "date_value", "currentPrice", "marketCap"),
        on="names_id",
        ts="date_value",
    )

"""External feed as a first-class Python DataSource (S2).

`sources/fetcher.fetch_history` maps fetch *tasks* through
`mapInPandas`; this module exposes the same feed through Spark's
Python DataSource API (Spark 4+) so it composes as a reader:

    spark.dataSource.register(FeedDataSource)
    spark.read.format("fake_feed")
         .option("tickers", "AAPL,MSFT")
         .option("start", "2026-08-01").option("end", "2026-08-05")
         .load()

Tickers are grouped into at most `numPartitions` InputPartitions
(the option name and meaning follow Spark's JDBC source); without the
option every ticker gets its own partition. Each executor fetches its
group's tickers one after another — the reference's serial per-ticker
loop with proxy rotation (dataAcquisition.py:36-51 /
findatabase.py:128-133), parallelized across groups. A caller sizes the
option from its session (`stream_update_history` passes
`defaultParallelism`): the DataSource API gives `partitions()` no
session to ask, and one tiny Python task per ticker costs more in task
launch than the fetch itself. Rate limiting sits inside `read`: the
`wait_secs` option sleeps before each per-ticker feed request — the
reference's WAIT_TIME_BETWEEN_REQUESTS (constants.py:2) applied per
executor-side fetch, so however the tickers are grouped the per-request
budget the upstream API expects is still honored. Filters on
ticker/date could prune partitions at planning time; kept minimal here
since the fixture feed is cheap.
"""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from .fetcher import FakeFeed

FEED_SCHEMA = (
    "ticker string, date_value string, open double, high double, "
    "low double, close double"
)


def _feed_options(options: dict) -> tuple[list[str], str, str, float, int | None]:
    """(tickers, start, end, wait_secs, numPartitions) — the options
    both readers share."""
    tickers = [t.strip() for t in options.get("tickers", "").split(",") if t.strip()]
    if not tickers:
        raise ValueError("fake_feed requires option 'tickers' (csv list)")
    start, end = options.get("start"), options.get("end")
    if not (start and end):
        raise ValueError("fake_feed requires options 'start' and 'end'")
    num_partitions = options.get("numPartitions")
    if num_partitions is not None:
        num_partitions = int(num_partitions)
        if num_partitions < 1:
            raise ValueError("fake_feed option 'numPartitions' must be >= 1")
    return tickers, start, end, float(options.get("wait_secs", "0")), num_partitions


def _plan_partitions(
    tickers: list[str], num_partitions: int | None, lo: str, hi: str
) -> list[InputPartition]:
    """Contiguous, near-equal ticker groups over the inclusive day range
    [lo, hi]: at most `num_partitions` of them, one per ticker when it
    is None."""
    n = len(tickers) if num_partitions is None else min(num_partitions, len(tickers))
    bounds = [i * len(tickers) // n for i in range(n + 1)]
    return [
        InputPartition((tuple(tickers[a:b]), lo, hi))
        for a, b in zip(bounds, bounds[1:])
    ]


def _read_partition(partition: InputPartition, wait_secs: float):
    tickers, lo, hi = partition.value
    lo, hi = dt.date.fromisoformat(lo), dt.date.fromisoformat(hi)
    feed = FakeFeed()
    for ticker in tickers:
        if wait_secs:
            time.sleep(wait_secs)  # reference inter-request throttle
        for row in feed.history(ticker, lo, hi).itertuples(index=False):
            yield (
                ticker,
                row.date_value,
                float(row.open),
                float(row.high),
                float(row.low),
                float(row.close),
            )


class FeedDataSource(DataSource):
    """Batch reader over the deterministic FakeFeed; a yfinance-backed
    variant would differ only in the feed constructed inside read().

    Also a STREAMING source (`spark.readStream.format("fake_feed")`):
    the reference's daily-refresh cadence (findatabase.py:62
    "rafraichies chaque jour" + the per-key incremental cursor,
    findatabase.py:211-222) becomes real stream offsets — each
    micro-batch ingests the next `days_per_batch` calendar days for
    every ticker, exactly-once via the engine's offset log."""

    @classmethod
    def name(cls) -> str:
        return "fake_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def reader(self, schema) -> "FeedReader":
        return FeedReader(self.options)

    def streamReader(self, schema) -> "FeedStreamReader":
        return FeedStreamReader(self.options)


class FeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.tickers, self.start, self.end, self.wait_secs, self.num_partitions = (
            _feed_options(options)
        )

    def partitions(self) -> list[InputPartition]:
        return _plan_partitions(
            self.tickers, self.num_partitions, self.start, self.end
        )

    def read(self, partition: InputPartition):
        return _read_partition(partition, self.wait_secs)


class FeedStreamReader(DataSourceStreamReader):
    """Micro-batch stream over the feed: offsets are calendar days.

    Offset = {"next_day": "<iso date>"} — the first day NOT yet
    ingested. Pacing lives in `latestOffset` (the only legal place: a
    `partitions()` that clamps below the engine-chosen end would mark
    skipped days as processed — data loss): a driver-side cursor
    advances at most `days_per_batch` days per trigger, never past
    `end` — `maxFilesPerTrigger`'s analog. `partitions(start, end)`
    covers exactly [start, end) with the batch reader's ticker grouping
    (at most `numPartitions` partitions, one per ticker without it), so
    the fetch fans out across executors the same way. The engine's
    checkpointed offset log replays any batch deterministically — the
    FakeFeed is a pure function of (ticker, day), which is what makes
    replay exactly-once all the way to the sink. After a restart the
    fresh cursor may briefly trail the checkpoint (empty batches, no
    loss) until it catches up via the max() in _bump."""

    def __init__(self, options: dict):
        self.tickers, start, end, self.wait_secs, self.num_partitions = (
            _feed_options(options)
        )
        self.start = dt.date.fromisoformat(start)
        self.end = dt.date.fromisoformat(end)
        # clamp: 0/negative would pin latestOffset forever (a stream
        # that never makes progress and never finishes)
        self.days_per_batch = max(1, int(options.get("days_per_batch", "1")))
        self._cursor: dt.date | None = None

    def _bump(self, day: dt.date) -> None:
        if self._cursor is None or day > self._cursor:
            self._cursor = day

    def initialOffset(self) -> dict:
        return {"next_day": self.start.isoformat()}

    def latestOffset(self) -> dict:
        if self._cursor is None:
            self._cursor = self.start
        nxt = min(
            self._cursor + dt.timedelta(days=self.days_per_batch),
            self.end + dt.timedelta(days=1),  # bounded: end is inclusive
        )
        self._bump(nxt)
        return {"next_day": nxt.isoformat()}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo = dt.date.fromisoformat(start["next_day"])
        hi = dt.date.fromisoformat(end["next_day"])  # exclusive
        self._bump(hi)
        if hi <= lo:
            return []
        return _plan_partitions(
            self.tickers,
            self.num_partitions,
            lo.isoformat(),
            (hi - dt.timedelta(days=1)).isoformat(),
        )

    def read(self, partition: InputPartition):
        return _read_partition(partition, self.wait_secs)

    def commit(self, end: dict) -> None:
        # offsets live in the engine's checkpoint; the feed is
        # stateless — just keep the pacing cursor monotone
        self._bump(dt.date.fromisoformat(end["next_day"]))

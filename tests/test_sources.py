"""Source kernels — CSV seed, parallel fetch (S1-S3) with the
reference's quirk semantics: missing-ticker empty frames
(check_exists, dataAcquisition.py:70-78) and null→0 fundamentals
coercion (dataAcquisition.py:59-66).
"""

from __future__ import annotations

import pytest

from finanalyzer_spark.sources.csvseed import read_tickers_csv
from finanalyzer_spark.sources.fetcher import (
    FUNDAMENTALS,
    FakeFeed,
    fetch_history,
    fetch_info,
)


@pytest.fixture()
def tasks(spark):
    return spark.createDataFrame(
        [
            ("AAPL", "2026-08-01", "2026-08-05"),
            ("MSFT", "2026-08-03", "2026-08-05"),
            ("MISSINGX", "2026-08-01", "2026-08-05"),
        ],
        "ticker string, start_date string, end_date string",
    )


def test_read_tickers_csv(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("Ticker,Name,Exchange\nAAPL,Apple,NASDAQ\n")
    df = read_tickers_csv(spark, str(p))
    assert df.columns == ["Ticker", "Name", "Exchange"]
    assert df.collect()[0]["Ticker"] == "AAPL"


def test_fetch_history_parallel_and_deterministic(spark, tasks):
    out = fetch_history(tasks).collect()
    by_ticker = {}
    for r in out:
        by_ticker.setdefault(r["ticker"], []).append(r)
    assert len(by_ticker["AAPL"]) == 5 and len(by_ticker["MSFT"]) == 3
    assert "MISSINGX" not in by_ticker  # empty feed → no rows
    # deterministic: same (ticker, date) → same price across runs
    again = {
        (r["ticker"], r["date_value"]): r["close"]
        for r in fetch_history(tasks).collect()
    }
    for r in out:
        assert again[(r["ticker"], r["date_value"])] == r["close"]
        assert r["low"] <= min(r["open"], r["close"]) <= max(r["open"], r["close"]) <= r["high"]


def test_fetch_info_null_to_zero(spark):
    tasks = spark.createDataFrame(
        [("AAPL", "2026-08-05")], "ticker string, as_of string"
    )
    row = fetch_info(tasks).collect()[0]
    feed = FakeFeed()
    provided = feed.info("AAPL", __import__("datetime").date(2026, 8, 5))
    absent = [c for c in FUNDAMENTALS if c not in provided]
    assert absent, "fixture should simulate sparse fields"
    for c in absent:
        assert row[c] == 0.0  # null→0 sentinel, never NULL
    for c in provided:
        assert row[c] == pytest.approx(provided[c])


@pytest.mark.parametrize(
    "num_partitions, want_partitions",
    [
        pytest.param(None, 2, id="one_per_ticker"),  # option absent
        pytest.param(1, 1, id="one_partition"),  # both tickers in one
    ],
)
def test_feed_datasource_matches_mapinpandas_fetcher(
    spark, num_partitions, want_partitions
):
    """The DataSource-API reader and the mapInPandas fetcher must
    produce identical rows for the same (tickers, range), however the
    tickers are grouped into partitions."""
    from finanalyzer_spark.sources.feed_datasource import FeedDataSource

    spark.dataSource.register(FeedDataSource)
    reader = (
        spark.read.format("fake_feed")
        .option("tickers", "AAPL,MSFT")
        .option("start", "2026-08-01")
        .option("end", "2026-08-05")
    )
    if num_partitions is not None:
        reader = reader.option("numPartitions", str(num_partitions))
    via_ds = reader.load()
    assert via_ds.rdd.getNumPartitions() == want_partitions
    tasks = spark.createDataFrame(
        [("AAPL", "2026-08-01", "2026-08-05"), ("MSFT", "2026-08-01", "2026-08-05")],
        "ticker string, start_date string, end_date string",
    )
    via_fetch = fetch_history(tasks)
    assert via_ds.exceptAll(via_fetch).count() == 0
    assert via_fetch.exceptAll(via_ds).count() == 0


def test_feed_stream_source_paced_batches_match_batch_read(spark, tmp_path):
    """The streaming face of the feed DataSource: day-paced micro-batch
    offsets must deliver exactly the batch reader's rows for the same
    (tickers, range) — the reference's daily-refresh cursor
    (findatabase.py:211-222) as real, checkpointable stream offsets —
    and pacing must actually split the range into multiple triggers."""
    from finanalyzer_spark.sources.feed_datasource import FeedDataSource

    spark.dataSource.register(FeedDataSource)
    opts = {"tickers": "AAPL,MSFT", "start": "2026-08-01", "end": "2026-08-06"}
    stream = (
        spark.readStream.format("fake_feed")
        .options(**opts, days_per_batch="2")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("feed_stream_rows")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
    finally:
        q.stop()

    got = spark.table("feed_stream_rows")
    want = spark.read.format("fake_feed").options(**opts).load()
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # 6 days at 2 days/trigger -> exactly 3 data-bearing micro-batches
    assert len(data_batches) == 3
    assert {p["numInputRows"] for p in data_batches} == {4}  # 2 tickers × 2 days
    # and every day arrived exactly once
    days = [r["date_value"] for r in got.select("date_value").collect()]
    assert len(days) == 12 and len(set(days)) == 6


def test_jsonl_round_trip_and_convert(spark, tmp_path):
    """JSONL write → schema-declared read → identical rows; corrupt
    lines land in _corrupt_record instead of failing the scan."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from finanalyzer_spark.catalog import load
    from finanalyzer_spark.sources.textual import (
        jsonl_to_parquet,
        read_jsonl,
        write_jsonl,
    )

    from .conftest import SF_DIR

    docs = load(spark, SF_DIR).documents
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)

    schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in docs.schema.fields]
    )
    back = read_jsonl(spark, path, schema).select(*docs.columns)
    assert back.schema == docs.select(*docs.columns).schema
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0

    pq = str(tmp_path / "docs_pq")
    jsonl_to_parquet(spark, path, pq, schema)
    assert spark.read.parquet(pq).count() == docs.count()


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC round-trip preserves rows; the read plan pushes filters to
    the ORC scan like parquet."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from finanalyzer_spark.catalog import load
    from finanalyzer_spark.sources.textual import read_orc, write_orc

    from .conftest import SF_DIR

    orders = load(spark, SF_DIR).orders
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.count() == orders.count()

    plan_df = back.where(F.col("o_totalprice") > 300000).select("o_orderkey")
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_totalprice" in plan


def test_read_evolved_merges_widened_schema(spark, tmp_path):
    """Schema evolution on the wide-snapshot table: a later batch adds
    a fundamentals column; the merged read sees the union schema with
    nulls for pre-widening rows, and filters on the new column still
    push down to the scan."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from finanalyzer_spark.sources.parquet import read_evolved

    path = str(tmp_path / "fund")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "names_id long, marketCap double"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(3, 30.0, 1.5)], "names_id long, marketCap double, pegRatio double"
    ).write.mode("append").parquet(path)

    df = read_evolved(spark, path)
    assert set(df.columns) == {"names_id", "marketCap", "pegRatio"}
    rows = {r["names_id"]: r["pegRatio"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: 1.5}

    plan_df = df.where(F.col("pegRatio") > 1.0).select("names_id")
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "PushedFilters" in buf.getvalue() and "pegRatio" in buf.getvalue()
    assert plan_df.count() == 1


def test_yfinance_feed_via_mocked_module(spark):
    """YFinanceFeed maps the yfinance API surface (Ticker().history /
    .info) onto the feed interface without the package or network: a
    mock module proves column mapping, the inclusive-end shift, numeric
    filtering of info fields, and that the mapInPandas fetch kernel
    accepts the feed unchanged."""
    import datetime as dt

    import pandas as pd

    from finanalyzer_spark.sources.fetcher import YFinanceFeed, fetch_history

    calls = {}

    class _MockTicker:
        def __init__(self, symbol):
            self.symbol = symbol

        def history(self, start, end, auto_adjust):
            calls["range"] = (start, end)
            idx = pd.to_datetime(["2024-03-01", "2024-03-02"])
            return pd.DataFrame(
                {"Open": [1.0, 2.0], "High": [1.5, 2.5],
                 "Low": [0.5, 1.5], "Close": [1.2, 2.2]},
                index=idx,
            )

        @property
        def info(self):
            return {"beta": 1.1, "marketCap": 5e9, "bid": None,
                    "volume": float("nan"), "currentRatio": True,
                    "notAFundamental": 9.9}

    class _MockYF:
        Ticker = _MockTicker

    feed = YFinanceFeed(module=_MockYF)
    hist = feed.history("ACME", dt.date(2024, 3, 1), dt.date(2024, 3, 2))
    # yfinance end is exclusive -> interface end is inclusive
    assert calls["range"] == ("2024-03-01", "2024-03-03")
    assert list(hist["date_value"]) == ["2024-03-01", "2024-03-02"]
    assert list(hist["close"]) == [1.2, 2.2]

    info = feed.info("ACME", dt.date(2024, 3, 2))
    # numeric fields kept; None/NaN/bool/unknown keys dropped
    assert info == {"beta": 1.1, "marketCap": 5e9}

    tasks = spark.createDataFrame(
        [("ACME", "2024-03-01", "2024-03-02")],
        "ticker string, start_date string, end_date string",
    )
    rows = fetch_history(tasks, feed=feed).collect()
    assert {(r["ticker"], r["date_value"], r["close"]) for r in rows} == {
        ("ACME", "2024-03-01", 1.2),
        ("ACME", "2024-03-02", 2.2),
    }

    # without the real package, the factory refuses loudly
    import pytest as _pytest

    try:
        import yfinance  # noqa: F401
    except ImportError:
        from finanalyzer_spark.sources.fetcher import yfinance_feed

        with _pytest.raises(RuntimeError, match="yfinance not installed"):
            yfinance_feed()


def test_yfinance_feed_throttle_and_proxy_rotation():
    """Operational parity with the reference fetch loop: a wait between
    every request (constants.py:2 WAIT_TIME_BETWEEN_REQUESTS), and the
    proxy refreshed every `rotate_every`-th request with the counter
    reset (findatabase.py:128-133, constants.py:13). Verified entirely
    against a fake transport — no package, no network, no real sleep."""
    import datetime as dt

    import pandas as pd

    from finanalyzer_spark.sources.fetcher import YFinanceFeed

    history_proxies = []

    class _MockTicker:
        def __init__(self, symbol):
            self.symbol = symbol

        def history(self, start, end, auto_adjust, proxy=None):
            history_proxies.append(proxy)
            idx = pd.to_datetime(["2024-03-01"])
            return pd.DataFrame(
                {"Open": [1.0], "High": [1.5], "Low": [0.5], "Close": [1.2]},
                index=idx,
            )

        @property
        def info(self):
            return {"beta": 1.0}

    class _MockYF:
        Ticker = _MockTicker

    proxies = iter([f"proxy{i}" for i in range(10)])
    sleeps = []
    feed = YFinanceFeed(
        module=_MockYF,
        wait_secs=0.25,
        proxy_provider=lambda: next(proxies),
        rotate_every=3,
        sleep_fn=sleeps.append,
    )

    day = dt.date(2024, 3, 1)
    for _ in range(7):
        feed.history("ACME", day, day)

    # one throttle sleep per request, at the configured wait
    assert sleeps == [0.25] * 7
    # proxy0 assigned up front, rotated on the 3rd and 6th request
    assert history_proxies == [
        "proxy0", "proxy0", "proxy1", "proxy1", "proxy1", "proxy2", "proxy2",
    ]

    # info requests share the same throttle/rotation bookkeeping
    feed.info("ACME", day)  # 2nd request since last rotation
    feed.info("ACME", day)  # 3rd -> rotates
    feed.history("ACME", day, day)
    assert history_proxies[-1] == "proxy3"
    assert len(sleeps) == 10

    # no provider -> no proxy kwarg surprises, counter still advances
    bare = YFinanceFeed(module=_MockYF, wait_secs=0.0, sleep_fn=sleeps.append)
    bare.history("ACME", day, day)
    assert history_proxies[-1] is None
    assert len(sleeps) == 10  # zero wait -> no sleep calls


# ---------------------------------------------------------------------------
# jsonl_manifest sink (Python DataSource WRITE surface)
# ---------------------------------------------------------------------------
def test_jsonl_sink_roundtrip_and_append(spark, tmp_path):
    from finanalyzer_spark.sources.jsonl_sink import (
        JsonlSinkDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    path = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df.write.format("jsonl_manifest").mode("append").save(path)
    back = read_manifest(spark, path, schema="id long, s string")
    assert sorted((r["id"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]

    # append accumulates in the manifest
    spark.createDataFrame([(3, "c")], "id long, s string").write.format(
        "jsonl_manifest"
    ).mode("append").save(path)
    assert read_manifest(spark, path, schema="id long, s string").count() == 3


def test_jsonl_sink_uncommitted_files_invisible(spark, tmp_path):
    """Manifest-based visibility: a stray part file from a crashed or
    speculative attempt never reaches readers."""
    import os

    from finanalyzer_spark.sources.jsonl_sink import (
        JsonlSinkDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    path = str(tmp_path / "sink")
    spark.createDataFrame([(1, "a")], "id long, s string").write.format(
        "jsonl_manifest"
    ).mode("append").save(path)
    # simulate a zombie attempt's leftover file
    with open(os.path.join(path, "part-deadbeef.jsonl"), "w") as fh:
        fh.write('{"id": 999, "s": "ghost"}\n')
    rows = read_manifest(spark, path, schema="id long, s string").collect()
    assert [(r["id"], r["s"]) for r in rows] == [(1, "a")]


def test_jsonl_sink_overwrite_resets_manifest(spark, tmp_path):
    from finanalyzer_spark.sources.jsonl_sink import (
        JsonlSinkDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    path = str(tmp_path / "sink")
    spark.createDataFrame([(1, "a")], "id long, s string").write.format(
        "jsonl_manifest"
    ).mode("append").save(path)
    spark.createDataFrame([(9, "z")], "id long, s string").write.format(
        "jsonl_manifest"
    ).mode("overwrite").save(path)
    rows = read_manifest(spark, path, schema="id long, s string").collect()
    assert [(r["id"], r["s"]) for r in rows] == [(9, "z")]


def test_jsonl_sink_streaming_epochs_exactly_once(spark, tmp_path):
    """writeStream → jsonl_manifest: per-epoch manifest commits, and a
    replayed epoch REPLACES its file list instead of duplicating rows."""
    import json as _json
    import os

    from finanalyzer_spark.sources.jsonl_sink import (
        MANIFEST,
        JsonlSinkDataSource,
        read_manifest,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.parquet(
        str(src), mode="append"
    )

    def run():
        q = (
            spark.readStream.schema("id long, s string")
            .parquet(str(src))
            .writeStream.format("jsonl_manifest")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run()
    got = read_manifest(spark, sink, schema="id long, s string")
    assert sorted((r["id"], r["s"]) for r in got.collect()) == [(1, "a"), (2, "b")]

    # second availableNow run with no new data: no new epochs, no dupes
    run()
    assert read_manifest(spark, sink, schema="id long, s string").count() == 2

    # simulate a redelivered epoch: re-commit batch 0 with a new file
    # list — the manifest REPLACES epoch 0 (idempotent visibility)
    with open(os.path.join(sink, MANIFEST)) as fh:
        doc = _json.load(fh)
    epoch0 = doc["epochs"]["0"]
    from pyspark.sql.types import StructType

    schema = spark.createDataFrame([(1, "a")], "id long, s string").schema
    from finanalyzer_spark.sources.jsonl_sink import JsonlStreamWriter, _FileMsg

    w = JsonlStreamWriter({"path": sink}, schema)
    w.commit([_FileMsg(filename=f, rows=1) for f in epoch0], batchId=0)
    with open(os.path.join(sink, MANIFEST)) as fh:
        doc2 = _json.load(fh)
    assert doc2["epochs"]["0"] == sorted(epoch0)
    assert read_manifest(spark, sink, schema="id long, s string").count() == 2


# ---------------------------------------------------------------- Arrow IPC

def test_arrow_ipc_roundtrip(spark, tmp_path):
    """write_ipc -> read_ipc round-trips rows, schema and types; the
    files are genuine Feather V2 files pyarrow (and pandas/duckdb)
    open directly — the interchange contract, not a private format."""
    import datetime

    import pyarrow.ipc as ipc

    from finanalyzer_spark.sources.arrowipc import read_ipc, write_ipc

    df = spark.createDataFrame(
        [
            (i, float(i) / 7, f"s{i}", i % 2 == 0,
             datetime.date(2024, 1, 1 + i % 28))
            for i in range(257)
        ],
        "id long, x double, s string, flag boolean, d date",
    ).repartition(5)
    d = str(tmp_path / "ipc")
    n_files = write_ipc(df, d)
    assert 1 <= n_files <= 5

    back = read_ipc(spark, d)
    assert back.schema == df.schema
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b

    # foreign-tool check: pyarrow itself opens the files
    import glob

    total = 0
    for f in sorted(glob.glob(d + "/*.arrow")):
        with ipc.open_file(f) as rd:
            total += rd.read_all().num_rows
    assert total == 257


def test_arrow_ipc_reader_errors(spark, tmp_path):
    import pytest as _pytest

    from finanalyzer_spark.sources.arrowipc import read_ipc

    with _pytest.raises(FileNotFoundError):
        read_ipc(spark, str(tmp_path / "nope"))

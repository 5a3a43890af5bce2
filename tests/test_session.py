"""Runtime tuning of an existing session (`session.tune`)."""

from __future__ import annotations

from finanalyzer_spark.session import RUNTIME_CONFS, tune

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_tune_turns_off_dataframe_debugging_capture(spark):
    """After tune() both the public conf and PySpark's module-level
    cache of it say off, so a PySpark upgrade that moves the cache
    cannot silently bring back the per-call capture."""
    from pyspark.errors import utils

    utils._enable_debugging_cache = True
    spark._finanalyzer_tuned = None  # force a re-tune of the shared session
    try:
        tune(spark)
        assert spark.conf.get(DEBUGGING) == "false"
        assert utils._enable_debugging_cache is False
        # the conf is static on PySpark 4.1: set by get_spark's builder,
        # refused at runtime — and then named in the record, not lost
        assert set(spark._finanalyzer_unapplied) <= {DEBUGGING}
    finally:  # never leave the capture on for the rest of the suite
        utils._enable_debugging_cache = False


class _Conf:
    def __init__(self, refuse: str):
        self.refuse = refuse
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == self.refuse:
            raise RuntimeError("static conf")
        self.values[key] = value


class _Session:
    def __init__(self, refuse: str):
        self.conf = _Conf(refuse)


def test_tune_records_confs_it_could_not_apply():
    """A refused conf neither aborts tune() nor vanishes: it is named,
    with its error, and every other conf is still applied."""
    refused = "spark.sql.ansi.enabled"
    s = tune(_Session(refused), shuffle_partitions=3)
    assert s._finanalyzer_unapplied == {refused: "RuntimeError: static conf"}
    assert s.conf.values == {
        **{k: v for k, v in RUNTIME_CONFS.items() if k != refused},
        "spark.sql.shuffle.partitions": "3",
    }

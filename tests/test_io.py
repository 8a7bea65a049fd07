"""Source/sink coverage: JSON sink (S6), timestamp tz formatting (F12),
messages-table fixture shape, and the Iceberg branch of
``materialize.write_partitioned``."""

from __future__ import annotations

import hashlib
import json
from zoneinfo import ZoneInfo

from pyspark.sql import functions as F

from kgforge.synth import synth_messages


def test_json_sink(spark, tmp_path):
    """S6: aggregate -> JSON sink (metadata report shape,
    telegram_scraper.py:507-515)."""
    msgs = synth_messages(spark, 100)
    meta = msgs.agg(
        F.count("*").alias("total_messages"),
        F.countDistinct("channel").alias("n_channels"),
        F.sum(F.col("has_media").cast("int")).alias("with_media"),
    )
    out = str(tmp_path / "json")
    meta.write.mode("overwrite").json(out)
    rows = [json.loads(line) for line in spark.read.text(out).toPandas()["value"]]
    assert rows[0]["total_messages"] == 100
    assert rows[0]["n_channels"] == 4


def test_timestamp_tz_format(spark):
    """F12: ISO formatting in Africa/Addis_Ababa (telegram_scraper.py:162-163),
    checked against Python zoneinfo."""
    msgs = synth_messages(spark, 50).filter(F.col("date").isNotNull())
    out = msgs.select(
        "message_id",
        F.col("date").cast("long").alias("epoch"),
        F.date_format(
            F.from_utc_timestamp(F.col("date"), "Africa/Addis_Ababa"),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("iso_addis"),
    ).collect()
    tz = ZoneInfo("Africa/Addis_Ababa")
    from datetime import datetime, timezone

    for r in out:
        expect = datetime.fromtimestamp(r.epoch, tz=timezone.utc).astimezone(tz)
        assert r.iso_addis == expect.strftime("%Y-%m-%dT%H:%M:%S")


def test_message_hash_invariant(spark):
    """sha256(text) column matches hashlib on the messages fixture too."""
    msgs = synth_messages(spark, 80).filter(F.col("text").isNotNull())
    for r in msgs.select("text", "message_hash").collect():
        assert r.message_hash == hashlib.sha256(r.text.encode()).hexdigest()


# ---------------------------------------------------------------------------
# Iceberg branch call shape (VERDICT r2 next-round #6 / ADVICE r2 medium):
# no iceberg jar in the sandbox, so the writeTo chain is pinned with a stub.
# ---------------------------------------------------------------------------


class _WriteToRecorder:
    def __init__(self, calls: list, table: str, fail_overwrite: bool = False):
        self.calls = calls
        self.table = table
        self.fail_overwrite = fail_overwrite

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions", self.table))
        if self.fail_overwrite:
            raise RuntimeError("transient commit failure")

    def partitionedBy(self, col):
        self.calls.append(("partitionedBy", self.table))
        return self

    def create(self):
        self.calls.append(("create", self.table))

    def createOrReplace(self):  # must never be reached
        self.calls.append(("createOrReplace", self.table))


def _stubbed_df(spark, monkeypatch, calls, exists: bool, fail_overwrite=False):
    df = spark.range(4).withColumn("part_id", (F.col("id") % 2).cast("int"))
    monkeypatch.setattr(
        df, "writeTo",
        lambda table: _WriteToRecorder(calls, table, fail_overwrite),
        raising=False,
    )
    monkeypatch.setattr(
        df.sparkSession.catalog, "tableExists", lambda name: exists
    )
    return df


def test_iceberg_existing_table_overwrites_partitions_only(spark, monkeypatch):
    from kgforge.materialize import write_partitioned

    calls: list = []
    df = _stubbed_df(spark, monkeypatch, calls, exists=True)
    write_partitioned(df, "cat.db.t", coalesce_parts=False, table_format="iceberg")
    assert calls == [("overwritePartitions", "cat.db.t")]


def test_iceberg_missing_table_creates_partitioned(spark, monkeypatch):
    from kgforge.materialize import write_partitioned

    calls: list = []
    df = _stubbed_df(spark, monkeypatch, calls, exists=False)
    write_partitioned(df, "cat.db.t", coalesce_parts=False, table_format="iceberg")
    assert calls == [("partitionedBy", "cat.db.t"), ("create", "cat.db.t")]


def test_iceberg_write_failure_propagates_not_replaces(spark, monkeypatch):
    """A transient overwrite failure must PROPAGATE — the old bare
    try/except silently fell back to createOrReplace, wiping every
    untouched partition (ADVICE r2)."""
    import pytest as _pytest

    from kgforge.materialize import write_partitioned

    calls: list = []
    df = _stubbed_df(spark, monkeypatch, calls, exists=True, fail_overwrite=True)
    with _pytest.raises(RuntimeError, match="transient"):
        write_partitioned(df, "cat.db.t", coalesce_parts=False, table_format="iceberg")
    assert ("createOrReplace", "cat.db.t") not in calls
    assert ("create", "cat.db.t") not in calls

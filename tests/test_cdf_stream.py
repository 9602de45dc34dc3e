"""Unit gates for the tx change-feed STREAMING source
(sources/cdf_stream.py) beyond the twin-equality pin in
test_streaming.py: offset semantics (startVersion), replay
byte-identity (the property that makes downstream idempotent folds
exactly-once), and option validation."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from pulsar_project_spark.sources.cdf_stream import TxChangeFeedDataSource
from pulsar_project_spark.sources.txlog import (
    tx_append,
    tx_delete_range,
    tx_init,
)

_SCHEMA = "id long, v long, _commit_version int, _w long"


def _mk_table(spark):
    table = tempfile.mkdtemp(prefix="cdfstream_")
    tx_init(table)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr("id", "id * 3 AS v")
    tx_append(mk(0, 40), table, n_files=2)    # v1
    tx_append(mk(40, 60), table, n_files=1)   # v2
    tx_delete_range(spark, table, "id", 0, 9)  # v3 (COW)
    return table


def _drain(spark, table, start_version=0):
    spark.dataSource.register(TxChangeFeedDataSource)
    feed = (
        spark.readStream.format("tx_change_feed")
        .option("tableDir", table)
        .option("columns", "id,v")
        .option("sourceSchema", _SCHEMA)
        .option("startVersion", start_version)
        .load()
    )
    out = []

    def sink(bdf, batch_id):
        net = (bdf.groupBy("_commit_version", "id", "v")
               .agg(F.sum("_w").alias("n")).filter(F.col("n") != 0))
        out.extend((r["_commit_version"], r["id"], r["n"])
                   for r in net.collect())

    q = (feed.writeStream.outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
         .foreachBatch(sink)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return sorted(out)


@pytest.mark.gate  # multi-commit replay certification
def test_start_version_skips_earlier_commits(spark):
    table = _mk_table(spark)
    full = _drain(spark, table, start_version=0)
    tail = _drain(spark, table, start_version=2)
    assert {v for v, _, _ in full} == {1, 2, 3}
    # (start, end]: only the COW delete's net changes remain
    assert {v for v, _, _ in tail} == {3}
    assert tail == sorted((3, i, -1) for i in range(10))
    # and the full feed agrees with the batch relation on the same window
    from pulsar_project_spark.sources.txlog import tx_table_changes

    batch = sorted(
        (r["_commit_version"], r["id"],
         r["_n"] if r["_change_type"] == "insert" else -r["_n"])
        for r in tx_table_changes(spark, table, 0).collect())
    assert full == batch


@pytest.mark.gate  # byte-identity replay certification
def test_replay_is_byte_identical(spark):
    # same version window drained twice through FRESH checkpoints:
    # identical rows — immutable manifests + files make replays exact,
    # which is what downstream txn-id folds rely on
    table = _mk_table(spark)
    assert _drain(spark, table) == _drain(spark, table)


def test_missing_options_fail_loudly(spark):
    spark.dataSource.register(TxChangeFeedDataSource)
    with pytest.raises(Exception, match="sourceSchema"):
        (spark.readStream.format("tx_change_feed")
         .option("tableDir", "/nonexistent").load())


def test_stream_crosses_rename_and_widen_boundaries(spark):
    # round 9: the source resolves requested logical columns through
    # the END version's rename chain (pre-rename generations read their
    # physical name) and casts narrow physical generations to the
    # declared type (ALTER COLUMN TYPE widening)
    from pulsar_project_spark.sources.txlog import (
        tx_rename_column, tx_widen_column,
    )

    table = tempfile.mkdtemp(prefix="cdfstream_rw_")
    tx_init(table)
    tx_append(spark.range(0, 10).selectExpr(
        "id", "cast(id * 3 AS int) AS v0"), table, n_files=1)   # v1 narrow
    tx_rename_column(table, "v0", "v")                          # v2
    tx_widen_column(table, "v", "bigint")                       # v3
    tx_append(spark.range(10, 15).selectExpr(
        "id", "cast(id * 3 AS bigint) AS v"), table, n_files=1)  # v4 wide
    got = _drain(spark, table)
    # every row surfaces under the LOGICAL name with bigint values:
    # commit 1 under the final schema, commit 4 natively
    assert {c for c, _, _ in got} == {1, 4}
    assert got == sorted([(1, i, 1) for i in range(10)]
                         + [(4, i, 1) for i in range(10, 15)])


def test_starting_timestamp_option_resolves_version(spark):
    from pulsar_project_spark.sources.txlog import tx_snapshot

    table = _mk_table(spark)   # v1 append, v2 append, v3 COW delete
    ts_after_v2 = tx_snapshot(table, 2)["ts_us"]
    spark.dataSource.register(TxChangeFeedDataSource)
    feed = (
        spark.readStream.format("tx_change_feed")
        .option("tableDir", table)
        .option("columns", "id,v")
        .option("sourceSchema", _SCHEMA)
        .option("startingTimestamp", ts_after_v2)
        .load()
    )
    out = []

    def sink(bdf, batch_id):
        net = (bdf.groupBy("_commit_version", "id")
               .agg(F.sum("_w").alias("n")).filter(F.col("n") != 0))
        out.extend((r["_commit_version"], r["id"], r["n"])
                   for r in net.collect())

    q = (feed.writeStream.outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
         .foreachBatch(sink)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    # only the COW delete (v3) is after the resolved start version
    assert sorted(out) == sorted((3, i, -1) for i in range(10))


def test_latest_offset_on_a_non_tx_directory_names_the_table(tmp_path):
    from pulsar_project_spark.sources.cdf_stream import (
        TxChangeFeedStreamReader,
    )

    reader = TxChangeFeedStreamReader(
        {"tableDir": str(tmp_path), "columns": "id"})
    with pytest.raises(ValueError, match="not a tx table"):
        reader.latestOffset()

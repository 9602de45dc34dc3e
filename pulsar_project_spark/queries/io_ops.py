"""Declared queries: I/O-format parity (SURVEY.md §2.1 — the
reference's ``read_json`` / ``write_json`` persistence surface,
``utils.py`` file helpers).

The roundtrip query proves the JSON path end to end INSIDE the oracle
gate: events are projected to an integer/string-only record, written as
JSON lines, read back with an explicit schema, and aggregated — the
oracle aggregates the original parquet, so any loss or drift in the
JSON write/read path (type mangling, row loss, encoding) breaks the
hash match.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from pulsar_project_spark.registry import declare
from pulsar_project_spark.sources.tables import load_events

_RT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("ts_us", LongType()),
    StructField("value_cents", LongType()),
])

def _rt_path(kind: str) -> str:
    """Per-process SCRATCH path for a roundtrip query. Deliberately NOT a
    fresh mkdtemp per invocation: the returned DataFrame reads the files
    LAZILY (the driver/bench executes it after this function returns), so
    the directory cannot be deleted here — and repeated invocations
    (bench loops, fuzz examples, steady preflights) would otherwise
    accumulate one corpus copy each until /tmp fills. A fixed path +
    mode("overwrite") bounds the footprint at one copy per format per
    process."""
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_rt_{os.getpid()}", kind
    )


def _fresh_tx_table(kind: str) -> str:
    """A freshly initialized, empty tx table at the scratch path of
    ``kind`` (``_rt_path``), replacing a previous call's table there."""
    import shutil

    from pulsar_project_spark.sources.txlog import tx_init

    path = _rt_path(kind)
    if os.path.exists(path):
        shutil.rmtree(path)
    tx_init(path)
    return path


def _events_int_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared integer/string-only roundtrip record (see module
    docstring): floats leave the plan as exact cents BEFORE any write."""
    return load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts_us",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )


_ROUNDTRIP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
FROM events
GROUP BY event_type
"""


@declare("jsonl_roundtrip_counts", oracle=_ROUNDTRIP_SQL)
def q_jsonl_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_json → read_json roundtrip (reference persistence model,
    ``utils.py`` save/load helpers): events are serialized to JSON
    lines and read back with an explicit schema; the aggregate over the
    roundtripped rows must hash-match the oracle's aggregate over the
    ORIGINAL parquet. Values are projected to integers before the write
    (cents, epoch micros) so the JSON text layer has no float-repr
    freedom.

    Scale shape: one write + one scan of the projected columns; the
    aggregate is a low-cardinality grouped count with map-side
    partials. In production the JSON side is the landing zone and the
    parquet side the warehouse — this query is the ingestion-parity
    audit between them."""
    tmp = _rt_path("events_jsonl")
    ev = _events_int_projection(spark, sf_dir)
    ev.write.mode("overwrite").json(tmp)
    back = spark.read.schema(_RT_SCHEMA).json(tmp)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.max("ts_us").alias("last_us"),
    )


# --- Partitioned layout + partition pruning ----------------------------------

_PRUNE_SQL = """
SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM events WHERE event_type = 'purchase'
GROUP BY 1
"""


@declare("partitioned_prune_purchase_days", oracle=_PRUNE_SQL)
def q_partitioned_prune_purchase_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning, end to end: events
    are written out partitioned BY event_type, read back with an
    equality filter on the partition column, and aggregated per day.
    The filter never touches row data — it prunes whole directories at
    planning time (PartitionFilters in the scan node), which at 100 TB
    is the difference between scanning one type's files and scanning
    everything. The oracle aggregates the unpartitioned original, so
    the roundtrip also proves the partitioned rewrite loses nothing.

    Scale shape: the write is one pass (static partitionBy — in
    production this is the table's standing layout, not per-query
    work); the pruned read scans 1/5 of the data; one grouped count."""
    tmp = _rt_path("events_by_type")
    ev = load_events(spark, sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    # explicit schema: a zero-row source writes a partitioned dataset
    # with no data files, and schema INFERENCE on the read-back would
    # fail (UNABLE_TO_INFER_SCHEMA) — a real state at 100 TB, where a
    # pruned or freshly-created layout can be momentarily empty
    back = (
        spark.read.schema(ev.schema).parquet(tmp)
        .filter(F.col("event_type") == "purchase")
    )
    return back.select(
        F.expr("ts_us div 86400000000").alias("day"), "user_id"
    ).groupBy("day").agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


_CSV_RT_SQL = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(epoch_us(ts)) AS BIGINT) AS first_us
FROM events
GROUP BY event_type
"""


@declare("csv_roundtrip_counts", oracle=_CSV_RT_SQL)
def q_csv_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write CSV → read CSV roundtrip with an explicit schema — the
    landing-zone format after JSONL (utils.py persistence surface,
    generalized). CSV's classic loss modes are pinned shut: floats are
    projected to integer cents BEFORE the write (no float-repr
    freedom), and NULL vs empty-string is disambiguated with an
    explicit nullValue sentinel on BOTH write and read (the default ""
    conflates them). The aggregate over the roundtripped rows must
    hash-match the oracle's aggregate over the ORIGINAL parquet."""
    tmp = _rt_path("events_csv")
    ev = _events_int_projection(spark, sf_dir)
    ev.write.mode("overwrite").option("header", True) \
        .option("nullValue", "\\N").csv(tmp)
    back = (
        spark.read.schema(_RT_SCHEMA).option("header", True)
        .option("nullValue", "\\N").csv(tmp)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("total_cents"),
        F.min("ts_us").alias("first_us"),
    )


_ORC_RT_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
FROM events
GROUP BY event_type
"""


@declare("orc_roundtrip_counts", oracle=_ORC_RT_SQL)
def q_orc_roundtrip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write ORC → read ORC roundtrip — the second columnar warehouse
    format beside parquet. ORC is typed and self-describing, so unlike
    the text formats no sentinel games are needed; the query proves the
    full write/read path (compression, stripes, schema) preserves every
    row and value against the parquet-sourced oracle, and the read-back
    filter pushdown works the same as parquet's."""
    tmp = _rt_path("events_orc")
    ev = _events_int_projection(spark, sf_dir)
    ev.write.mode("overwrite").orc(tmp)
    back = spark.read.schema(_RT_SCHEMA).orc(tmp)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
    )


_EVOLUTION_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_id % 2 != 0 AND value IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_value,
       CAST(sum(CASE WHEN event_id % 2 != 0
                     THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS total_cents
FROM events
WHERE event_id IS NOT NULL
GROUP BY event_type
"""


@declare("schema_evolution_union_counts", oracle=_EVOLUTION_SQL)
def q_schema_evolution_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches — the standing reality of
    a 100 TB landing zone, where yesterday's files lack the column added
    today. Batch A (even event_id) is written WITHOUT the value column;
    batch B (odd) carries ``value_cents``. The read unifies both with
    ``mergeSchema`` — A's rows surface a NULL ``value_cents`` — and the
    aggregate proves no row or value is lost or fabricated across the
    schema seam. The oracle replays the same split rule on the original
    events, so any merge artifact (dropped batch, misaligned column,
    default-filled value) breaks the hash."""
    ev = load_events(spark, sf_dir).filter(F.col("event_id").isNotNull())
    old_batch = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type",
    )
    # != 0, not == 1: for a negative odd id both engines' % returns -1,
    # so an ==1 split would silently DROP such rows from both batches
    # while the oracle kept them in n_events — the two filters must
    # partition ALL rows.
    new_batch = ev.filter(F.col("event_id") % 2 != 0).select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    base = _rt_path("events_evolution")
    old_batch.write.mode("overwrite").parquet(os.path.join(base, "batch_a"))
    new_batch.write.mode("overwrite").parquet(os.path.join(base, "batch_b"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch_a"), os.path.join(base, "batch_b")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("value_cents").isNotNull(), 1).otherwise(0))
         .alias("n_with_value"),
        F.sum(F.coalesce(F.col("value_cents"), F.lit(0))).alias("total_cents"),
    )


_CORRUPT_SQL = """
SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS event_type,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt
FROM events
WHERE event_id IS NOT NULL
GROUP BY 1
"""


@declare("corrupt_json_lines_census", oracle=_CORRUPT_SQL)
def q_corrupt_json_lines_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record-tolerant JSON ingestion: every 7th event is
    serialized as a deliberately TRUNCATED JSON line; the read runs
    PERMISSIVE with ``_corrupt_record``, so bad lines surface as rows
    (type NULL, corrupt column set) instead of failing the 100 TB job
    or silently vanishing. The census groups good rows by type and
    counts corrupt ones; the oracle replays the corruption rule on the
    original events — a reader that dropped or double-counted bad lines
    hash-mismatches."""
    from pyspark.sql.types import StringType, StructField, StructType

    ev = load_events(spark, sf_dir).filter(F.col("event_id").isNotNull())
    lines = ev.select(
        F.when(
            F.col("event_id") % 7 == 0,
            F.concat(F.lit('{"event_id": '), F.col("event_id"),
                     F.lit(', "event_type": ')),  # truncated mid-value
        ).otherwise(
            F.to_json(F.struct("event_id", "event_type"))
        ).alias("value")
    )
    tmp = _rt_path("events_corrupt_jsonl")
    lines.write.mode("overwrite").text(tmp)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("_corrupt_record", StringType()),
    ])
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(tmp)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
         .alias("n_corrupt"),
    )


_COMPACT_TARGET = 64 * 1024  # 64 KB target per merged output (sf-scaled)

_COMPACTION_SQL = f"""
WITH manifest AS (
  SELECT doc_id AS file_id, n_chars AS bytes
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars >= 0
), planned AS (
  SELECT file_id, bytes,
         CAST((sum(bytes) OVER (ORDER BY file_id
                                ROWS UNBOUNDED PRECEDING) - bytes)
              // {_COMPACT_TARGET} AS BIGINT) AS bucket
  FROM manifest
)
SELECT bucket,
       count(*) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       min(file_id) AS first_file_id,
       max(file_id) AS last_file_id
FROM planned
GROUP BY bucket
"""


@declare("compaction_plan_buckets", oracle=_COMPACTION_SQL)
def q_compaction_plan_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNER — the standing maintenance job of
    a streaming landing zone at 100 TB (every micro-batch leaves small
    files; readers die by a thousand file-open round-trips): assign
    each manifest entry to a merge bucket by prefix-sum bin packing —
    bucket = floor(bytes-before-this-file / target) — so every output
    file lands at ~target size and file order (and therefore any
    sort-derived min/max locality) is preserved. Pure window + grouped
    agg over the MANIFEST relation (never the data); the execute half
    is one ``repartitionByRange(bucket)`` write. Deterministic integer
    arithmetic, oracle-replayed; the documents table stands in as the
    manifest (doc_id = file id, n_chars = bytes).

    Scale note: the global ORDER BY prefix sum is a single-partition
    window over MANIFEST rows (one row per FILE — millions at 100 TB,
    not billions; a manifest is always driver-tractable metadata). If
    even that is too big, the same plan runs per table-partition."""
    from pulsar_project_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("n_chars").isNotNull()
        & (F.col("n_chars") >= 0)
    )
    from pyspark.sql.window import Window
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    manifest = docs.select(
        F.col("doc_id").alias("file_id"), F.col("n_chars").alias("bytes")
    )
    planned = manifest.select(
        "file_id", "bytes",
        F.expr(f"(sum(bytes) OVER (ORDER BY file_id "
               f"ROWS UNBOUNDED PRECEDING) - bytes) div {_COMPACT_TARGET}")
        .alias("bucket"),
    )
    return planned.groupBy("bucket").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("file_id").alias("first_file_id"),
        F.max("file_id").alias("last_file_id"),
    )


# --- Transactional compaction EXECUTION (round 7) -----------------------------
#
# Round 6 certified the planner (compaction_plan_buckets); these two
# queries certify the EXECUTION half on the snapshot-isolated table log
# (sources/txlog.py): rewrite-and-swap behind an atomic manifest CAS,
# readers never see a half-swap, old snapshots stay readable. The
# censuses hash against the ORIGINAL parquet, so a compaction that
# lost, duplicated, or reordered-into-corruption even one row breaks
# the gate; the crash/race interleavings live in tests/test_txlog.py.

_TX_SPLITS = 3


def _build_tx_events_table(spark: SparkSession, sf_dir: str) -> str:
    """Fresh tx table from the shared integer events projection, loaded
    as 3 residue-class appends (pmod(event_id, 3) — signed-safe, same
    rule the oracles replay) of 4 files each: 12 small files, the
    classic streaming-landing-zone state compaction exists to fix."""
    from pulsar_project_spark.sources.txlog import tx_append

    path = _fresh_tx_table("txlog_events")
    ev = _events_int_projection(spark, sf_dir)
    for r in range(_TX_SPLITS):
        tx_append(
            ev.filter(F.pmod(F.col("event_id"), F.lit(_TX_SPLITS)) == r),
            path, n_files=4,
        )
    # NULL event_ids belong to no residue class; a dirty corpus must
    # not silently lose them (the total census hashes against ALL rows)
    tx_append(ev.filter(F.col("event_id").isNull()), path, n_files=1)
    return path


def _tx_census(spark: SparkSession, path: str, version: int | None) -> DataFrame:
    from pulsar_project_spark.sources.txlog import tx_read

    back = tx_read(spark, path, version)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.max("ts_us").alias("last_us"),
    )


@declare("tx_compaction_roundtrip_census", oracle=_ROUNDTRIP_SQL)
def q_tx_compaction_roundtrip_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional compaction EXECUTED end to end: 12 small files
    land as 3 committed appends, ``tx_compact`` rewrites every
    multi-file bucket and swaps the manifest atomically (one os.link —
    the CAS), and the census over the POST-compaction snapshot must
    hash-match the oracle's census over the original parquet. Any
    lost/duplicated row, any torn read of a half-swapped file set, any
    manifest pointing at a stale file breaks the hash.

    Scale shape: compaction reads only the bucket inputs and writes
    once (no shuffle — coalesce within a bucket); the manifest is
    metadata (one row per FILE). At 100 TB this runs per partition-date
    with the same commit protocol; the conditional-PUT variant is the
    object-store port (txlog.py module doc)."""
    from pulsar_project_spark.sources.txlog import tx_compact

    path = _build_tx_events_table(spark, sf_dir)
    tx_compact(spark, path, target_bytes=1 << 22)
    return _tx_census(spark, path, version=None)


_TX_TIME_TRAVEL_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
FROM events
WHERE ((event_id % 3) + 3) % 3 = 0
GROUP BY event_type
"""


@declare("tx_snapshot_time_travel_census", oracle=_TX_TIME_TRAVEL_SQL)
def q_tx_snapshot_time_travel_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation as a QUERYABLE contract: after two more
    appends AND a full compaction have committed on top, reading
    version 1 must return exactly the first append's rows (the
    pmod(event_id,3)=0 residue class, which the oracle replays from the
    original parquet). This is file-level time travel — the manifest
    pins the snapshot's file list, compaction deletes nothing until
    vacuum — complementing the row-level ``cdc_snapshot_at_time``."""
    from pulsar_project_spark.sources.txlog import tx_compact

    path = _build_tx_events_table(spark, sf_dir)
    tx_compact(spark, path, target_bytes=1 << 22)
    return _tx_census(spark, path, version=1)


_TX_ZORDER_SQL = """
SELECT ((user_id % 97) + 97) % 97 AS user_bucket,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS max_day
FROM events
GROUP BY user_bucket
"""


@declare("tx_optimize_zorder_census", oracle=_TX_ZORDER_SQL)
def q_tx_optimize_zorder_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY, executed transactionally: two committed
    appends are rewritten as one Z-clustered file set on
    (user_id, day) behind the same atomic manifest CAS, and the census
    over the post-OPTIMIZE snapshot — 97 user buckets × (count, exact
    cents, max day) — must hash-match the oracle over the original
    parquet, so a rewrite that loses/duplicates a row or corrupts an
    attribute breaks the gate. The layout payoff (every output file's
    footer stats bounding BOTH dims) is asserted from the actual
    written files in tests/test_txlog.py; this query certifies the
    rewrite is data-invariant, which is the half a hash CAN check.

    Scale shape: one mergeable min/max bounds aggregate broadcast back,
    one range-exchange on the Morton code, one in-file sort — the
    standing layout-maintenance job of a 100 TB lakehouse table, here
    composed with the commit protocol instead of an unsafe in-place
    overwrite."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_optimize_zorder,
        tx_read,
    )

    path = _fresh_tx_table("txlog_zorder")
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    for r in range(2):
        tx_append(
            ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == r).drop(
                "event_id"),
            path, n_files=3,
        )
    tx_append(ev.filter(F.col("event_id").isNull()).drop("event_id"),
              path, n_files=1)
    tx_optimize_zorder(spark, path, "user_id", "day", n_files=8)
    back = tx_read(spark, path)
    return back.groupBy(
        F.pmod(F.col("user_id"), F.lit(97)).alias("user_bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.max("day").alias("max_day"),
    )


_TX_PRUNE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE user_id BETWEEN 0 AND 400
GROUP BY event_type
"""


@declare("tx_pruned_read_census", oracle=_TX_PRUNE_SQL)
def q_tx_pruned_read_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping, end to end: OPTIMIZE ZORDER records
    each rewritten file's (user_id, day) min/max bounds INTO the
    manifest (Iceberg's column-bounds pattern), and ``tx_read_pruned``
    then drops every file whose bounds cannot intersect the predicate
    BEFORE Spark lists or opens it — planning-time skipping with zero
    I/O, the step beyond parquet footer pruning (which still pays one
    open+seek per file; at 100 TB that is millions of round trips).
    Correctness never rests on the stats: the residual filter re-applies
    the predicate exactly, and this census must hash-match the oracle's
    filtered census over the original parquet. The actual file-skip
    count is pinned in tests/test_txlog.py (layout-dependent, so it
    belongs to a test, not a hash)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_optimize_zorder,
        tx_read_pruned,
    )

    path = _fresh_tx_table("txlog_prune")
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append(ev, path, n_files=4)
    tx_optimize_zorder(spark, path, "user_id", "day", n_files=8)
    pruned, _n_read, _n_total = tx_read_pruned(spark, path, "user_id", 0, 400)
    return pruned.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


_TX_DELETE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE user_id IS NULL OR user_id NOT BETWEEN 100 AND 300
GROUP BY event_type
"""


@declare("tx_delete_range_census", oracle=_TX_DELETE_SQL)
def q_tx_delete_range_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE, executed transactionally: after OPTIMIZE
    ZORDER records per-file (user_id, day) bounds, ``tx_delete_range``
    rewrites ONLY the files whose bounds can contain user_id in
    [100, 300] (untouched files carry by name — at 100 TB that is the
    difference between a targeted delete and a full-table rewrite),
    drops the matching rows, refreshes the rewritten files' bounds,
    and swaps behind the CAS. NULL user_ids survive by SQL range
    semantics — the oracle census over the original parquet encodes
    exactly that survivor set, so an over- or under-delete breaks the
    hash. The only-overlapping-files-touched property is pinned in
    tests/test_txlog.py (layout-dependent, so it belongs to a test)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_delete_range,
        tx_optimize_zorder,
        tx_read,
    )

    path = _fresh_tx_table("txlog_delete")
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append(ev, path, n_files=4)
    tx_optimize_zorder(spark, path, "user_id", "day", n_files=8)
    tx_delete_range(spark, path, "user_id", 100, 300)
    return tx_read(spark, path).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


_TX_MERGE_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
), upd AS (
  SELECT user_id, cents FROM per_user WHERE user_id BETWEEN 100 AND 300
)
SELECT CAST((SELECT count(*) FROM per_user)
          + (SELECT count(*) FROM upd) AS BIGINT) AS n_users,
       CAST(COALESCE((SELECT sum(cents) FROM per_user), 0)
          + 2 * COALESCE((SELECT sum(cents) FROM upd), 0) AS BIGINT)
         AS total_cents
"""


@declare("tx_merge_upsert_census", oracle=_TX_MERGE_SQL)
def q_tx_merge_upsert_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE completing the DML trio (append / delete /
    merge) on the transactional log: a per-user totals table is
    Z-clustered with recorded bounds, then one tight-ranged merge
    REPLACES users 100-300 with doubled totals and a second
    beyond-range merge INSERTS shadow users (user_id + 10^7, original
    totals) — the bounds test rewrites only the overlapping files for
    the first and zero files for the second (pinned in
    tests/test_txlog.py). The global census after both merges —
    original users + shadow count, original cents + twice the doubled
    range — is replayed by the oracle from the raw events, so a lost
    replacement, doubled insert, or clobbered bystander row breaks the
    hash."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_merge_upsert,
        tx_optimize_zorder,
        tx_read,
    )

    path = _fresh_tx_table("txlog_merge")
    per_user = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .cast("bigint").alias("cents"))
    )
    tx_append(per_user, path, n_files=4)
    tx_optimize_zorder(spark, path, "user_id", "user_id", n_files=8)
    in_range = tx_read(spark, path).filter(
        F.col("user_id").between(100, 300))
    tx_merge_upsert(
        spark, path,
        in_range.select("user_id", (F.col("cents") * 2).alias("cents")),
        "user_id")
    tx_merge_upsert(
        spark, path,
        in_range.select((F.col("user_id") + 10_000_000).alias("user_id"),
                        "cents"),
        "user_id")
    return tx_read(spark, path).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint")
        .alias("total_cents"),
    )


_TX_CLONE_SQL = """
WITH ev AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS ts_us
  FROM events WHERE event_id IS NOT NULL
), census AS (
  SELECT 'source' AS branch, event_type, count(*) AS n_events,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(max(ts_us) AS BIGINT) AS last_us
  FROM ev WHERE ((event_id % 3) + 3) % 3 IN (0, 1) GROUP BY event_type
  UNION ALL
  SELECT 'clone', event_type, count(*),
         CAST(sum(cents) AS BIGINT), CAST(max(ts_us) AS BIGINT)
  FROM ev WHERE ((event_id % 3) + 3) % 3 IN (0, 2) GROUP BY event_type
  UNION ALL
  SELECT 'base', event_type, count(*),
         CAST(sum(cents) AS BIGINT), CAST(max(ts_us) AS BIGINT)
  FROM ev WHERE ((event_id % 3) + 3) % 3 = 0 GROUP BY event_type
)
SELECT branch, event_type, n_events, total_cents, last_us FROM census
"""


@declare("tx_clone_divergence_census", oracle=_TX_CLONE_SQL)
def q_tx_clone_divergence_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE with divergence — the zero-copy branch primitive
    (Delta/Iceberg CLONE): the base table (residue-0 events) is cloned
    by hard-linking its live files (no bytes copied — both tables
    share inodes, each owns its directory entries), then the two
    branches DIVERGE: residue-1 lands on the source, residue-2 on the
    clone. The census reads all three lineages — source tip, clone
    tip, and the pinned pre-divergence version via time travel on the
    source — and hashes against the closed-form residue splits. A
    clone that copied stale files, a commit that leaked across
    branches, or a time-travel read disturbed by either tip breaks
    the hash; vacuum-independence (either side vacuums, the other
    still reads — the hard links keep shared inodes alive) is pinned
    in tests/test_txlog.py.

    Scale shape: CLONE is pure metadata + one directory entry per
    live file — no data I/O at any corpus size; the divergent appends
    and censuses are the standard tx append/read paths."""
    import shutil

    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_clone,
        tx_init,
        tx_latest_version,
    )

    src = _rt_path("txlog_clone_src")
    dst = _rt_path("txlog_clone_dst")
    for p in (src, dst):
        if os.path.exists(p):
            shutil.rmtree(p)
    ev = _events_int_projection(spark, sf_dir).filter(
        F.col("event_id").isNotNull())
    res = F.pmod(F.col("event_id"), F.lit(3))
    tx_init(src)
    tx_append(ev.filter(res == 0), src, n_files=4)
    base_version = tx_latest_version(src)
    tx_clone(src, dst)
    tx_append(ev.filter(res == 1), src, n_files=2)   # source diverges
    tx_append(ev.filter(res == 2), dst, n_files=2)   # clone diverges

    def census(path, version, branch):
        return _tx_census(spark, path, version).select(
            F.lit(branch).alias("branch"), "event_type", "n_events",
            "total_cents", "last_us")

    return (
        census(src, None, "source")
        .unionByName(census(dst, None, "clone"))
        .unionByName(census(src, base_version, "base"))
    )


# epoch-µs cut instants for the two-step tiering transaction below:
# 2024-01-15 (archive) and 2024-01-08 (recall) — constants of the
# census, written identically into the Spark predicates and the
# oracle's CASE (the MAX_BUCKET declared-in-both-engines pattern).
_TIER_CUT_US = 1_705_276_800_000_000
_RECALL_CUT_US = 1_704_672_000_000_000

_TX_CATALOG_MOVE_SQL = f"""
SELECT tier,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM (
  SELECT CASE WHEN epoch_us(ts) < {_RECALL_CUT_US} THEN 'hot'
              WHEN epoch_us(ts) < {_TIER_CUT_US} THEN 'cold'
              ELSE 'hot' END AS tier,
         value
  FROM events
)
GROUP BY tier
"""


@declare("tx_catalog_atomic_move_census", oracle=_TX_CATALOG_MOVE_SQL)
def q_tx_catalog_atomic_move_census(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """CROSS-TABLE atomic commit, executed end to end: a hot/cold
    tiering pair under one catalog (``sources/txcatalog.py``). Step 1
    archives everything before Jan 15 hot→cold; step 2 recalls the
    sub-Jan-8 tail cold→hot — two catalog transactions, each moving
    rows between two per-table logs behind ONE catalog CAS, so no
    catalog reader ever sees a row doubled or lost mid-move (the
    single-table log cannot give this: committing the two manifests in
    sequence exposes exactly that window). The census reads BOTH
    tables through the final catalog snapshot; the oracle recomputes
    the tier assignment directly from raw events (NULL timestamps
    never match a `<` predicate, so they stay hot on both sides) —
    a doubled, dropped, or mis-tiered row breaks the hash, and row
    conservation across the two transactions is implied by the
    per-tier counts. Atomicity/torn-commit/concurrency semantics are
    pinned in tests/test_txcatalog.py.

    Scale shape: the data plane is one read + two writes per move (the
    movers and the survivors); cross-table atomicity itself costs two
    staged table manifests and one hard-link catalog CAS — metadata,
    not data."""
    import shutil

    from pulsar_project_spark.sources.txcatalog import (
        catalog_init,
        catalog_move,
        catalog_read,
    )
    from pulsar_project_spark.sources.txlog import tx_append, tx_init

    base = _rt_path("txcatalog_tiering")
    if os.path.exists(base):
        shutil.rmtree(base)
    hot, cold = os.path.join(base, "hot"), os.path.join(base, "cold")
    cat = os.path.join(base, "_catalog")
    tx_init(hot)
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts_us", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append(ev, hot, n_files=4)
    tx_init(cold)
    catalog_init(cat, {"hot": hot, "cold": cold})
    catalog_move(spark, cat, "hot", "cold",
                 F.col("ts_us") < F.lit(_TIER_CUT_US))
    catalog_move(spark, cat, "cold", "hot",
                 F.col("ts_us") < F.lit(_RECALL_CUT_US))
    hot_df, _ = catalog_read(spark, cat, "hot")
    cold_df, _ = catalog_read(spark, cat, "cold")
    un = hot_df.withColumn("tier", F.lit("hot")).unionByName(
        cold_df.withColumn("tier", F.lit("cold")))
    return un.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


@declare("tx_vacuum_reclaim_census", oracle=_ROUNDTRIP_SQL)
def q_tx_vacuum_reclaim_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM executed behind the census — the maintenance trio's last
    member at the declared level (compact and OPTIMIZE ZORDER already
    are): 12 small files land as committed appends, compaction rewrites
    the buckets, then ``tx_vacuum`` PHYSICALLY DELETES every file no
    longer referenced by the latest manifest (the compaction inputs —
    which forfeits time travel to the pre-compaction versions, stated
    exactly like Delta's VACUUM). The census over the post-vacuum
    snapshot must still hash-match the oracle over the original
    parquet: a vacuum that deletes one live file, or a manifest that
    still references a deleted one, breaks the read. The reclaim
    count and the dies-after-vacuum time-travel contract are pinned in
    tests/test_txlog.py (layout-dependent, so they belong to a test).

    Scale shape: vacuum is a set difference over manifest file lists —
    metadata — plus unlinks; at 100 TB it is the storage-cost control
    loop that makes copy-on-write affordable."""
    from pulsar_project_spark.sources.txlog import tx_compact, tx_vacuum

    path = _build_tx_events_table(spark, sf_dir)
    tx_compact(spark, path, target_bytes=1 << 22)
    # retention 0 = the RETAIN 0 HOURS analog: this single-writer build
    # job IS quiescent; production keeps the 24 h default (ADVICE r7)
    tx_vacuum(path, retention_seconds=0.0)
    return _tx_census(spark, path, version=None)


# the pruned week for the partition-evolution census: epoch days of
# 2024-01-08 .. 2024-01-14 (declared in both engines)
_EVOLVE_DAY_LO = 19730
_EVOLVE_DAY_HI = 19736

_TX_EVOLUTION_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
WHERE epoch_us(ts) // 86400000000
      BETWEEN {_EVOLVE_DAY_LO} AND {_EVOLVE_DAY_HI}
GROUP BY event_type
"""


@declare("tx_partition_evolution_census", oracle=_TX_EVOLUTION_SQL)
def q_tx_partition_evolution_census(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION on the transactional log: generation 1
    lands range-clustered by day (the old spec), generation 2 by
    (event_type, day) (the evolved spec) — two layouts in ONE table,
    which a Hive-style directory layout cannot express without
    rewriting the old data. ``tx_read_pruned`` then plans a one-week
    day slice: pruning tests the recorded per-file day bounds, so BOTH
    generations prune under the spec they were written with, and the
    census over the pruned read must hash-match the oracle's direct
    day-band census (the residual filter re-applies the predicate
    exactly, so correctness never depends on the bounds). The
    files-actually-skipped property is layout-dependent and pinned in
    tests/test_txlog.py.

    Scale shape: re-speccing a 100 TB table costs zero data movement —
    old files stay readable and prunable; only new files get the new
    clustering. The read plans from manifest metadata (no file opens)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_read_pruned,
    )

    path = _fresh_tx_table("txlog_evolution")
    ev = _events_int_projection(spark, sf_dir).withColumn(
        "day", F.expr("ts_us div 86400000000"))
    gen1 = ev.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    gen2 = ev.filter(
        (F.pmod(F.col("event_id"), F.lit(2)) == 1)
        | F.col("event_id").isNull())
    tx_append_clustered(gen1, path, ["day"], n_files=4)
    tx_append_clustered(gen2, path, ["event_type", "day"], n_files=4)
    pruned, _n_read, _n_total = tx_read_pruned(
        spark, path, "day", _EVOLVE_DAY_LO, _EVOLVE_DAY_HI)
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


# --- Round 8: timestamp time travel, deletion vectors, change data feed ------


@declare("tx_time_travel_timestamp_census", oracle=_TX_TIME_TRAVEL_SQL)
def q_tx_time_travel_timestamp_census(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """AS OF TIMESTAMP time travel — the form users actually type
    (VERDICT r7 #2): every commit carries a monotonic ``ts_us`` label
    (max of wall clock and parent+1, so labels order even under clock
    steps), and an instant BETWEEN two commits floors to the earlier
    one — here an instant halfway between v1's and v2's labels must
    resolve to v1, whose census is exactly the first append's residue
    class (the same closed form the version-based twin
    ``tx_snapshot_time_travel_census`` certifies, so the two forms are
    mutually cross-checked at hash level). Between-commits and
    before-first-commit edges are pinned in tests/test_txlog.py.

    Scale shape: resolution scans manifest METADATA only (one small
    JSON per commit) — no data I/O until the pinned snapshot is read."""
    from pulsar_project_spark.sources.txlog import (
        tx_compact,
        tx_snapshot,
        tx_version_as_of_timestamp,
    )

    path = _build_tx_events_table(spark, sf_dir)
    tx_compact(spark, path, target_bytes=1 << 22)
    ts1 = tx_snapshot(path, 1)["ts_us"]
    ts2 = tx_snapshot(path, 2)["ts_us"]
    asof = ts1 + (ts2 - ts1) // 2  # in [ts1, ts2): floors to v1
    return _tx_census(spark, path,
                      version=tx_version_as_of_timestamp(path, asof))


@declare("tx_delete_dv_census", oracle=_TX_DELETE_SQL)
def q_tx_delete_dv_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE via deletion vectors (VERDICT r7 #3): the
    same predicate as the copy-on-write ``tx_delete_range_census`` —
    and the same oracle, so the two delete strategies are certified
    read-equivalent — but executed as a DV sidecar commit: matching
    rows' (file, row-position) pairs land in one small parquet, the
    manifest maps affected files to it, and ZERO data bytes rewrite.
    Readers anti-join the mask at scan time; NULL user_ids never match
    a range predicate and survive. The no-rewrite property, mask
    merging across successive deletes, DV compaction, and
    vacuum-after-compaction reclaim are pinned in tests/test_txlog.py.

    Scale shape: at 100 TB a row-level correction costs O(matched
    rows) metadata instead of rewriting every file whose bounds
    overlap — the manifest bounds still pick which files even need
    scanning for matches (clustered append records them here)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_delete_range_dv,
        tx_read,
    )

    path = _fresh_tx_table("txlog_delete_dv")
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append_clustered(ev, path, ["user_id"], n_files=4)
    tx_delete_range_dv(spark, path, "user_id", 100, 300)
    return tx_read(spark, path).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


_TX_CDF_SQL = """
WITH base AS (
  SELECT event_type, user_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT 'insert' AS change_type, event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM base GROUP BY event_type
UNION ALL
SELECT 'delete', event_type,
       CAST(count(*) AS BIGINT),
       CAST(sum(cents) AS BIGINT)
FROM base
WHERE user_id BETWEEN 100 AND 300 OR user_id BETWEEN 400 AND 500
GROUP BY event_type
"""


# the CDF trio (batch census, IVM fold, streaming twin) consumes the
# IDENTICAL immutable commit history — build it once per (process,
# corpus); the table never mutates after build, so sharing is safe,
# and a different sf_dir (fuzz's fresh mkdtemp per example) rebuilds
_CDF_BUILD_CACHE: dict = {}


def _build_cdf_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Tx table exercising every change-feed commit class: two appends,
    a layout-only compaction (must contribute NOTHING to the feed), a
    deletion-vector delete, and a copy-on-write delete. Cached per
    (process, sf_dir) under the FIRST caller's name — consumers only
    read the finished manifest chain."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_compact,
        tx_delete_range,
        tx_delete_range_dv,
    )

    cached = _CDF_BUILD_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    path = _fresh_tx_table(name)
    ev = _events_int_projection(spark, sf_dir)
    res = F.pmod(F.col("event_id"), F.lit(2))
    tx_append(ev.filter(res == 0), path, n_files=4)                 # v1
    tx_append(ev.filter((res == 1) | F.col("event_id").isNull()),
              path, n_files=4)                                      # v2
    tx_compact(spark, path, target_bytes=1 << 22)                   # v3
    tx_delete_range_dv(spark, path, "user_id", 100, 300)            # v4 (maybe)
    tx_delete_range(spark, path, "user_id", 400, 500)               # v5 (maybe)
    _CDF_BUILD_CACHE.clear()
    _CDF_BUILD_CACHE[sf_dir] = path
    return path


@declare("tx_change_feed_census", oracle=_TX_CDF_SQL)
def q_tx_change_feed_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED over the transactional log (VERDICT r7 #1 —
    the top-ranked order): ``tx_table_changes`` derives row-level
    changes from pure manifest diffs — added files weigh +1, removed
    files −1, DV-mask growth −1 on exactly the newly-masked rows, and
    one weighted aggregate nets them (the DBSP changelog convention
    the retractable-agg family already speaks). The table exercises
    every commit class: two appends (inserts), a compaction (layout-
    only — must contribute NOTHING), a deletion-vector delete and a
    copy-on-write delete (both must feed ONLY the rows actually
    deleted — every row the COW rewrite merely carried must cancel to
    weight 0). The census folds the feed per (change side, type) and
    hashes against the oracle's closed-form replay from raw events, so
    a phantom change, a lost delete, or a carried row leaking through
    breaks the gate.

    Scale shape: each commit's feed reads only the files that commit
    touched (not the table), and the weight resolution is one hash
    aggregate — incremental consumers page through (v_from, v_to]
    windows, which is exactly what the streaming source twin does."""
    from pulsar_project_spark.sources.txlog import tx_table_changes

    feed = tx_table_changes(
        spark, _build_cdf_table(spark, sf_dir, "txlog_cdf"), 0)
    return (
        feed.groupBy(
            F.col("_change_type").alias("change_type"), "event_type")
        .agg(
            F.sum("_n").cast("bigint").alias("n_rows"),
            F.sum(F.col("_n") * F.col("value_cents")).cast("bigint")
            .alias("total_cents"),
        )
    )


_TX_CDF_FOLD_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE user_id IS NULL OR (user_id NOT BETWEEN 100 AND 300
                          AND user_id NOT BETWEEN 400 AND 500)
GROUP BY event_type
"""


@declare("tx_cdf_incremental_agg_census", oracle=_TX_CDF_FOLD_SQL)
def q_tx_cdf_incremental_agg_census(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE OFF STORAGE — the composition the
    round-7 verdict named as the change feed's payoff: a per-type
    aggregate view is maintained purely by FOLDING the change feed
    (insert rows add their weight, delete rows subtract — no read of
    the table itself), and the folded view must hash-match the
    oracle's direct census of the LIVE rows. This is the DBSP identity
    ``view(table) == fold(changes(table))`` certified end to end on
    real storage commits (appends, a compaction to skip, a DV delete,
    a COW delete). Types whose rows net to zero drop out of the view
    exactly as a GROUP BY over the live table would drop them.

    Scale shape: the view maintenance cost is the feed cost (touched
    files only) plus one mergeable aggregate — at 100 TB this replaces
    a full-table rescan per refresh with work proportional to the
    delta, which is the entire point of a change data feed."""
    from pulsar_project_spark.sources.txlog import tx_table_changes

    feed = tx_table_changes(
        spark, _build_cdf_table(spark, sf_dir, "txlog_cdf_fold"), 0)
    w = F.when(F.col("_change_type") == "insert", F.col("_n")) \
         .otherwise(-F.col("_n"))
    return (
        feed.groupBy("event_type")
        .agg(
            F.sum(w).cast("bigint").alias("n_events"),
            F.sum(w * F.col("value_cents")).cast("bigint")
            .alias("total_cents"),
        )
        .filter(F.col("n_events") != 0)
    )


_TX_RESTORE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
FROM events
WHERE ((event_id % 3) + 3) % 3 IN (0, 1)
GROUP BY event_type
"""


@declare("tx_restore_census", oracle=_TX_RESTORE_SQL)
def q_tx_restore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF, executed as a FORWARD commit
    (never a history rewrite): after the full commit history lands —
    three residue appends, the NULL-id append, a compaction — the
    table restores to version 2, and the census of the new LATEST must
    equal the oracle's residue-(0, 1) replay from the original parquet
    (NULL event_ids belong to no residue and are correctly restored
    away). The bad versions stay readable for forensics, the change
    feed shows the restore as exactly the row-level undo, and vacuum
    reclaims the undone files afterwards — all pinned in
    tests/test_txlog.py.

    Scale shape: restore is pure metadata (one manifest referencing
    the old file list — bounds and deletion vectors carried), zero
    data movement at any table size; this is the operational 'put the
    table back NOW' lever a 100 TB pipeline incident needs."""
    from pulsar_project_spark.sources.txlog import tx_compact, tx_restore

    path = _build_tx_events_table(spark, sf_dir)
    tx_compact(spark, path, target_bytes=1 << 22)
    tx_restore(path, 2)
    return _tx_census(spark, path, version=None)


_TX_EVOLVE_SCHEMA_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN (((event_id % 2) + 2) % 2 = 1 OR event_id IS NULL)
                      AND ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_day
FROM events
GROUP BY event_type
"""


@declare("tx_schema_evolution_census", oracle=_TX_EVOLVE_SCHEMA_SQL)
def q_tx_schema_evolution_census(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION (ADD COLUMN) on the transactional log — the
    lakehouse property that widening a table costs ZERO rewrites:
    generation 1 lands WITHOUT the ``day`` column, generation 2 lands
    with it, and ``tx_read(merge_schema=True)`` unions the generations
    by name — old rows scan with NULL for the new column, exactly
    Delta/Iceberg ADD COLUMN semantics. The census counts per type how
    many rows CARRY the new column (non-NULL day — only generation-2
    rows with a timestamp can), alongside the full-row count and exact
    cents, and the oracle replays the generation split from raw events
    — a row that lost or gained the column wrongly, or a NULL-fill
    leaking into the wrong generation, breaks the hash. This
    complements `tx_partition_evolution_census` (layout evolves) with
    the SCHEMA evolving; DML predicates must reference columns present
    in every generation (evolve-then-backfill first — the real
    systems' rule too).

    Scale shape: widening a 100 TB table is one metadata decision; the
    merged read costs the same scan it always did (parquet mergeSchema
    resolves footers, not data)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read,
    )

    path = _fresh_tx_table("txlog_evolve_schema")
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint").alias("value_cents")
    res = F.pmod(F.col("event_id"), F.lit(2))
    gen1 = ev.filter(res == 0).select("user_id", "event_type", cents)
    gen2 = ev.filter((res == 1) | F.col("event_id").isNull()).select(
        "user_id", "event_type", cents,
        F.expr("ts_us div 86400000000").alias("day"))
    tx_append(gen1, path, n_files=2)
    tx_append(gen2, path, n_files=2)
    back = tx_read(spark, path, merge_schema=True)
    if "day" not in back.columns:
        # a degenerate corpus may write only generation-1 files
        back = back.withColumn("day", F.lit(None).cast("long"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.count("day").alias("n_with_day"),
    )


_TX_UPDATE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CASE WHEN user_id BETWEEN 100 AND 300
                     THEN CAST(round(value * 100) AS BIGINT) * 3 + 7
                     ELSE CAST(round(value * 100) AS BIGINT) END)
            AS BIGINT) AS total_cents
FROM events
GROUP BY event_type
"""


@declare("tx_update_census", oracle=_TX_UPDATE_SQL)
def q_tx_update_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE completing the DML roster (append / delete /
    merge / UPDATE) on the transactional log: after OPTIMIZE ZORDER
    records per-file (user_id, day) bounds, ``tx_update`` rewrites ONLY
    the files whose bounds can contain user_id in [100, 300], applying
    ``value_cents = value_cents * 3 + 7`` to exactly the matching rows
    and carrying every other row byte-identical — untouched files carry
    by name behind the CAS. NULL user_ids never match a range predicate
    and pass through unchanged. The census over the updated table is
    replayed by the oracle as a CASE expression over the raw events, so
    an over-update (bystander rows transformed), under-update (matching
    rows missed), or a dropped/duplicated carry breaks the hash.
    Only-overlapping-files-rewritten is pinned in tests/test_txlog.py
    (layout-dependent, so it belongs to a test)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_optimize_zorder,
        tx_read,
        tx_update,
    )

    path = _fresh_tx_table("txlog_update")
    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append(ev, path, n_files=4)
    tx_optimize_zorder(spark, path, "user_id", "day", n_files=8)
    tx_update(spark, path, "user_id", 100, 300,
              {"value_cents": "value_cents * 3 + 7"})
    return tx_read(spark, path).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


_TX_TYPED_CDF_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
),
rng AS (SELECT * FROM per_user WHERE user_id BETWEEN 100 AND 300),
del AS (SELECT * FROM per_user WHERE user_id BETWEEN 150 AND 250)
SELECT 'insert' AS change_type,
       CAST((SELECT count(*) FROM per_user)
          + (SELECT count(*) FROM rng) AS BIGINT) AS n_rows,
       CAST(COALESCE((SELECT sum(cents) FROM per_user), 0)
          + COALESCE((SELECT sum(cents) FROM rng), 0) AS BIGINT)
         AS total_cents
WHERE (SELECT count(*) FROM per_user) > 0
UNION ALL
SELECT 'update_preimage',
       CAST((SELECT count(*) FROM rng) AS BIGINT),
       CAST(COALESCE((SELECT sum(cents) FROM rng), 0) AS BIGINT)
WHERE (SELECT count(*) FROM rng) > 0
UNION ALL
SELECT 'update_postimage',
       CAST((SELECT count(*) FROM rng) AS BIGINT),
       CAST(3 * COALESCE((SELECT sum(cents) FROM rng), 0)
          + (SELECT count(*) FROM rng) AS BIGINT)
WHERE (SELECT count(*) FROM rng) > 0
UNION ALL
SELECT 'delete',
       CAST((SELECT count(*) FROM del) AS BIGINT),
       CAST(3 * COALESCE((SELECT sum(cents) FROM del), 0)
          + (SELECT count(*) FROM del) AS BIGINT)
WHERE (SELECT count(*) FROM del) > 0
"""


@declare("tx_typed_change_feed_census", oracle=_TX_TYPED_CDF_SQL)
def q_tx_typed_change_feed_census(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TYPED change data feed — the Delta CDF surface with all four
    change classes, derived relationally with zero writer cooperation:
    within one commit, a key present on BOTH sides of the weighted feed
    is an update (delete row → 'update_preimage', insert row →
    'update_postimage'); one-sided keys keep 'insert'/'delete'. The
    history exercises every class: an append (inserts), a MERGE that
    transforms users 100-300 to ``3*cents + 1`` (an integer map with no
    fixed point, so every matched key REALLY changes and must pair as
    pre+post — a no-op update would cancel upstream and emit nothing,
    the Delta convention), a second MERGE inserting shadow keys
    (pure inserts, no pairing), and a deletion-vector delete of users
    150-250 (one-sided deletes of the rows AS UPDATED — the oracle's
    ``3*cents + 1`` delete side certifies the feed reads post-update
    values, not originals). The census folds per change class; the
    oracle replays all four classes closed-form from raw events, so a
    mislabeled pair, a phantom update, or a stale preimage breaks the
    hash.

    Scale shape: the labeling is one window over (commit, key) on the
    already-small feed (touched rows, not the table) — the typed view
    costs what the weighted view costs at any table size."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_delete_range_dv,
        tx_merge_upsert,
        tx_typed_changes,
    )

    path = _fresh_tx_table("txlog_typed_cdf")
    per_user = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .cast("bigint").alias("cents"))
    )
    in_range = per_user.filter(F.col("user_id").between(100, 300))
    # clustered append: per-file user_id bounds make the range merge
    # rewrite only overlapping files and the beyond-range shadow merge
    # rewrite NOTHING (pure insert) — the targeted-DML pattern at scale,
    # and it halves the census build cost (BENCH_NOTES round-8 cont.)
    tx_append_clustered(per_user, path, ["user_id"], n_files=4)      # v1
    tx_merge_upsert(                                                 # v2
        spark, path,
        in_range.select("user_id",
                        (F.col("cents") * 3 + 1).alias("cents")),
        "user_id")
    tx_merge_upsert(                                                 # v3
        spark, path,
        in_range.select((F.col("user_id") + 10_000_000).alias("user_id"),
                        "cents"),
        "user_id")
    tx_delete_range_dv(spark, path, "user_id", 150, 250)             # v4
    feed = tx_typed_changes(spark, path, "user_id", 0)
    return (
        feed.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.sum("_n").cast("bigint").alias("n_rows"),
            F.sum(F.col("_n") * F.col("cents")).cast("bigint")
            .alias("total_cents"),
        )
    )


_TX_BLOOM_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, cents FROM per_user
WHERE user_id IN (5, 105, 205, 305, 405)
"""


@declare("tx_bloom_point_lookup_census", oracle=_TX_BLOOM_SQL)
def q_tx_bloom_point_lookup_census(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """BLOOM FILTER INDEX point lookup — the skipping structure for the
    query min/max bounds CANNOT serve: the per-user table is HASH-
    scattered across 8 files (every file spans the whole user_id range,
    so range pruning keeps everything), and the per-file blooms written
    by ``tx_append_bloomed`` prove definite absence instead — the
    5-needle probe opens only the maybe-files (actual skipping pinned
    in tests/test_txlog.py; this census pins CORRECTNESS: the bloom is
    no-false-negative by construction, so the lookup result must equal
    the oracle's plain IN-list replay from raw events — a lost needle
    means the index lied). Files without a bloom are conservatively
    read, so correctness never depends on the filter.

    Scale shape: planning is driver arithmetic on manifest metadata —
    zero storage I/O for skipped files; at 100 TB a needle query costs
    the handful of files that might contain it, not a table scan."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_bloomed,
        tx_read_bloom_point,
    )

    path = _fresh_tx_table("txlog_bloom")
    per_user = (
        load_events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint"))
             .cast("bigint").alias("cents"))
    )
    # hash-scatter: every file spans the full id range on purpose
    tx_append_bloomed(per_user.repartition(8, "user_id"), path,
                      "user_id", n_files=None)
    df, _n_read, _n_total = tx_read_bloom_point(
        spark, path, "user_id", [5, 105, 205, 305, 405])
    return df.select("user_id", "cents")


_TX_RENAME_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(count(CASE WHEN ((event_id % 2) + 2) % 2 = 0 THEN 1 END)
            AS BIGINT) AS n_gen1
FROM events
GROUP BY event_type
"""


@declare("tx_rename_column_census", oracle=_TX_RENAME_SQL)
def q_tx_rename_column_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN without rewriting a byte (read-time column
    mapping): generation 1 lands under the OLD name (``value_cents``),
    the rename commits as pure metadata, generation 2 lands under the
    NEW name (``cents``) — and the merged read sees ONE logical column
    spanning both generations. The census sums that logical column per
    type and counts gen-1 rows separately, so a rename that dropped,
    double-counted, or NULLed either generation breaks the hash; the
    oracle replays from raw events where the distinction never existed.
    Chain composition (a→b→c), time travel showing each snapshot under
    its own chain, DML migration, and feed windows crossing the rename
    are pinned in tests/test_txlog.py.

    Scale shape: the rename is one manifest commit at any table size;
    the read-side cost is a coalesce projection — zero data movement,
    with compaction retiring the mapping debt over time exactly like
    deletion-vector debt."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read,
        tx_rename_column,
    )

    path = _fresh_tx_table("txlog_rename")
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    res = F.pmod(F.col("event_id"), F.lit(2))
    gen1 = ev.filter(res == 0).select(
        "event_type", cents.alias("value_cents"),
        F.lit(1).cast("bigint").alias("gen1"))
    gen2 = ev.filter((res == 1) | F.col("event_id").isNull()).select(
        "event_type", cents.alias("cents"),
        F.lit(0).cast("bigint").alias("gen1"))
    tx_append(gen1, path, n_files=2)
    tx_rename_column(path, "value_cents", "cents")
    tx_append(gen2, path, n_files=2)
    back = tx_read(spark, path)
    if "cents" not in back.columns:
        back = back.withColumn("cents", F.lit(None).cast("bigint"))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("cents"),
        F.sum("gen1").cast("bigint").alias("n_gen1"),
    )


_TX_DROP_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY event_type
"""


@declare("tx_drop_column_census", oracle=_TX_DROP_SQL)
def q_tx_drop_column_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN without rewriting a byte (column-mapping sibling of
    RENAME): generation 1 lands WITH a scratch column, the drop commits
    as pure metadata, generation 2 lands without it — and the merged
    read shows the clean logical schema over both generations with
    every row intact. The census is the full-relation rollup the
    oracle replays from raw events (where the scratch column never
    existed), so a drop that lost rows, leaked the column back, or
    disturbed surviving columns breaks the hash. A belt-and-braces
    guard inside the query raises if the dropped column resurfaces.
    Lazy reclamation (DML/compaction rewrites retire the bytes),
    pre-drop time travel, drop-of-renamed, and the
    constraint-referenced refusal are pinned in tests/test_txlog.py."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_drop_column,
        tx_read,
    )

    path = _fresh_tx_table("txlog_dropcol")
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    res = F.pmod(F.col("event_id"), F.lit(2))
    gen1 = ev.filter(res == 0).select(
        "event_type", cents.alias("value_cents"),
        F.expr("ts_us div 86400000000").alias("scratch_day"))
    gen2 = ev.filter((res == 1) | F.col("event_id").isNull()).select(
        "event_type", cents.alias("value_cents"))
    tx_append(gen1, path, n_files=2)
    tx_drop_column(path, "scratch_day")
    tx_append(gen2, path, n_files=2)
    back = tx_read(spark, path)
    if "scratch_day" in back.columns:
        raise AssertionError("dropped column resurfaced in the logical read")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


_TX_PRUNE_RENAMED_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
WHERE user_id BETWEEN 0 AND 400
GROUP BY event_type
"""


@declare("tx_pruned_read_renamed_census", oracle=_TX_PRUNE_RENAMED_SQL)
def q_tx_pruned_read_renamed_census(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Stats pruning THROUGH the rename chain (VERDICT r8 order #1 —
    the composition of round-8 schema evolution with round-7/8 data
    skipping): generation 1 lands range-clustered on the OLD name
    (``uid``, per-file bounds recorded under it), the rename to
    ``user_key`` commits as pure metadata, generation 2 lands clustered
    under the NEW name — and ``tx_read_pruned`` on the LOGICAL name
    must skip files of BOTH generations, resolving each file's bounds
    through the chain (``_physical_ancestors``). Before this round the
    pre-rename generation was conservatively unprunable — at 100 TB,
    renaming a hot filter column silently cost full-history scans until
    compaction retired the mapping. The census hash-matches the
    oracle's filtered rollup over raw events, so a bounds resolution
    that skipped a file it shouldn't have (lost rows) or mis-joined
    generations breaks the gate; the actual skip COUNT on both
    generations is pinned in tests/test_txlog.py (layout-dependent, so
    it belongs to a test, not a hash)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_read_pruned,
        tx_rename_column,
        tx_snapshot,
    )

    empty_schema = StructType([
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ])
    path = _fresh_tx_table("txlog_prune_renamed")
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    res = F.pmod(F.col("event_id"), F.lit(2))
    gen1 = ev.filter(res == 0).select(
        F.col("user_id").alias("uid"), "event_type",
        cents.alias("value_cents"))
    gen2 = ev.filter((res == 1) | F.col("event_id").isNull()).select(
        F.col("user_id").alias("user_key"), "event_type",
        cents.alias("value_cents"))
    if not gen1.isEmpty():
        tx_append_clustered(gen1, path, ["uid"], n_files=4)
        tx_rename_column(path, "uid", "user_key")
    if not gen2.isEmpty():
        tx_append_clustered(gen2, path, ["user_key"], n_files=4)
    if not tx_snapshot(path)["files"]:
        # both generations empty: nothing was appended, so the table
        # has no schema to type an empty read with
        return spark.createDataFrame([], empty_schema)
    pruned, _n_read, _n_total = tx_read_pruned(
        spark, path, "user_key", 0, 400)
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
    )


_TX_WIDEN_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM events
GROUP BY event_type
"""


@declare("tx_widen_column_census", oracle=_TX_WIDEN_SQL)
def q_tx_widen_column_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN TYPE (widening) without rewriting a byte — the
    remaining member of the standard schema-evolution set after
    ADD/RENAME/DROP (VERDICT r8 order #3): generation 1 lands with
    ``cents`` as INT, the widen to BIGINT commits as pure metadata
    (``tx_widen_column``), generation 2 lands as BIGINT natively — and
    the merged read presents ONE bigint column over both generations
    via an explicit footer-union read schema with Spark's scan-level
    parquet type promotion (mergeSchema refuses int/bigint unions; the
    promotion path reads int32 pages as longs with zero copies of the
    data). A belt-and-braces guard raises if the logical type is not
    bigint. The census (count / exact sum / max per type) hash-matches
    the oracle over raw events where the narrow generation never
    existed, so a promotion that truncated, NULLed, or double-read
    either generation breaks the gate. Widen-then-filter pushdown,
    pre-widen time travel (each snapshot under its own type), lossy
    and narrowing rejections, and idempotence are pinned in
    tests/test_txlog.py."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_read,
        tx_snapshot,
        tx_widen_column,
    )

    empty_schema = StructType([
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("max_cents", LongType()),
    ])
    path = _fresh_tx_table("txlog_widen")
    ev = load_events(spark, sf_dir)
    res = F.pmod(F.col("event_id"), F.lit(2))
    gen1 = ev.filter(res == 0).select(
        "event_type",
        F.round(F.col("value") * 100).cast("int").alias("cents"))
    gen2 = ev.filter((res == 1) | F.col("event_id").isNull()).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    if not gen1.isEmpty():
        tx_append(gen1, path, n_files=2)
        tx_widen_column(path, "cents", "bigint")
    if not gen2.isEmpty():
        tx_append(gen2, path, n_files=2)
    if not tx_snapshot(path)["files"]:
        # both generations empty: nothing was appended, so the table
        # has no schema to type an empty read with
        return spark.createDataFrame([], empty_schema)
    back = tx_read(spark, path)
    if gen1.isEmpty():
        # only the native-bigint generation landed: nothing was widened
        back = back.withColumn("cents", F.col("cents").cast("bigint"))
    if back.schema["cents"].dataType.simpleString() != "bigint":
        raise AssertionError(
            f"widened column read back as "
            f"{back.schema['cents'].dataType.simpleString()}, not bigint")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("total_cents"),
        F.max("cents").alias("max_cents"),
    )


_TX_MERGE_COND_SQL = """
WITH base AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
         ((event_id % 2) + 2) % 2 AS r2
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
),
tgt AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM base WHERE r2 = 0 GROUP BY user_id
),
src AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM base WHERE r2 = 1 GROUP BY user_id
),
merged AS (
  SELECT t.user_id,
         CASE WHEN s.user_id IS NOT NULL AND s.cnt % 2 = 1
              THEN t.cnt + s.cnt ELSE t.cnt END AS cnt,
         CASE WHEN s.user_id IS NOT NULL AND s.cnt % 2 = 1
              THEN t.cents + s.cents ELSE t.cents END AS cents
  FROM tgt t LEFT JOIN src s ON t.user_id = s.user_id
  UNION ALL
  SELECT s.user_id, s.cnt, s.cents FROM src s
  WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.user_id = s.user_id)
)
SELECT ((user_id % 23) + 23) % 23 AS bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cnt) AS BIGINT) AS total_events,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM merged GROUP BY bucket
"""


@declare("tx_merge_conditional_census", oracle=_TX_MERGE_COND_SQL)
def q_tx_merge_conditional_census(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """FULL CONDITIONAL MERGE — the three-clause Delta statement
    (``tx_merge``), beyond the round-7 replace-whole-row upsert: per-
    user rollups of the EVEN event-id half are the target (range-
    clustered so manifest bounds make the merge targeted); the ODD
    half's rollups merge in with ``WHEN MATCHED AND __s_cnt % 2 = 1
    THEN UPDATE SET cnt = cnt + __s_cnt, cents = cents + __s_cents``
    (accumulate — expressions over the join of target and ``__s_``-
    prefixed source) and ``WHEN NOT MATCHED THEN INSERT``. Matched
    rows FAILING the condition must carry through byte-identical, so
    the census (23 user buckets × users/events/exact cents) breaks on
    a no-op match that mutated, an insert that dropped, or an update
    applied to the wrong clause — the oracle replays the clause logic
    as a relational CASE. The delete clause, bounds-targeting, and
    constraint enforcement under the condition are pinned in
    tests/test_txlog.py.

    Scale shape: source key range picks the files that can match
    (rename-chain-resolved bounds); NOT MATCHED anti-joins only the
    affected files' keys (kept files cannot match, by the same bounds
    argument) — a targeted merge costs the overlap, never the table."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_merge,
        tx_read,
        tx_snapshot,
    )

    empty_schema = StructType([
        StructField("bucket", LongType()),
        StructField("n_users", LongType()),
        StructField("total_events", LongType()),
        StructField("total_cents", LongType()),
    ])
    path = _fresh_tx_table("txlog_merge_cond")
    ev = load_events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    r2 = F.pmod(F.col("event_id"), F.lit(2))
    tgt = (ev.filter(r2 == 0).groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.sum(cents).cast("bigint").alias("cents")))
    src = (ev.filter(r2 == 1).groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.sum(cents).cast("bigint").alias("cents")))
    if not tgt.isEmpty():
        tx_append_clustered(tgt, path, ["user_id"], n_files=4)
    if src.isEmpty():
        if not tx_snapshot(path)["files"]:
            # target and source both empty: nothing was appended, so
            # the table has no schema to type an empty read with
            return spark.createDataFrame([], empty_schema)
    else:
        tx_merge(spark, path, src, "user_id",
                 when_matched_set={"cnt": "cnt + __s_cnt",
                                   "cents": "cents + __s_cents"},
                 matched_condition="__s_cnt % 2 = 1")
    back = tx_read(spark, path)
    return back.groupBy(
        F.pmod(F.col("user_id"), F.lit(23)).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cnt").cast("bigint").alias("total_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


_TX_REORG_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY event_type
"""


@declare("tx_reorg_purge_census", oracle=_TX_REORG_SQL)
def q_tx_reorg_purge_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG TABLE ... APPLY (PURGE): a table is built with EVERY kind
    of column-mapping debt — generation 1 lands with a scratch column
    (later DROPped), under an old name (later RENAMEd), as INT (later
    WIDENed); generation 2 lands clean — then ``tx_reorg_purge``
    rewrites exactly the lagging generation and commits with the
    rename chain, drop list, and type map CLEARED, returning the read
    path to vanilla (no coalesce projection, no explicit schema, bytes
    of the dropped column actually reclaimable). The census over the
    reorged table must hash-match the oracle over raw events, so a
    purge that lost rows, leaked the dropped column's values, or
    mis-cast the widen breaks the gate; an in-query guard raises if any
    mapping metadata survives. Physical-schema assertions, DV purge,
    carry-by-name for clean files, and pre-reorg time travel are pinned
    in tests/test_txlog.py."""
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_drop_column,
        tx_read,
        tx_rename_column,
        tx_reorg_purge,
        tx_snapshot,
        tx_widen_column,
    )

    empty_schema = StructType([
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ])
    path = _fresh_tx_table("txlog_reorg")
    ev = load_events(spark, sf_dir)
    res = F.pmod(F.col("event_id"), F.lit(2))
    gen1 = ev.filter(res == 0).select(
        "event_type",
        F.round(F.col("value") * 100).cast("int").alias("value_cents"),
        F.expr("ts_us div 86400000000").alias("scratch_day"))
    gen2 = ev.filter((res == 1) | F.col("event_id").isNull()).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    if not gen1.isEmpty():
        tx_append(gen1, path, n_files=2)
        tx_drop_column(path, "scratch_day")
        tx_rename_column(path, "value_cents", "cents")
        tx_widen_column(path, "cents", "bigint")
    if not gen2.isEmpty():
        tx_append(gen2, path, n_files=2)
    tx_reorg_purge(spark, path)
    snap = tx_snapshot(path)
    if snap.get("renames") or snap.get("drops") or snap.get("types"):
        raise AssertionError("reorg left mapping metadata behind")
    if not snap["files"]:
        # both generations empty: nothing was appended, so the table
        # has no schema to type an empty read with
        return spark.createDataFrame([], empty_schema)
    back = tx_read(spark, path)
    if "scratch_day" in back.columns:
        raise AssertionError("dropped column resurfaced after reorg")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# --- Round 9 (continuation): row tracking ------------------------------------

_TX_ROW_TRACKING_SQL = """
WITH b0 AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 0
), b1 AS (
  SELECT o_orderkey, o_custkey,
         (SELECT count(*) FROM b0)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 1
), b2 AS (
  SELECT o_orderkey, o_custkey,
         (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 2
), allr AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
), live AS (
  SELECT * FROM allr
  WHERE o_custkey IS NULL OR o_custkey NOT BETWEEN 2 AND 400
)
SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(min(rid) AS BIGINT) AS min_rid,
       CAST(max(rid) AS BIGINT) AS max_rid
FROM live
GROUP BY o_orderkey % 7
"""


@declare("tx_row_tracking_census", oracle=_TX_ROW_TRACKING_SQL)
def q_tx_row_tracking_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW TRACKING (stable row ids across physical rewrites — Delta's
    row-tracking feature): three tracked appends assign table-unique
    positional ids (``rids[file] = base`` in the manifest, id = base +
    ``_metadata.row_index``, ZERO bytes stored); a DV delete then
    removes rows from the middle of every file WITHOUT shifting ids
    (the mask is read-time); compaction applies the masks and rewrites
    — at which point the ids are MATERIALIZED as a physical ``_rid``
    column, so the positional shifts the rewrite just caused cannot
    recompute them. The census aggregates sum/min/max of the ids per
    orderkey bucket: a compaction that recomputed ids positionally
    (the natural bug) closes the deleted rows' id gaps and breaks
    ``sum_rid`` immediately. The oracle replays the id arithmetic in
    pure SQL — batch bases are running counts, within-batch position
    is row_number over the staged sort order.

    Why this matters at 100 TB: row identity is what lets change
    feeds, audit diffs, and incremental consumers say "same row,
    moved" across OPTIMIZE — without it every compaction looks like a
    full delete+reinsert downstream. Ids are never reused (hwm only
    grows), racing tracked appends get disjoint ranges (base assigned
    inside the CAS loop). Reference scope: the reference's in-memory
    records keep list-position identity (memory.py:63-90); this makes
    that identity durable and rewrite-stable."""
    from pulsar_project_spark.sources.tables import load_table
    from pulsar_project_spark.sources.txlog import (
        tx_append_tracked,
        tx_compact,
        tx_delete_range_dv,
        tx_read_tracked,
    )

    path = _fresh_tx_table("txlog_row_tracking")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    for r in (0, 1, 2):
        batch = orders.filter(
            F.pmod(F.col("o_orderkey"), F.lit(3)) == r
        ).repartition(1).sortWithinPartitions("o_orderkey")
        tx_append_tracked(batch, path)
    tx_delete_range_dv(spark, path, "o_custkey", 2, 400)
    tx_compact(spark, path, target_bytes=1 << 30)
    t = tx_read_tracked(spark, path)
    return t.groupBy(
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_rid").cast("bigint").alias("sum_rid"),
        F.min("_rid").cast("bigint").alias("min_rid"),
        F.max("_rid").cast("bigint").alias("max_rid"),
    )


_TX_KEYLESS_CDC_SQL = """
WITH b0 AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 0
), b1 AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         (SELECT count(*) FROM b0)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 1
), b2 AS (
  SELECT o_orderkey, o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 2
), base AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM b1
), changes AS (
  SELECT rid, cents, 'insert' AS change_type FROM b2
  UNION ALL
  SELECT rid, cents, 'delete' FROM base
  WHERE o_custkey BETWEEN 2 AND 150
  UNION ALL
  SELECT rid, cents, 'update_pre' FROM base
  WHERE o_custkey BETWEEN 100 AND 400
    AND NOT o_custkey BETWEEN 2 AND 150 AND cents IS NOT NULL
  UNION ALL
  SELECT rid, cents * 2 + 5, 'update_post' FROM base
  WHERE o_custkey BETWEEN 100 AND 400
    AND NOT o_custkey BETWEEN 2 AND 150 AND cents IS NOT NULL
)
SELECT change_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(rid) AS BIGINT) AS sum_rid
FROM changes
GROUP BY change_type
"""


@declare("tx_keyless_cdc_census", oracle=_TX_KEYLESS_CDC_SQL)
def q_tx_keyless_cdc_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS CDC — the row-tracking payoff (``tx_changes_by_rid``):
    a typed change feed for a table with no primary key. Two tracked
    appends pin the ``v_from`` snapshot; a COW UPDATE (cents := 2c+5
    where custkey in [100,400]) rewrites files WITHOUT changing row
    identity; a DV delete (custkey in [2,150]) masks rows without
    moving any; a third tracked append inserts fresh rows. The
    endpoint diff joined on ``_rid`` must then report: the third
    batch as inserts, the deleted range as deletes carrying the
    ORIGINAL (v_from) image even where the interim update also touched
    them (endpoint semantics), and the updated-but-not-deleted rows as
    update_pre/update_post pairs under the SAME id — which only holds
    if ids survived the COW rewrite. The oracle replays ids and DML in
    pure SQL; sum_rid per change class pins identity exactly.

    Scale shape: the diff is one hash join on a dense 8-byte id; the
    DML is bounds-pruned (tracked appends record custkey stats).
    Without row tracking this feed would key on ALL columns and
    report every update as delete+insert and every OPTIMIZE as full
    churn — the difference between an incremental MERGE consumer
    reading O(changes) and re-reading the table."""
    from pulsar_project_spark.sources.tables import load_table
    from pulsar_project_spark.sources.txlog import (
        tx_append_tracked,
        tx_changes_by_rid,
        tx_delete_range_dv,
        tx_latest_version,
        tx_update,
    )

    path = _fresh_tx_table("txlog_keyless_cdc")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    for r in (0, 1):
        batch = orders.filter(
            F.pmod(F.col("o_orderkey"), F.lit(3)) == r
        ).repartition(1).sortWithinPartitions("o_orderkey")
        tx_append_tracked(batch, path, stat_cols=["o_custkey"])
    v_from = tx_latest_version(path)
    tx_update(spark, path, "o_custkey", 100, 400, {"cents": "cents * 2 + 5"})
    tx_delete_range_dv(spark, path, "o_custkey", 2, 150)
    b2 = orders.filter(
        F.pmod(F.col("o_orderkey"), F.lit(3)) == 2
    ).repartition(1).sortWithinPartitions("o_orderkey")
    tx_append_tracked(b2, path, stat_cols=["o_custkey"])
    ch = tx_changes_by_rid(spark, path, v_from)
    return ch.groupBy(
        F.col("_change_type").alias("change_type")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.sum("_rid").cast("bigint").alias("sum_rid"),
    )


_GEN_DAY_US = 86_400_000_000
_GEN_TS_LO = 19_731 * _GEN_DAY_US + 3_600_000_000   # mid-day window edges:
_GEN_TS_HI = 19_735 * _GEN_DAY_US + 7_200_000_000   # derivation must floor

# DuckDB ``//`` floors where Spark's ``div`` truncates — safe here
# because the WHERE clause bounds ts_us between positive constants, so
# the two divisions provably agree on every surviving row.
_TX_GENERATED_SQL = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(sum(epoch_us(ts) // {_GEN_DAY_US}) AS BIGINT) AS sum_day
FROM events
WHERE epoch_us(ts) BETWEEN {_GEN_TS_LO} AND {_GEN_TS_HI}
GROUP BY event_type
"""


@declare("tx_generated_column_census", oracle=_TX_GENERATED_SQL)
def q_tx_generated_column_census(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """GENERATED COLUMNS with derived-predicate pruning (Delta's
    generated-column partition pruning): the table declares
    ``day GENERATED ALWAYS AS (ts_us div 86400000000)`` BEFORE any
    write; the append supplies only raw events (no day column), so the
    writer COMPUTES it, clusters by it, and records per-file day
    bounds. The read then filters on the BASE column ``ts_us`` — which
    has NO recorded stats at all — and still skips files, because the
    monotone generator lets the planner derive day bounds from the
    ts_us range ([lo div K, hi div K]). The census sums the generated
    day values too, certifying the write-time computation against the
    oracle's direct expression, and the window edges sit mid-day so
    the floor in the derivation is load-bearing. The files-actually-
    skipped property and the supplied-value validation (a wrong day is
    rejected like a CHECK violation) are pinned in
    tests/test_txlog_rowtracking.py.

    Scale shape: at 100 TB every query naturally filters raw
    timestamps while layout/stats track the day bucket — derivation is
    what keeps those queries planning-time prunable WITHOUT asking
    users to rewrite predicates, and declaring the generator costs
    zero data movement."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_read_pruned,
        tx_set_generated,
    )

    path = _fresh_tx_table("txlog_generated")
    tx_set_generated(path, "day", "ts_us", _GEN_DAY_US)
    ev = load_events(spark, sf_dir).select(
        "event_type", "ts_us",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append_clustered(ev, path, ["day"], n_files=4)
    pruned, _n_read, _n_total = tx_read_pruned(
        spark, path, "ts_us", _GEN_TS_LO, _GEN_TS_HI)
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.sum("day").cast("bigint").alias("sum_day"),
    )


# UPDATE moving the generator's base: a mid-day window shifted forward
# 10 whole days, then queried AT THE DESTINATION through derived
# pruning. Before the round-10 fix this was the silent-wrong-results
# scenario (ADVICE r9 high): the rewrite carried STALE day values, so
# the moved rows' files kept old day bounds and the destination query's
# derived range skipped them.
_GEN_MOVE_LO = 19_731 * _GEN_DAY_US + 3_600_000_000
_GEN_MOVE_HI = 19_732 * _GEN_DAY_US + 7_200_000_000
_GEN_MOVE_DELTA = 10 * _GEN_DAY_US
_GEN_DEST_LO = 19_741 * _GEN_DAY_US
_GEN_DEST_HI = 19_743 * _GEN_DAY_US

_TX_GENERATED_DML_SQL = f"""
WITH base AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), updated AS (
  SELECT event_type,
         CASE WHEN ts_us BETWEEN {_GEN_MOVE_LO} AND {_GEN_MOVE_HI}
              THEN ts_us + {_GEN_MOVE_DELTA} ELSE ts_us END AS ts_us,
         cents
  FROM base
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       -- floor (//) vs trunc (div) agree: WHERE bounds ts_us positive
       CAST(sum(ts_us // {_GEN_DAY_US}) AS BIGINT) AS sum_day
FROM updated
WHERE ts_us BETWEEN {_GEN_DEST_LO} AND {_GEN_DEST_HI}
GROUP BY event_type
"""


@declare("tx_generated_dml_census", oracle=_TX_GENERATED_DML_SQL)
def q_tx_generated_dml_census(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """GENERATED-COLUMN MAINTENANCE UNDER DML (the ADVICE r9 high fix,
    driver-checkable): declare ``day = ts_us div 86400000000``, append
    clustered-by-day, UPDATE a mid-day ts window forward 10 whole days
    (the SET targets the generator's BASE, so ``tx_update`` must
    recompute ``day`` on the moved rows — txlog.py
    ``_regenerate_updated``), then read the DESTINATION window through
    derived pruning and sum the STORED day column. The oracle computes
    day directly from the post-move timestamps, so a stale stored value
    OR a derived-pruned-away moved row is a hash mismatch — the exact
    silent-wrong-results scenario the fix closes.

    Scale shape: identical to ``tx_generated_column_census`` plus one
    bounded copy-on-write rewrite (manifest bounds pick the overlapping
    files; kept files carry by name)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_clustered,
        tx_read_pruned,
        tx_set_generated,
        tx_update,
    )

    path = _fresh_tx_table("txlog_gen_dml")
    tx_set_generated(path, "day", "ts_us", _GEN_DAY_US)
    ev = load_events(spark, sf_dir).select(
        "event_type", "ts_us",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    tx_append_clustered(ev, path, ["day"], n_files=4)
    tx_update(spark, path, "ts_us", _GEN_MOVE_LO, _GEN_MOVE_HI,
              {"ts_us": f"ts_us + {_GEN_MOVE_DELTA}"})
    pruned, _n_read, _n_total = tx_read_pruned(
        spark, path, "ts_us", _GEN_DEST_LO, _GEN_DEST_HI)
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.sum("day").cast("bigint").alias("sum_day"),
    )


_TX_DATASOURCE_SQL = """
WITH b0 AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 0
), b1 AS (
  SELECT o_orderkey, o_custkey,
         (SELECT count(*) FROM b0)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 1
), b2 AS (
  SELECT o_orderkey, o_custkey,
         (SELECT count(*) FROM b0) + (SELECT count(*) FROM b1)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 3 = 2
), allr AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
), live AS (
  SELECT * FROM allr
  WHERE (o_custkey IS NULL OR o_custkey NOT BETWEEN 2 AND 400)
    AND o_custkey > 500
)
SELECT CAST(o_orderkey % 5 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
FROM live
GROUP BY o_orderkey % 5
"""


@declare("tx_datasource_read_census", oracle=_TX_DATASOURCE_SQL)
def q_tx_datasource_read_census(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The tx log behind Spark's STANDARD read API: a registered batch
    Python DataSource (``spark.read.format("tx_table")``) plans the
    pinned snapshot from manifest metadata, derives the logical schema
    (renames/drops/widen resolved — no user DDL), exposes the stable
    row ids via ``withRowIds``, applies deletion vectors as vectorized
    position masks, and prunes whole files from the query's own WHERE
    clause through Spark 4.1 ``pushFilters`` against the manifest
    bounds (advisory pushdown: every filter is also re-applied by
    Spark, so correctness never rests on the stats). The census reads
    a table built as tracked appends -> DV delete -> compaction
    through the source with a pushed ``o_custkey > 500`` filter and
    pins values AND ids against the oracle's replay — certifying the
    whole DataSource plane (schema derivation, masking, id resolution,
    filter re-application) in one hash.

    Scale shape: ``schema()``/``partitions()`` do zero data I/O; one
    split per live file; the Arrow data plane streams record batches.
    Production consumers wanting JVM-side throughput use tx_read* —
    twin tests pin the semantics equal. See ``sources/tx_batch.py``."""
    from pulsar_project_spark.sources.tables import load_table
    from pulsar_project_spark.sources.tx_batch import TxTableDataSource
    from pulsar_project_spark.sources.txlog import (
        tx_append_tracked,
        tx_compact,
        tx_delete_range_dv,
    )

    path = _fresh_tx_table("txlog_datasource")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    for r in (0, 1, 2):
        batch = orders.filter(
            F.pmod(F.col("o_orderkey"), F.lit(3)) == r
        ).repartition(1).sortWithinPartitions("o_orderkey")
        tx_append_tracked(batch, path, stat_cols=["o_custkey"])
    tx_delete_range_dv(spark, path, "o_custkey", 2, 400)
    tx_compact(spark, path, target_bytes=1 << 30)
    spark.dataSource.register(TxTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    t = (spark.read.format("tx_table")
         .option("tableDir", path)
         .option("withRowIds", "true")
         .load()
         .where(F.col("o_custkey") > 500))
    return t.groupBy(
        F.pmod(F.col("o_orderkey"), F.lit(5)).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_rid").cast("bigint").alias("sum_rid"),
        F.sum("o_custkey").cast("bigint").alias("sum_custkey"),
    )


_TX_DS_WRITE_SQL = """
WITH b0 AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 2 = 0
), b1 AS (
  SELECT o_orderkey, o_custkey,
         (SELECT count(*) FROM b0)
         + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
  FROM orders WHERE o_orderkey % 2 = 1
), allr AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM b1
), live AS (
  SELECT * FROM allr WHERE o_custkey > 300
)
SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
FROM live
GROUP BY o_orderkey % 4
"""


@declare("tx_datasource_write_census", oracle=_TX_DS_WRITE_SQL)
def q_tx_datasource_write_census(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The STANDARD write API against the tx log
    (``df.write.format("tx_table").mode("append")``): a two-phase
    commit where executor tasks stage Arrow batches and the driver
    publishes one manifest CAS — exercised here against a CONSTRAINED,
    row-TRACKED table. Batch 0 lands via ``tx_append_tracked``
    (pinning the table as tracked); batch 1 lands through the standard
    writer, whose commit must validate the CHECK constraint (DuckDB
    evaluates the portable predicate — the data-source worker has no
    SparkSession) and mint positional row ids continuing from the hwm.
    The census reads back through the standard READ API with
    ``withRowIds`` and a pushed filter, so one hash certifies the
    whole round trip: write plane (staging, validation, id minting,
    CAS) and read plane (schema, masks, ids, pruning) together. The
    oracle replays both batches' id arithmetic in SQL — an id-minting
    bug in the writer (wrong base, double-counted partition, replayed
    file) breaks ``sum_rid`` immediately.

    Scale shape: per-task staging is embarrassingly parallel; commit
    cost is one manifest link regardless of data size; the read side
    plans from metadata. See ``sources/tx_batch.py``."""
    from pulsar_project_spark.sources.tables import load_table
    from pulsar_project_spark.sources.tx_batch import TxTableDataSource
    from pulsar_project_spark.sources.txlog import (
        tx_append_tracked,
        tx_set_constraint,
    )

    path = _fresh_tx_table("txlog_ds_write")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    b0 = orders.filter(
        F.pmod(F.col("o_orderkey"), F.lit(2)) == 0
    ).repartition(1).sortWithinPartitions("o_orderkey")
    tx_append_tracked(b0, path, stat_cols=["o_custkey"])
    tx_set_constraint(spark, path, "custkey_domain",
                      "o_custkey IS NULL OR o_custkey >= 0")
    b1 = orders.filter(
        F.pmod(F.col("o_orderkey"), F.lit(2)) == 1
    ).repartition(1).sortWithinPartitions("o_orderkey")
    spark.dataSource.register(TxTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    (b1.write.format("tx_table").option("tableDir", path)
     .mode("append").save())
    t = (spark.read.format("tx_table")
         .option("tableDir", path)
         .option("withRowIds", "true")
         .load()
         .where(F.col("o_custkey") > 300))
    return t.groupBy(
        F.pmod(F.col("o_orderkey"), F.lit(4)).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_rid").cast("bigint").alias("sum_rid"),
        F.sum("o_custkey").cast("bigint").alias("sum_custkey"),
    )

"""Structured Streaming surface (SURVEY.md §2.9, §3.3).

The reference's event flow — messages append per turn, memory state
(topic frequencies, retention tails, rolling summaries) updates per
micro-batch of 5 records (``client.py:323-324`` → ``memory.py:263-357``)
— re-expressed as Structured Streaming over the ``events`` table:

* **topic frequencies** (``memory.py:315-344`` upsert + frequency++):
  an *update*-mode streaming aggregation keyed (topic, day) with a
  watermark, merged per micro-batch into a parquet serving table via
  ``sources.sinks.merge_upsert``. Update mode emits only the keys that
  changed in the trigger (complete mode would re-emit the whole table
  every trigger and retain every key in state forever — a scale-killer
  at 100 TB/day with unbounded topic cardinality), the day bucket +
  watermark bound the state store (closed days are evicted), and the
  serving table — not the state store — owns history; all-time totals
  are a cheap rollup over day rows at read time.
* **windowed rates** (the watermark/late-data extension the reference
  lacks, SURVEY.md §2.9): event-time tumbling windows with a watermark;
  append mode emits only finalized windows.
* **keep-last-N session tails** (``memory.py:125``, ``task.py:620-623``):
  ``applyInPandasWithState`` keyed by user — the custom stateful
  operator pattern for semantics Spark's built-ins don't cover.

Every ``run_*`` helper drives the stream with ``availableNow`` and
returns the materialized result, so streaming results are directly
comparable to their batch-formulation twins (which ARE oracle-checked —
tests assert streaming == batch).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)


def events_stream(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events parquet. Schema is taken from
    a batch peek (file streams need an explicit schema); ``ts`` arrives
    as either BIGINT nanos (legacy corpus, via ``nanosAsLong``) or
    TIMESTAMP micros and is normalized to ``ts_us`` by the same
    schema-adaptive ``ts_us_expr`` the batch path uses."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # file stream sources want a DIRECTORY (new files arrive over time);
    # the test corpus is a single file — stage it behind a symlink dir.
    # A real deployment points this at the landing directory directly.
    # The stage path is DETERMINISTIC per source (not a fresh tempdir):
    # checkpoints record the source path, so restart semantics — rerun
    # against the same checkpoint sees no new files — require the
    # staged dir to be stable across calls.
    import hashlib
    import shutil

    src = os.path.abspath(path)
    digest = hashlib.md5(src.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"events_src_{digest}")
    os.makedirs(stage, exist_ok=True)
    if os.path.isdir(path):
        # multi-file events source (multi-batch tests): symlink each
        # parquet part individually — the file stream does NOT descend
        # into a symlinked subdirectory (probed round 12), and per-file
        # links are what let maxFilesPerTrigger split batches
        wanted = {p: os.path.join(src, p)
                  for p in os.listdir(path) if p.endswith(".parquet")}
    else:
        wanted = {"events.parquet": src}
    # one prune pass for both shapes: a source that changed shape at
    # the same path (directory <-> file) hashes to the same stage dir,
    # so every entry that is not a wanted, live link to its wanted
    # target would feed the stream stale or dangling rows
    for existing in os.listdir(stage):
        lk = os.path.join(stage, existing)
        if (os.path.islink(lk) and os.path.exists(lk)
                and os.readlink(lk) == wanted.get(existing)):
            continue
        if os.path.isdir(lk) and not os.path.islink(lk):
            shutil.rmtree(lk)
        else:
            os.unlink(lk)
    for name, target in sorted(wanted.items()):
        link = os.path.join(stage, name)
        if not os.path.lexists(link):
            os.symlink(target, link)
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.load(stage)
    from pulsar_project_spark.sources.tables import ts_us_expr

    return ev.withColumn("ts_us", ts_us_expr(ev)).drop("ts")


# Stateful streaming ops instantiate ONE state store per shuffle
# partition, and the partitioning is frozen into the checkpoint at first
# start. For the bounded availableNow runs here (local, sf≤0.1) 32 state
# stores are pure overhead — measured 5× slower on the stream-stream
# join. Production picks this proportional to executor count and keeps
# it stable for the life of the checkpoint; None = don't touch the conf.
STATE_PARTITIONS: int | None = 8


@contextmanager
def _state_partitions(spark: SparkSession, n: int | None = STATE_PARTITIONS):
    if n is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextmanager
def _skip_trailing_no_data_batch(spark: SparkSession):
    """Disable the trailing no-data micro-batch for drains whose RESULT
    does not depend on it (round 12, guide §1.2 — don't compute what
    you throw away).

    After the last data batch, Structured Streaming runs one extra
    no-data batch to advance the event-time watermark. That batch is
    REQUIRED wherever emission is watermark-gated — append-mode window
    aggregations (``run_windowed_counts``, ``run_session_windows``) and
    the left-outer join's unmatched-row emission
    (``run_stream_stream_left_join``) — and those drains must NOT use
    this context. But where the watermark only bounds state, the batch
    emits nothing and merely pays a full state-store commit cycle plus
    (for tx-landed update streams) an empty staged write + commit:

    * inner stream-stream join — matches emit as soon as both sides
      are buffered; the watermark only evicts state;
    * ``dropDuplicatesWithinWatermark`` — first-seen rows pass through
      in their data batch; the watermark only evicts dedup state;
    * update-mode aggregations — changed keys emit per data batch; the
      watermark only evicts closed buckets.

    Interleaved A/B at sf0.1 (5 alternations): stream-stream join
    4.56 → 2.36 s, exact dedup 2.89 → 1.54 s, topic frequencies
    2.30 → 1.46 s — with row-identical results (pinned by
    tests/test_streaming.py::test_no_data_batch_result_invariant and
    the queries' driver oracles)."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _drain(sdf: DataFrame, checkpoint: str | None = None, mode: str = "append",
           sink: Callable[[DataFrame, int], None] | str | None = None
           ) -> None:
    """Run ``sdf`` to completion under an ``availableNow`` trigger — the
    one place this module starts a stream. ``sink`` is a
    ``foreachBatch`` callable, a parquet output path, or None (noop).
    ``checkpoint`` defaults to a fresh temp dir; the tx-landed runners
    pass ``<base>/ckpt`` beside their tables, which is what lets
    ``_certify_exactly_once`` (tests/test_streaming.py) wrap this
    function, restart each drain against the same checkpoint and compare
    every tx table beside it."""
    w = (
        sdf.writeStream.outputMode(mode)
        .option("checkpointLocation",
                checkpoint or tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink:
        w = w.format("parquet").option("path", sink)
    else:
        w = w.format("noop")
    w.start().awaitTermination()


def _tx_landed_update_stream(sdf: DataFrame, base: str, app: str,
                             spark: SparkSession) -> DataFrame:
    """Drive an UPDATE-mode streaming DataFrame to completion, landing
    every micro-batch's emission (running totals per key, stamped with
    its batch id) into a transactional table via idempotent
    ``tx_append_txn`` keyed (app, batchId). Returns the landed table;
    the caller resolves last-wins per key by batch_id. The declared
    queries drain ONCE; their oracles still catch a lost or doubled
    batch (the landed census hashes against the raw parquet), and the
    restart/replay machinery itself is certified from outside by
    ``_certify_exactly_once`` (tests/test_streaming.py).

    This is the ``run_streaming_tx_sink`` recipe generalized to
    update-mode aggregations: running totals make the last-wins read
    correct under any batch split, and the txn CAS makes re-delivery
    a no-op — so the final rollup can carry a full hash oracle against
    the original parquet."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_txn,
        tx_init,
        tx_read,
    )

    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    tx_init(table)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        # shuffle=True: the micro-batch's input is reduce-side compute
        # (stateful agg / applyInPandasWithState); coalesce(1) would
        # serialize it into one task (3.5x on keep-last, round 12)
        tx_append_txn(bdf.withColumn("batch_id", F.lit(batch_id)),
                      table, app=app, batch=batch_id, n_files=1,
                      shuffle=True)

    with _state_partitions(spark):
        _drain(sdf, ckpt, mode="update", sink=sink)
    return tx_read(spark, table)


def run_topic_frequencies(spark: SparkSession, sf_dir: str,
                          state_dir: str | None = None,
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming topic-frequency state (reference upsert+frequency++,
    ``memory.py:319-323``), scale-safe formulation with an
    EXACTLY-ONCE tx landing (full hash oracle since round 11):

    update-mode aggregation keyed **(topic, day)** → ``foreachBatch``
    lands each batch's running totals in a transactional table via
    txn-keyed ``tx_append_txn`` (see ``_tx_landed_update_stream``) →
    last-wins per (topic, day) by batch id → all-time totals as a
    rollup over day rows at read.

    Why this shape at 100 TB/day: update mode emits only keys changed
    in the trigger; the watermark evicts state for closed day buckets,
    so the state store holds ~(live topics × days inside the
    watermark) instead of every topic ever seen; the landed table owns
    history, and the txn CAS makes micro-batch re-delivery a no-op."""
    base = state_dir or tempfile.mkdtemp(prefix="topics_")
    ev = events_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    agg = (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.col("event_type").alias("topic"),
                 F.window("event_time", "1 day").alias("w"))
        .agg(F.count("*").alias("frequency"),
             F.max("ts_us").alias("last_updated_us"))
        .select("topic",
                F.unix_micros(F.col("w.start")).alias("day_start_us"),
                "frequency", "last_updated_us")
    )
    # update mode + watermark-for-eviction-only: the trailing no-data
    # batch lands nothing (empty staged write + commit) — skip it
    with _skip_trailing_no_data_batch(spark):
        landed = _tx_landed_update_stream(agg, base, "topic_freq", spark)
    w = Window.partitionBy("topic", "day_start_us").orderBy(
        F.desc("batch_id"))
    latest = (landed.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1))
    return latest.groupBy("topic").agg(
        F.sum("frequency").alias("frequency"),
        F.max("last_updated_us").alias("last_updated_us"),
    )


def run_windowed_counts(spark: SparkSession, sf_dir: str,
                        window: str = "1 hour",
                        watermark: str = "10 minutes",
                        sink_dir: str | None = None,
                        checkpoint: str | None = None) -> DataFrame:
    """Event-time tumbling-window rates with a watermark — the
    late-data-tolerant aggregation the reference lacks. Append mode:
    only watermark-finalized windows are emitted.

    Each batch's finalized windows land in a transactional table via
    txn-keyed ``tx_append_txn`` (restart + forced-replay certified by
    ``_certify_exactly_once`` (tests/test_streaming.py)). The declared
    query drains once — append mode emits each closed window exactly
    once, so the landed table IS the result, and a lost or doubled batch
    breaks the hash against the oracle's closed-form emission
    rule (win_end <= max event time - watermark delay).

    ``sink_dir``/``checkpoint`` default to fresh temp dirs; pass stable
    paths to exercise restart semantics across CALLS too (pinned by
    tests/test_streaming.py::test_windowed_counts_checkpoint_restart)."""
    from pulsar_project_spark.sources.txlog import (
        tx_append_txn,
        tx_init,
        tx_latest_version,
        tx_read,
    )

    base = sink_dir or tempfile.mkdtemp(prefix="win_")
    table = os.path.join(base, "table")
    ckpt = checkpoint or os.path.join(base, "ckpt")
    if tx_latest_version(table) is None:
        tx_init(table)
    ev = events_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    agg = (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type", "n",
        )
    )

    def sink(bdf: DataFrame, batch_id: int) -> None:
        tx_append_txn(bdf, table, app="windowed_counts", batch=batch_id,
                      n_files=1, shuffle=True)

    with _state_partitions(ev.sparkSession):
        _drain(agg, ckpt, mode="append", sink=sink)
    return tx_read(spark, table)


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on the
    event id — the at-least-once → exactly-once ingestion guard. The
    watermark bounds the dedup state (ids older than the horizon are
    evicted — without it the state grows with the stream forever).
    Returns per-type counts of the deduplicated stream."""
    sink_dir = tempfile.mkdtemp(prefix="dedup_")
    ev = events_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    # duplicate the input (union with itself) so the dedup provably works
    dup = ev.unionByName(ev)
    deduped = (
        dup.withWatermark("event_time", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # update mode emits only keys changed this trigger, carrying the
        # running total — merge overwrites per key (idempotent on retry).
        from pulsar_project_spark.sources.sinks import merge_upsert

        merge_upsert(batch_df.sparkSession, sink_dir + "/counts", batch_df,
                     key_cols=["event_type"], order_col="n",
                     cache_updates=True)

    # first-seen rows emit in their data batch; the watermark only
    # evicts dedup state — the trailing no-data batch emits nothing
    with _state_partitions(spark), _skip_trailing_no_data_batch(spark):
        _drain(agg, mode="update", sink=sink)
    return spark.read.parquet(sink_dir + "/counts")


def run_stream_stream_join(spark: SparkSession, sf_dir: str,
                           horizon_minutes: int = 30) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases joined to the
    clicks that preceded them within a time horizon — the streaming form
    of the batch attribution_window_join. Both sides carry watermarks so
    Spark can bound the join state (clicks older than the horizon +
    watermark age are evicted from the state store); without them a
    stream-stream join would buffer forever."""
    sink_dir = tempfile.mkdtemp(prefix="ssj_")
    ev = events_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("event_time").alias("click_time"))
        .withWatermark("click_time", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"),
                F.col("value"), F.col("event_time").alias("purchase_time"))
        .withWatermark("purchase_time", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["c_user"])
        & (clicks["click_time"] < purchases["purchase_time"])
        & (clicks["click_time"]
           >= purchases["purchase_time"] - F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
        "inner",
    ).select(
        "purchase_id", "user_id", "value", "click_id",
        F.unix_micros(F.col("purchase_time")).alias("purchase_ts_us"),
        F.unix_micros(F.col("click_time")).alias("click_ts_us"),
    )
    # INNER matches emit as soon as both sides are buffered; the
    # watermark only bounds state — the trailing no-data batch emits
    # nothing (the left-outer twin NEEDS it and must not skip)
    with _state_partitions(spark), _skip_trailing_no_data_batch(spark):
        _drain(joined, mode="append", sink=sink_dir)
    return spark.read.parquet(sink_dir)


_TAIL_STATE = StructType([StructField("tail", StringType())])
_TAIL_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_seen", LongType()),
    StructField("tail_event_ids", StringType()),
])


def run_keep_last_state(spark: SparkSession, sf_dir: str, n: int = 5
                        ) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    ring buffer of the last N event ids (the reference's ``records[-n:]``
    tail as *streaming state* instead of a batch window). State value is
    a compact string-encoded id list — tiny, shard-keyed by user.

    Round-11 oracle upgrade: each micro-batch's per-user running state
    lands in a transactional table via txn-keyed ``tx_append_txn``
    (``_tx_landed_update_stream``);
    last-wins per user by batch id is the final state — so the custom
    stateful operator now carries a full hash oracle (tail-of-N and
    count are closed-form SQL over the original parquet)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        ids: list[int] = []
        seen = 0
        if state.exists:
            (packed,) = state.get
            if packed:
                parts = packed.split("|")
                seen = int(parts[0])
                ids = [int(x) for x in parts[1].split(",")] if parts[1] else []
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values(["ts_us", "event_id"])
        seen += len(rows)
        ids = (ids + rows["event_id"].tolist())[-n:]
        state.update((f"{seen}|{','.join(str(i) for i in ids)}",))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_seen": [seen],
            "tail_event_ids": [",".join(str(i) for i in ids)],
        })

    base = tempfile.mkdtemp(prefix="tail_")
    ev = events_stream(spark, sf_dir).select("user_id", "event_id", "ts_us")
    out = ev.groupBy("user_id").applyInPandasWithState(
        update, _TAIL_OUT, _TAIL_STATE, "Update", GroupStateTimeout.NoTimeout
    )
    landed = _tx_landed_update_stream(out, base, "keep_last", spark)
    w = Window.partitionBy("user_id").orderBy(F.desc("batch_id"))
    return (landed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "n_seen", "tail_event_ids"))


def run_session_windows(spark: SparkSession, sf_dir: str,
                        gap: str = "30 minutes",
                        watermark: str = "10 minutes") -> DataFrame:
    """Streaming session windows: per-user sessions merged by a
    30-minute inactivity gap (``F.session_window``), watermarked, append
    mode — only sessions closed by the watermark are emitted.

    Scale shape: session state is per (user, open session) and bounded
    by the watermark: a session whose end (last event + gap) falls
    behind the watermark is finalized and evicted. Batch twin
    ``user_session_stats`` is oracle-checked; the streaming emission is
    a subset of it (the trailing watermark margin stays open)."""
    sink_dir = tempfile.mkdtemp(prefix="sess_")
    ev = events_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    agg = (
        ev.withWatermark("event_time", watermark)
        .groupBy("user_id", F.session_window("event_time", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
    with _state_partitions(spark):
        _drain(agg, mode="append", sink=sink_dir)
    return spark.read.parquet(sink_dir)


_DEBOUNCE_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("n_kept", LongType()),
    StructField("n_debounced", LongType()),
])


def run_streaming_debounce(spark: SparkSession, sf_dir: str,
                           gap_us: int = 1_000_000,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    """Streaming debounce: per (user, type), an event arriving within
    ``gap_us`` of the previously KEPT event of the same key is
    suppressed — the stateful-streaming form of the oracle-checked
    batch twin ``debounce_events_1s`` (same rule; parity test closes
    stream → batch → DuckDB). State is three BIGINTs per live
    (user, type) chain (last kept ts + running counts), sharded by
    user.

    Implemented with ``applyInPandasWithState``. Spark 4's successor
    API (``transformWithStateInPandas``: timers, multiple state vars,
    native TTL) is the intended production surface —
    ``run_streaming_debounce_tws`` below carries that form — but its
    Python state server requires ``google.protobuf``, absent from this
    environment, so the gated variant raises cleanly and this proven
    path is the tested one.

    Scale shape: the stream is keyed by USER, not (user, type) — the
    per-(user, type) chains are independent, so one group call folds
    all of a user's types and the state/Arrow protocol pays ~5× fewer
    per-group round-trips (7,500 → 1,500 groups at sf0.1; the
    per-group overhead, not the row work, dominated — measured
    interleaved 3.3 → 1.8 s, round 12, guide §4.1/§4.2). State packs
    the user's per-type (last_kept, kept, dropped) triples into one
    JSON string value, the ``run_keep_last_state`` string-state
    pattern; rows are folded with an in-batch (type, ts) lexsort
    (equal-ts rows are interchangeable for the fold, so ts alone
    suffices and event_id never crosses the Python boundary).
    Emission is per-(user, type) running counts for the types present
    in the batch — exactly what the (user, type)-keyed form emitted —
    in update mode, merged idempotently into the serving table per
    batch."""
    import json

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import numpy as np

    def update(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        # state value: JSON LIST of [type, last_kept, kept, dropped] —
        # a list, not a dict, because a NULL event_type is a real chain
        # (the oracle's IS NOT DISTINCT FROM) and JSON object keys
        # cannot carry None without colliding with a literal "null"
        st: dict = ({e[0]: (e[1], e[2], e[3])
                     for e in json.loads(state.get[0])}
                    if state.exists else {})
        frames = list(pdfs)
        rows = frames[0] if len(frames) == 1 else pd.concat(frames)
        ts_all = rows["ts_us"].to_numpy(dtype="int64")
        et_all = rows["event_type"].to_numpy()
        null_mask = pd.isna(et_all)
        out_t: list = []
        out_k: list[int] = []
        out_d: list[int] = []

        def fold(t, seg) -> None:
            last, kept, dropped = st.get(t, (None, 0, 0))
            for x in seg:
                if last is None or x - last > gap_us:
                    kept += 1
                    last = int(x)
                else:
                    dropped += 1
            st[t] = (last, kept, dropped)
            out_t.append(t)
            out_k.append(kept)
            out_d.append(dropped)

        if null_mask.any():
            fold(None, np.sort(ts_all[null_mask]))
        ts = ts_all[~null_mask]
        et = et_all[~null_mask]
        if len(et):
            order = np.lexsort((ts, et))
            ts, et = ts[order], et[order]
            # contiguous runs of one event_type after the lexsort —
            # each run is that chain's sorted ts multiset for this batch
            starts = np.flatnonzero(np.r_[True, et[1:] != et[:-1]])
            bounds = np.r_[starts, len(et)]
            for i in range(len(starts)):
                fold(et[starts[i]], ts[bounds[i]:bounds[i + 1]])
        state.update((json.dumps(
            sorted(([t, *v] for t, v in st.items()),
                   key=lambda e: (e[0] is not None, e[0] or "")),),))
        yield pd.DataFrame({
            "user_id": key[0], "event_type": out_t,
            "n_kept": out_k, "n_debounced": out_d,
        })

    sink_dir = tempfile.mkdtemp(prefix="debounce_")
    # ts_us IS NOT NULL, mirrored in the declared query's oracle:
    # debounce is defined on event time — a timeless event belongs to
    # no gap chain (and NaN would poison the int64 fold below).
    # event_id is NOT shipped: the fold never reads it (see update),
    # so it stays out of the Arrow boundary entirely (guide §4.1).
    ev = events_stream(
        spark, sf_dir, max_files_per_trigger=max_files_per_trigger
    ).select(
        "user_id", "event_type", "ts_us"
    ).filter(F.col("ts_us").isNotNull())
    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        _DEBOUNCE_OUT,
        StructType([StructField("chains", StringType())]),
        "Update",
        GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pulsar_project_spark.sources.sinks import merge_upsert

        merge_upsert(batch_df.sparkSession, sink_dir + "/keys", batch_df,
                     key_cols=["user_id", "event_type"], order_col="n_kept",
                     cache_updates=True)

    with _state_partitions(spark):
        _drain(out, mode="update", sink=sink)
    per_key = spark.read.parquet(sink_dir + "/keys")
    return per_key.groupBy("event_type").agg(
        F.sum(F.col("n_kept") + F.col("n_debounced")).cast("bigint").alias("n_total"),
        F.sum("n_kept").cast("bigint").alias("n_kept"),
        F.sum("n_debounced").cast("bigint").alias("n_debounced"),
    )


def run_streaming_debounce_tws(spark: SparkSession, sf_dir: str,
                               gap_us: int = 1_000_000) -> DataFrame:
    """``transformWithStateInPandas`` form of the streaming debounce —
    the Spark 4 arbitrary-stateful API (per-key ValueState, timer and
    TTL support). GATED: the API's Python state server imports
    ``google.protobuf``, which this environment does not ship, so this
    raises ImportError with the working fallback named; same greedy
    rule as ``run_streaming_debounce``, keyed per (user, type) chain
    directly (the proven path shards by user and folds the user's
    chains in one group call — round 12)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:  # pragma: no cover - environment-dependent
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf "
            "(absent here); use run_streaming_debounce (applyInPandasWithState)"
        ) from ex

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class Debounce(StatefulProcessor):  # pragma: no cover - gated path
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState(
                "last_kept_us", StructType([StructField("t", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts_us", "event_id"], kind="stable")
            prev = self._last.get()
            last = int(prev[0]) if prev is not None else None
            kept = 0
            dropped = 0
            for ts in pdf["ts_us"].astype("int64"):
                if last is None or ts - last > gap_us:
                    kept += 1
                    last = int(ts)
                else:
                    dropped += 1
            self._last.update((last,))
            yield pd.DataFrame({
                "user_id": [key[0]], "event_type": [key[1]],
                "n_kept": [kept], "n_debounced": [dropped],
            })

        def close(self) -> None:
            pass

    ev = events_stream(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts_us"
    )
    return ev.groupBy("user_id", "event_type").transformWithStateInPandas(
        statefulProcessor=Debounce(),
        outputStructType=_DEBOUNCE_OUT,
        outputMode="Update",
        timeMode="None",
    )


def run_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the reference's dict-mutation replay
    (``manager.py`` upsert/delete) as a STREAM: the change log arrives
    in micro-batches, each batch reduces to its per-key winner, and a
    seq-respecting MERGE folds it into the state table (winner = max
    (ts, id) struct across current ∪ batch — NOT last-writer-wins, so
    out-of-order and replayed batches cannot regress a key; deletes
    persist as tombstones and are filtered at read). The final state
    equals the batch ``cdc_apply_net_state`` (its named oracle-backed
    twin) on the idempotent columns; the max-merge makes every batch
    retry a no-op, which is the exactly-once story without a
    transactional table format."""
    state_dir = tempfile.mkdtemp(prefix="cdcstate_")
    state_path = os.path.join(state_dir, "state")
    ev = events_stream(spark, sf_dir)
    log = ev.filter(
        F.col("user_id").isNotNull() & F.col("ts_us").isNotNull()
        & F.col("event_id").isNotNull()
    ).select(
        "user_id", "ts_us", "event_id", "value", "event_type",
        F.expr(
            "CASE WHEN event_id % 11 = 0 THEN 'D' "
            "WHEN event_id % 3 = 0 THEN 'I' ELSE 'U' END"
        ).alias("op"),
    )

    def _winner():
        return F.max(F.struct(
            "ts_us", "event_id", F.col("op").alias("__op"),
            F.col("value").alias("__value"),
            F.col("event_type").alias("__etype"),
        )).alias("w")

    def _flatten(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            F.col("w.ts_us").alias("ts_us"),
            F.col("w.event_id").alias("event_id"),
            F.col("w.__op").alias("op"),
            F.col("w.__value").alias("value"),
            F.col("w.__etype").alias("event_type"),
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        batch_state = _flatten(batch_df.groupBy("user_id").agg(_winner()))
        if os.path.isdir(state_path):
            cur = s.read.parquet(state_path)
            both = cur.unionByName(batch_state)
        else:
            both = batch_state
        merged = _flatten(
            both.select(
                "user_id",
                F.struct("ts_us", "event_id", F.col("op").alias("__op"),
                         F.col("value").alias("__value"),
                         F.col("event_type").alias("__etype")).alias("__s"),
            ).groupBy("user_id").agg(F.max("__s").alias("w"))
        )
        staged = state_path + ".staged"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.isdir(state_path):
            old = state_path + ".old"
            os.rename(state_path, old)
            os.rename(staged, state_path)
            shutil.rmtree(old)
        else:
            os.rename(staged, state_path)

    with _state_partitions(spark):
        _drain(log, mode="append", sink=sink)
    if not os.path.isdir(state_path):
        # empty input: zero batches reached the sink, no state written
        return spark.createDataFrame([], StructType([
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("event_type", StringType()),
            StructField("last_op", StringType()),
        ]))
    final = spark.read.parquet(state_path)
    return final.filter(F.col("op") != "D").select(
        "user_id", "value", "event_type", F.col("op").alias("last_op")
    )


def run_stream_stream_left_join(spark: SparkSession, sf_dir: str,
                                horizon_minutes: int = 30) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the semantics the
    inner join can't express: clicks that never convert EMIT, with
    NULL purchase columns, once the watermark proves no match can
    still arrive (Spark buffers the left row in the state store until
    event-time passes click_time + horizon + watermark, then releases
    it). This is how abandonment/timeout detection works on a live
    stream; the batch twin ``unattributed_clicks_census`` computes the
    same flags at rest.

    Tail caveat (inherent to the model, asserted by the twin test):
    clicks too close to the end of a finite input may never see the
    watermark advance far enough to emit their NULL row, so the
    streaming census is a SUBSET of the batch one, exactly equal on
    the closable prefix.

    Returned relation: per-user census over the emitted rows, a click
    counted once (attributed if ANY of its join rows matched)."""
    sink_dir = tempfile.mkdtemp(prefix="ssloj_")
    ev = events_stream(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("event_time").alias("click_time"))
        .withWatermark("click_time", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("event_time").alias("purchase_time"))
        .withWatermark("purchase_time", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (clicks["c_user"] == purchases["p_user"])
        & (purchases["purchase_time"] > clicks["click_time"])
        & (purchases["purchase_time"]
           <= clicks["click_time"]
           + F.expr(f"INTERVAL {horizon_minutes} MINUTES")),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id",
        F.unix_micros(F.col("click_time")).alias("click_ts_us"),
    )
    with _state_partitions(spark):
        _drain(joined, mode="append", sink=sink_dir)
    rows = spark.read.parquet(sink_dir)
    per_click = rows.groupBy("user_id", "click_id").agg(
        F.max(F.col("purchase_id").isNotNull().cast("int")).alias("attributed")
    )
    return per_click.groupBy("user_id").agg(
        F.count("*").alias("n_clicks"),
        F.sum("attributed").cast("bigint").alias("n_attributed"),
        (F.count("*") - F.sum("attributed")).cast("bigint")
        .alias("n_unattributed"),
    )


def run_streaming_tx_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming landing into the transactional table log
    (sources/txlog.py): each micro-batch commits as one idempotent
    ``tx_append_txn`` keyed by (app, batchId) — Structured Streaming
    replays a failed batch with the SAME batchId, and the txn id rides
    INSIDE the manifest so the replay check and the commit share one
    atomic CAS. ``_certify_exactly_once`` (tests/test_streaming.py)
    restarts the stream against the same checkpoint (no new files -> the
    table version must not move) and force-replays batch 0's commit —
    the no-op path a crashed-after-commit executor exercises. The
    declared query drains ONCE; its census still hashes against the
    oracle over the ORIGINAL parquet, so a duplicated or lost batch
    breaks it either way.

    Scale shape: the sink is a plain parquet write per batch plus one
    8-byte-scale manifest link; commit cost is independent of table
    size. This is the landing-zone pattern the compaction +
    OPTIMIZE ZORDER maintenance jobs then operate on."""
    import shutil

    from pulsar_project_spark.sources.txlog import (
        tx_append_txn,
        tx_init,
        tx_read,
        tx_snapshot,
    )

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_rt_{os.getpid()}", "tx_stream")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    # table + checkpoint are one unit: wiping one without the other
    # either loses data forever or double-lands it
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    tx_init(table)

    app = "events_landing"
    ev = events_stream(spark, sf_dir)
    proj = ev.select(
        "event_id", "user_id", "event_type", "ts_us",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )

    def sink(bdf: DataFrame, batch_id: int) -> None:
        # coalesce (default) is right for a pass-through landing: the
        # upstream is a trivial projection, so narrowing 8 scan tasks
        # to 4 writers costs less than a full-batch exchange would
        tx_append_txn(bdf, table, app=app, batch=batch_id, n_files=4)

    _drain(proj, ckpt, mode="append", sink=sink)
    if not tx_snapshot(table)["files"]:
        return spark.createDataFrame([], StructType([
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
            StructField("last_us", LongType()),
        ]))
    return tx_read(spark, table).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.max("ts_us").alias("last_us"),
    )


def run_streaming_retractable_agg(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Streaming twin of ``retractable_agg_view_census`` — the DBSP
    weighted changelog as a STREAM: every event contributes (+1, +c)
    and the md5-designated quarter ALSO emits its retraction (−1, −c)
    in-stream (the explode that the batch twin runs corpus-wide,
    arriving micro-batch by micro-batch). foreachBatch folds each
    batch's per-user (Σw, Σw·c) ADDITIVELY into the state table —
    linear aggregates merge by plain addition, which is the whole
    reason IVM engines carry (count, sum) instead of averages — and
    the final read drops net-zero groups exactly like the batch twin's
    HAVING Σw > 0. Batch parity is pinned in tests/test_streaming.py;
    the batch twin carries the driver hash. For replay-safe sums under
    failure retries, compose with the txn-id landing
    (``run_streaming_tx_sink``) — additive merges alone are
    deliberately NOT idempotent, and that contrast is the point of the
    two queries being separate."""
    import shutil

    state_dir = tempfile.mkdtemp(prefix="retractstate_")
    state_path = os.path.join(state_dir, "state")
    ev = events_stream(spark, sf_dir)
    retracted = F.substring(
        F.md5(F.col("event_id").cast("string")), 1, 1).isin(*"0123")
    cents = F.coalesce(
        F.round(F.col("value") * 100).cast("bigint"), F.lit(0))
    log = ev.select(
        "user_id", cents.alias("c"),
        F.explode(
            F.when(retracted, F.array(F.lit(1), F.lit(-1)))
            .otherwise(F.array(F.lit(1)))
        ).alias("w"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.sum("w").alias("n_events"),
            F.sum(F.col("w") * F.col("c")).alias("sum_cents"),
        )
        if os.path.isdir(state_path):
            both = s.read.parquet(state_path).unionByName(delta)
        else:
            both = delta
        merged = both.groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        staged = state_path + ".staged"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.isdir(state_path):
            old = state_path + ".old"
            os.rename(state_path, old)
            os.rename(staged, state_path)
            shutil.rmtree(old)
        else:
            os.rename(staged, state_path)

    with _state_partitions(spark):
        _drain(log, mode="append", sink=sink)
    if not os.path.isdir(state_path):
        from pyspark.sql.types import (LongType, StructField, StructType)

        return spark.createDataFrame([], StructType([
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
        ]))
    return (spark.read.parquet(state_path)
            .filter(F.col("n_events") > 0)
            .select("user_id", "n_events", "sum_cents"))


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over any corpus table (the events_stream
    staging pattern, generalized): schema from a batch peek, single
    file staged behind a deterministic symlink dir so checkpoints
    survive re-runs."""
    import hashlib

    path = f"{sf_dir}/{table}.parquet"
    schema = spark.read.parquet(path).schema
    digest = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"{table}_src_{digest}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(path), link)
    return spark.readStream.schema(schema).format("parquet").load(stage)


def run_streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring as a STREAM — the two-sample KS
    distance (`ks_distance_order_values` is the oracle-backed batch
    twin) maintained incrementally: each micro-batch folds its per-value
    (cents, da, db) counts ADDITIVELY into the state histogram (exact —
    counts are linear), and the final read replays the batch tail over
    the accumulated histogram: global bounds, 4096 equi-width bins, the
    cumulative integer ECDF walk, the cross-multiplied supremum. Binning
    aggregated counts from the SAME global bounds commutes with binning
    raw rows, so stream == batch exactly (pinned in
    tests/test_streaming.py). The state is the exact value histogram —
    the honest cost of EXACT drift monitoring; a production monitor at
    100 TB bins the state adaptively and accepts resolution loss."""
    import shutil

    from pyspark.sql.window import Window

    state_dir = tempfile.mkdtemp(prefix="ksstate_")
    state_path = os.path.join(state_dir, "state")
    orders = table_stream(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("O", "F"))
    log = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("ia"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ib"),
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        delta = batch_df.groupBy("cents").agg(
            F.sum("ia").alias("da"), F.sum("ib").alias("db"))
        if os.path.isdir(state_path):
            both = s.read.parquet(state_path).unionByName(delta)
        else:
            both = delta
        merged = both.groupBy("cents").agg(
            F.sum("da").alias("da"), F.sum("db").alias("db"))
        staged = state_path + ".staged"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.isdir(state_path):
            old = state_path + ".old"
            os.rename(state_path, old)
            os.rename(staged, state_path)
            shutil.rmtree(old)
        else:
            os.rename(staged, state_path)

    with _state_partitions(spark):
        _drain(log, mode="append", sink=sink)
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    empty = StructType([
        StructField("d_scaled", LongType()), StructField("n1", LongType()),
        StructField("n2", LongType()),
        StructField("ks_stat", DoubleType()),
    ])
    if not os.path.isdir(state_path):
        return spark.createDataFrame([], empty)
    hist = spark.read.parquet(state_path)
    bounds = hist.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = (
        hist.crossJoin(F.broadcast(bounds))
        .select(
            F.least(F.lit(4095),
                    F.expr("((cents - lo) * 4096) div (hi - lo + 1)"))
            .alias("bin"), "da", "db",
        )
        .groupBy("bin")
        .agg(F.sum("da").alias("da"), F.sum("db").alias("db"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    cum = binned.select(F.sum("da").over(w).alias("ca"),
                        F.sum("db").over(w).alias("cb"))
    tot = binned.agg(F.sum("da").cast("bigint").alias("n1"),
                     F.sum("db").cast("bigint").alias("n2"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(F.max(F.abs(F.col("ca") * F.col("n2")
                         - F.col("cb") * F.col("n1")))
             .cast("bigint").alias("d_scaled"))
        .select(
            "d_scaled", "n1", "n2",
            F.when(F.col("n1") * F.col("n2") != 0,
                   F.col("d_scaled").cast("double")
                   / (F.col("n1") * F.col("n2")).cast("double"))
            .alias("ks_stat"),
        )
    )


def run_streaming_cms_heavy_hitters(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Heavy-hitter monitoring as a STREAM — the count-min counter
    table is a LINEAR sketch (counters add), so each micro-batch's
    cells fold into the state by pointwise addition, exactly the
    merge-across-shards property the batch operator documents; the
    per-user exact counts (the probe side) fold the same way. The
    final probe replays the batch query over the accumulated state, so
    stream == batch EXACTLY (twin: `cms_heavy_hitters`, equality
    pinned in tests/test_streaming.py). At 100 TB the streaming state
    is ~100 KB of counters plus the per-key counts — the sketch is the
    part that stays small when the key space explodes."""
    import shutil

    from pulsar_project_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    state_dir = tempfile.mkdtemp(prefix="cmsstate_")
    cms_path = os.path.join(state_dir, "cms")
    exact_path = os.path.join(state_dir, "exact")
    ev = events_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull()).select("user_id")

    def _fold(s, path, delta, keys, cnt_col):
        if os.path.isdir(path):
            both = s.read.parquet(path).unionByName(delta)
        else:
            both = delta
        merged = both.groupBy(*keys).agg(F.sum(cnt_col).alias(cnt_col))
        staged = path + ".staged"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.isdir(path):
            old = path + ".old"
            os.rename(path, old)
            os.rename(staged, path)
            shutil.rmtree(old)
        else:
            os.rename(staged, path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        _fold(s, cms_path, cms_build(batch_df, "user_id"),
              ["depth", "pos"], "cnt")
        _fold(s, exact_path,
              batch_df.groupBy("user_id").agg(F.count("*").alias("exact_n")),
              ["user_id"], "exact_n")

    with _state_partitions(spark):
        _drain(ev, mode="append", sink=sink)
    from pyspark.sql.types import LongType, StructField, StructType

    if not os.path.isdir(exact_path):
        return spark.createDataFrame([], StructType([
            StructField("user_id", LongType()),
            StructField("exact_n", LongType()),
            StructField("cms_estimate", LongType()),
            StructField("overestimate", LongType()),
        ]))
    exact = spark.read.parquet(exact_path)
    cms = spark.read.parquet(cms_path)
    probes = exact.orderBy(
        F.col("exact_n").desc(), F.col("user_id").asc()).limit(20)
    return cms_estimate(probes, cms, "user_id").withColumn(
        "overestimate", F.col("cms_estimate") - F.col("exact_n"))


def run_streaming_lc_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count monitoring as a STREAM — the linear-counting
    bitmap folds across micro-batches by ``bit_or`` (idempotent AND
    commutative, so unlike the additive folds a replayed batch cannot
    even skew it), landing the bit-identical bitmap the batch build
    produces; the exact comparison side folds as a distinct (type,
    user) presence state. Final census == the oracle-backed batch twin
    `lc_distinct_bitmap_census` exactly (pinned in
    tests/test_streaming.py). The bitmap is the piece that stays
    ~1 KB/group at 100 TB; the exact side exists only because the twin
    reports exact-vs-sketch side by side."""
    import shutil

    from pulsar_project_spark.operators.sketches import lc_build, lc_set_bits

    state_dir = tempfile.mkdtemp(prefix="lcstate_")
    bm_path = os.path.join(state_dir, "bitmap")
    seen_path = os.path.join(state_dir, "seen")
    ev = events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    ).select("event_type", "user_id")

    def _swap(df: DataFrame, path: str) -> None:
        staged = path + ".staged"
        df.write.mode("overwrite").parquet(staged)
        if os.path.isdir(path):
            old = path + ".old"
            os.rename(path, old)
            os.rename(staged, path)
            shutil.rmtree(old)
        else:
            os.rename(staged, path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        delta_bm = lc_build(batch_df, "event_type", "user_id")
        if os.path.isdir(bm_path):
            both = s.read.parquet(bm_path).unionByName(delta_bm)
        else:
            both = delta_bm
        merged = both.groupBy("event_type", "word_idx").agg(
            F.expr("bit_or(bits)").alias("bits"))
        _swap(merged, bm_path)
        delta_seen = batch_df.distinct()
        if os.path.isdir(seen_path):
            seen = s.read.parquet(seen_path).unionByName(delta_seen).distinct()
        else:
            seen = delta_seen
        _swap(seen, seen_path)

    with _state_partitions(spark):
        _drain(ev, mode="append", sink=sink)
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    if not os.path.isdir(bm_path):
        return spark.createDataFrame([], StructType([
            StructField("event_type", StringType()),
            StructField("n_exact_distinct", LongType()),
            StructField("n_set_bits", LongType()),
            StructField("m_bits", LongType()),
        ]))
    setb = lc_set_bits(spark.read.parquet(bm_path), "event_type")
    exact = spark.read.parquet(seen_path).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact_distinct"))
    return exact.join(setb, "event_type").select(
        "event_type", "n_exact_distinct", "n_set_bits", "m_bits")


def run_streaming_tx_change_feed(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Streaming twin of ``tx_change_feed_census``: the SAME commit
    history (two appends, a layout-only compaction, a DV delete, a COW
    delete) is consumed by TAILING the manifest chain through the
    ``tx_change_feed`` Python streaming source (sources/cdf_stream.py) —
    offsets are manifest versions, so every micro-batch is a whole
    (start, end] commit window and a replay re-reads byte-identical
    change rows. Each batch nets its weighted rows per commit and folds
    the per-(side, type) partial census into a STATE tx table via
    ``tx_append_txn`` keyed by the batch id — the landing is
    exactly-once under restart by the same manifest-CAS argument the
    round-7 sink certified; ``_certify_exactly_once``
    (tests/test_streaming.py) proves it by draining a second time
    against the same checkpoint and asserting the table version did not
    move. The declared query drains ONCE. The final read aggregates the
    landed partials; equality with the oracle-backed batch twin is
    pinned in tests/test_streaming.py, closing the chain stream-feed ==
    batch-feed == DuckDB."""
    import shutil

    from pulsar_project_spark.queries.io_ops import _build_cdf_table
    from pulsar_project_spark.sources.cdf_stream import (
        TxChangeFeedDataSource,
    )
    from pulsar_project_spark.sources.txlog import (
        tx_append_txn,
        tx_init,
        tx_read,
        tx_snapshot,
    )

    table = _build_cdf_table(spark, sf_dir, "txlog_cdf_stream")
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_rt_{os.getpid()}",
        "cdf_stream_state")
    if os.path.exists(base):
        shutil.rmtree(base)
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(base, exist_ok=True)
    tx_init(state)
    spark.dataSource.register(TxChangeFeedDataSource)
    schema = ("event_id long, user_id long, event_type string, "
              "ts_us long, value_cents long, _commit_version int, _w long")
    feed = (
        spark.readStream.format("tx_change_feed")
        .option("tableDir", table)
        .option("columns", "event_id,user_id,event_type,ts_us,value_cents")
        .option("sourceSchema", schema)
        .load()
    )

    def sink(bdf: DataFrame, batch_id: int) -> None:
        data_cols = [c for c in bdf.columns
                     if c not in ("_commit_version", "_w")]
        net = (
            bdf.groupBy("_commit_version", *data_cols)
            .agg(F.sum("_w").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        partial = net.groupBy(
            F.when(F.col("_net") > 0, F.lit("insert"))
            .otherwise(F.lit("delete")).alias("change_type"),
            "event_type",
        ).agg(
            F.sum(F.abs(F.col("_net"))).cast("bigint").alias("n_rows"),
            F.sum(F.abs(F.col("_net")) * F.col("value_cents"))
            .cast("bigint").alias("total_cents"),
        )
        # coalesce (default) is right here: ``partial`` is a tiny
        # grouped-agg result — only the trivial reduce side merges into
        # one task; the feed scan + partial agg stay map-side parallel
        tx_append_txn(partial, state, app="cdf_fold", batch=batch_id,
                      n_files=1)

    _drain(feed, ckpt, mode="append", sink=sink)
    if not tx_snapshot(state)["files"]:
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )
        return spark.createDataFrame([], StructType([
            StructField("change_type", StringType()),
            StructField("event_type", StringType()),
            StructField("n_rows", LongType()),
            StructField("total_cents", LongType()),
        ]))
    return tx_read(spark, state).groupBy("change_type", "event_type").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("total_cents").cast("bigint").alias("total_cents"),
    )


# the MV commit history is immutable after build — one build per
# (process, corpus), same sharing rule as io_ops._CDF_BUILD_CACHE
# (a different sf_dir, e.g. fuzz's fresh mkdtemp, rebuilds)
_MV_BUILD_CACHE: dict = {}


def _build_mv_table(spark: SparkSession, sf_dir: str) -> str:
    """Tx table for the streaming-MV capstone: every commit class the
    change feed distinguishes, INCLUDING a mid-history RENAME — two
    appends (under ``cents``), a layout-only compaction, a DV delete,
    a COW delete, RENAME ``cents``→``val_cents``, a third append
    (under the new name natively), and a COW UPDATE that doubles a key
    range (rewriting pre-rename files through the logical schema, so
    the feed crosses a column-mapping boundary)."""
    import shutil

    from pulsar_project_spark.queries.io_ops import _rt_path
    from pulsar_project_spark.sources.tables import load_events
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_compact,
        tx_delete_range,
        tx_delete_range_dv,
        tx_init,
        tx_rename_column,
        tx_update,
    )

    cached = _MV_BUILD_CACHE.get(sf_dir)
    if cached is not None and os.path.isdir(cached):
        return cached
    path = _rt_path("txlog_mv_stream")
    if os.path.exists(path):
        shutil.rmtree(path)
    tx_init(path)
    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"))
    r3 = F.pmod(F.col("event_id"), F.lit(3))
    gen1 = ev.filter(r3 == 0).drop("event_id")
    gen2 = ev.filter(r3 == 1).drop("event_id")
    gen3 = (ev.filter((r3 == 2) | F.col("event_id").isNull())
            .drop("event_id").withColumnRenamed("cents", "val_cents"))
    have12 = False
    if not gen1.isEmpty():
        tx_append(gen1, path, n_files=3)                          # v1
        have12 = True
    if not gen2.isEmpty():
        tx_append(gen2, path, n_files=3)                          # v2
        have12 = True
    tx_compact(spark, path, target_bytes=1 << 22)                 # layout
    tx_delete_range_dv(spark, path, "user_id", 100, 300)          # DV
    tx_delete_range(spark, path, "user_id", 400, 500)             # COW
    if have12:
        tx_rename_column(path, "cents", "val_cents")              # rename
    if not gen3.isEmpty():
        tx_append(gen3, path, n_files=2)                          # new name
    from pulsar_project_spark.sources.txlog import tx_snapshot
    if tx_snapshot(path)["files"]:
        tx_update(spark, path, "user_id", 0, 50,
                  {"val_cents": "val_cents * 2"})                 # COW upd
    _MV_BUILD_CACHE.clear()
    _MV_BUILD_CACHE[sf_dir] = path
    return path


def run_streaming_tx_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MATERIALIZED VIEW off the change data feed — the IVM
    capstone (VERDICT r8 order #6): the ``tx_change_feed`` source tails
    a commit history spanning every commit class (append / compaction /
    DV delete / COW delete / RENAME / COW update), each micro-batch nets
    its weighted rows per commit and folds a SIGNED per-type partial
    (insert +, delete −) into a maintained aggregate tx table via
    exactly-once ``tx_append_txn`` (restart + forced-replay certified by
    ``_certify_exactly_once`` (tests/test_streaming.py)); the declared
    query drains ONCE. The final view (sum of partials, zero-count
    groups dropped) must hash-match the oracle's direct census of the
    LIVE rows replayed from raw events: the DBSP identity ``view(table)
    == fold(changes(table))`` certified through a REAL stream, across a
    rename boundary, with storage commits on both ends.

    Scale shape: view maintenance costs the feed (touched files per
    commit window) plus one mergeable aggregate per batch; the serving
    table accumulates one tiny partial file per batch and compaction
    folds them — at 100 TB this replaces the full-table rescan per
    refresh that the reference's reload loop (memory.py:63-91) pays."""
    import shutil

    from pulsar_project_spark.sources.cdf_stream import (
        TxChangeFeedDataSource,
    )
    from pulsar_project_spark.sources.txlog import (
        tx_append_txn,
        tx_init,
        tx_read,
        tx_snapshot,
    )

    table = _build_mv_table(spark, sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_rt_{os.getpid()}",
        "cdf_mv_state")
    if os.path.exists(base):
        shutil.rmtree(base)
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(base, exist_ok=True)
    tx_init(state)
    spark.dataSource.register(TxChangeFeedDataSource)
    schema = ("event_type string, user_id long, val_cents long, "
              "_commit_version int, _w long")
    feed = (
        spark.readStream.format("tx_change_feed")
        .option("tableDir", table)
        .option("columns", "event_type,user_id,val_cents")
        .option("sourceSchema", schema)
        .load()
    )

    def sink(bdf: DataFrame, batch_id: int) -> None:
        data_cols = [c for c in bdf.columns
                     if c not in ("_commit_version", "_w")]
        net = (
            bdf.groupBy("_commit_version", *data_cols)
            .agg(F.sum("_w").alias("_net"))
            .filter(F.col("_net") != 0)
        )
        partial = net.groupBy("event_type").agg(
            F.sum("_net").cast("bigint").alias("n"),
            F.sum(F.col("_net") * F.col("val_cents")).cast("bigint")
            .alias("cents"),
        )
        # coalesce (default): tiny grouped-agg partial, trivial reduce
        tx_append_txn(partial, state, app="cdf_mv", batch=batch_id,
                      n_files=1)

    _drain(feed, ckpt, mode="append", sink=sink)
    if not tx_snapshot(state)["files"]:
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )
        return spark.createDataFrame([], StructType([
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
        ]))
    return (
        tx_read(spark, state).groupBy("event_type")
        .agg(F.sum("n").cast("bigint").alias("n_events"),
             F.sum("cents").cast("bigint").alias("total_cents"))
        .filter(F.col("n_events") != 0)
    )


def run_streaming_tx_tracked_sink(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """EXACTLY-ONCE streaming landing into a ROW-TRACKED tx table
    (``tx_append_tracked_txn``): each micro-batch's rows get durable ids
    from their very first commit, the replay of a committed batch is a
    no-op that neither double-appends nor burns id range, and the census
    carries an ID-ALGEBRA row that makes exactly-once checkable by hash
    WITHOUT depending on how the stream split batches: if and only if
    every row landed exactly once, the id multiset is exactly {0..n-1},
    so count = n, sum(_rid) = n(n-1)/2 and max(_rid) = n-1. A doubled
    batch inflates the sum; a lost one truncates it; an id-burning
    replay shifts the max — any of the three breaks the oracle hash. The
    restart + forced-replay arms run in ``_certify_exactly_once``
    (tests/test_streaming.py); the declared query drains ONCE — the id
    algebra above keeps exactly-once hash-checkable without them. (At
    extreme scale the n^2/2 sum would outgrow int64 around 4e9 rows —
    production would fold ids modulo a prime; the census documents the
    exact form the oracle replays.)"""
    import shutil

    from pulsar_project_spark.sources.txlog import (
        tx_append_tracked_txn,
        tx_init,
        tx_read_tracked,
        tx_snapshot,
    )

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_rt_{os.getpid()}",
        "tx_tracked_stream")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    tx_init(table)

    app = "events_tracked_landing"
    ev = events_stream(spark, sf_dir)
    proj = ev.select(
        "event_id", "user_id", "event_type", "ts_us",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )

    def sink(bdf: DataFrame, batch_id: int) -> None:
        # coalesce (default): pass-through landing, trivial upstream
        tx_append_tracked_txn(bdf, table, app=app, batch=batch_id,
                              n_files=4)

    _drain(proj, ckpt, mode="append", sink=sink)
    empty = StructType([
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("last_us", LongType()),
    ])
    if not tx_snapshot(table)["files"]:
        return spark.createDataFrame([], empty)
    t = tx_read_tracked(spark, table)
    census = t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_cents"),
        F.max("ts_us").alias("last_us"),
    )
    # the ID-ALGEBRA row: (n, sum of ids, max id) under the census's
    # column names — the oracle replays it as (n, n(n-1)/2, n-1)
    ids = (
        t.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_rid").cast("bigint").alias("total_cents"),
            F.max("_rid").cast("bigint").alias("last_us"),
        )
        .withColumn("event_type", F.lit("__row_ids__"))
        .select("event_type", "n_events", "total_cents", "last_us")
        .filter(F.col("n_events") > 0)
    )
    return census.unionByName(ids)


def run_streaming_ann_ingest(spark: SparkSession, sf_dir: str,
                             n_source_files: int = 4,
                             max_files_per_trigger: int = 2) -> DataFrame:
    """STREAMING ANN INGESTION — the embedding store's write path as a
    genuine multi-batch stream: the vector corpus arrives file-by-file
    (``maxFilesPerTrigger=1`` over a {n}-file staging of the embeddings
    parquet), each micro-batch is assigned against an OFFLINE-FROZEN
    coarse quantizer (``kmeans_assign_to``, no retraining) and
    PQ-encoded, and the (vec_id, label, subspace, code) rows land in the
    index tx table via txn-keyed ``tx_append_txn`` — exactly-once
    certified the standard way by ``_certify_exactly_once``
    (tests/test_streaming.py) (restart against the checkpoint must
    commit nothing; batch 0's commit force-replayed must deduplicate).
    The declared query drains once; the census oracle still breaks on
    any lost or doubled batch.

    Soundness of the full oracle: per-vector assign+encode is a pure
    function of (vector, frozen quantizer), and the landed set is the
    union of batches — so the final index is independent of HOW the
    stream was batched, and the per-(label, subspace) census is a
    closed-form function of the raw parquet. This is the composition
    the maintenance capstone (`tx_ann_index_maintenance_census`)
    leaves open: there the feed is batch `tx_table_changes`; here it
    is a live Structured Streaming ingestion."""
    import hashlib
    import shutil

    from pulsar_project_spark.operators.kmeans import (
        kmeans_assign_to,
        kmeans_fit,
    )
    from pulsar_project_spark.operators.pq import pq_encode
    from pulsar_project_spark.sources.tables import load_table
    from pulsar_project_spark.sources.txlog import (
        tx_append,
        tx_append_txn,
        tx_init,
        tx_read,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    ).select("vec_id", "embedding")

    base = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_rt_{os.getpid()}", "ann_stream")
    if os.path.exists(base):
        shutil.rmtree(base)
    idx_tbl = os.path.join(base, "index")
    cent_tbl = os.path.join(base, "centroids")
    ckpt = os.path.join(base, "ckpt")
    for t in (idx_tbl, cent_tbl):
        tx_init(t)

    # offline quantizer training (the production shape: train once on
    # a snapshot, freeze, ingest against it) — persisted as a tx table
    _, cent = kmeans_fit(emb, k=8, iters=1, require_k=False)
    tx_append(cent, cent_tbl, n_files=1)
    frozen = tx_read(spark, cent_tbl).localCheckpoint(eager=True)

    # multi-file staging keyed by source path + source stat: stable
    # across calls so checkpoints survive re-runs (the events_stream
    # staging rule) yet invalidated the moment the parquet is
    # regenerated in place (mtime_ns/size change the key — otherwise
    # the stream would ingest a stale copy while the oracle reads the
    # fresh file), range-split so every file is a deterministic slice
    path = os.path.abspath(f"{sf_dir}/embeddings.parquet")
    st = os.stat(path)
    digest = hashlib.md5(
        f"{path}|{st.st_mtime_ns}|{st.st_size}".encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(),
                         f"emb_multi_{n_source_files}_{digest}")
    if not os.path.isdir(stage) or not os.listdir(stage):
        (spark.read.parquet(path)
         .repartitionByRange(n_source_files, "vec_id")
         .write.mode("overwrite").parquet(stage))
    schema = spark.read.parquet(stage).schema
    src = (spark.readStream.schema(schema).format("parquet")
           .option("maxFilesPerTrigger", max_files_per_trigger).load(stage))
    vec_stream = src.filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    ).select("vec_id", "embedding")

    app = "ann_ingest"

    def sink(bdf: DataFrame, batch_id: int) -> None:
        # ONE map-side pass (round 12): the frozen-quantizer assignment
        # is a broadcast argmin that carries `embedding` through, and
        # pq_encode rides the same projection carrying `label` — the
        # old assign⋈encode join shuffled every micro-batch (and needed
        # a persist because bdf fed two branches); shuffle=True so the
        # single-file landing doesn't narrow the encode into one task
        part = pq_encode(
            kmeans_assign_to(bdf, frozen, keep=("embedding",))
            .select("vec_id", "embedding", "label"),
            carry=("label",),
        ).select("vec_id", "label", "subspace", "code")
        tx_append_txn(part, idx_tbl, app=app, batch=batch_id,
                      n_files=1, shuffle=True)

    with _state_partitions(spark):
        _drain(vec_stream, ckpt, mode="append", sink=sink)
    return (tx_read(spark, idx_tbl)
            .groupBy("label", "subspace")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("code").cast("bigint").alias("sum_code"),
                 F.sum("vec_id").cast("bigint").alias("sum_vec_id")))

"""Streaming == batch parity (SURVEY.md §2.9 test strategy): each
streaming pipeline's final state must equal its batch formulation —
and the batch formulations are oracle-checked elsewhere, so the chain
stream → batch → DuckDB is closed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_topic_frequencies_stream_matches_batch(spark):
    from pulsar_project_spark.sources.tables import load_events
    from pulsar_project_spark.streaming import run_topic_frequencies

    got = run_topic_frequencies(spark, SF_SMOKE).orderBy("topic").collect()
    want = (
        load_events(spark, SF_SMOKE)
        .groupBy(F.col("event_type").alias("topic"))
        .agg(F.count("*").alias("frequency"), F.max("ts_us").alias("last_updated_us"))
        .orderBy("topic")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_windowed_counts_stream_matches_batch(spark):
    from pulsar_project_spark.sources.tables import load_events
    from pulsar_project_spark.streaming import run_windowed_counts

    got = run_windowed_counts(spark, SF_SMOKE)
    ev = load_events(spark, SF_SMOKE).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    want = (
        ev.groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("win_start_us"), "event_type", "n")
    )
    # availableNow append mode: every window at-or-before the final
    # watermark is emitted; with a bounded input that is all but the
    # trailing watermark margin — assert emitted ⊆ batch and ≥ 90%.
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    assert len(got_rows) >= 0.9 * len(want_rows)


def test_keep_last_state_matches_batch_tail(spark):
    from pulsar_project_spark.sources.tables import load_events
    from pulsar_project_spark.streaming import run_keep_last_state

    got = run_keep_last_state(spark, SF_SMOKE, n=5)
    ev = load_events(spark, SF_SMOKE)
    want = (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct("ts_us", "event_id"))).alias("s"))
        .select(
            "user_id",
            F.size("s").alias("n_seen"),
            F.concat_ws(",", F.transform(
                F.expr("slice(s, greatest(size(s) - 4, 1), 5)"),
                lambda x: x["event_id"].cast("string"),
            )).alias("tail_event_ids"),
        )
    )
    got_map = {r["user_id"]: (r["n_seen"], r["tail_event_ids"]) for r in got.collect()}
    want_map = {r["user_id"]: (r["n_seen"], r["tail_event_ids"]) for r in want.collect()}
    assert got_map == want_map


def test_stream_stream_join_matches_batch(spark):
    from pulsar_project_spark.sources.tables import load_events
    from pulsar_project_spark.streaming import run_stream_stream_join

    got = run_stream_stream_join(spark, SF_SMOKE, horizon_minutes=30)
    ev = load_events(spark, SF_SMOKE)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_ts_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "value",
        F.col("ts_us").alias("purchase_ts_us"),
    )
    horizon_us = 30 * 60 * 1_000_000
    want = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["c_user"])
        & (clicks["click_ts_us"] < purchases["purchase_ts_us"])
        & (clicks["click_ts_us"] >= purchases["purchase_ts_us"] - horizon_us),
    ).select("purchase_id", "user_id", "value", "click_id",
             "purchase_ts_us", "click_ts_us")
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    # single availableNow batch: no state eviction can drop matches
    assert got_rows == want_rows
    assert len(want_rows) > 0


def test_streaming_dedup_removes_doubled_input(spark):
    from pulsar_project_spark.sources.tables import load_events
    from pulsar_project_spark.streaming import run_streaming_dedup

    got = {(r.event_type, r.n) for r in
           run_streaming_dedup(spark, SF_SMOKE).collect()}
    want = {(r.event_type, r["count"]) for r in
            load_events(spark, SF_SMOKE).groupBy("event_type").count().collect()}
    # input was unioned with itself; dedup must restore raw counts
    assert got == want


def test_session_windows_stream_subset_of_batch(spark):
    import __spark_entry__ as e
    from pulsar_project_spark.streaming import run_session_windows

    got = run_session_windows(spark, SF_SMOKE)
    want = e.queries()["user_session_stats"](spark, SF_SMOKE)
    # append mode emits only watermark-closed sessions: emitted ⊆ batch,
    # and with a 10-min watermark vs a 30-day corpus, nearly all of it.
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows <= want_rows
    assert len(got_rows) >= 0.9 * len(want_rows)


def test_windowed_counts_checkpoint_restart(spark, tmp_path):
    from pulsar_project_spark.streaming import run_windowed_counts

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    first = run_windowed_counts(spark, SF_SMOKE, sink_dir=sink, checkpoint=ckpt)
    n1 = first.count()
    assert n1 > 0
    # restart against the SAME checkpoint + sink: the offset log shows
    # no new source files, so the rerun must commit nothing — the
    # exactly-once-across-restarts contract.
    second = run_windowed_counts(spark, SF_SMOKE, sink_dir=sink, checkpoint=ckpt)
    assert second.count() == n1


def test_streaming_debounce_matches_batch(spark):
    from pulsar_project_spark.streaming.pipeline import run_streaming_debounce

    # 2-day gap: the test corpus has no sub-second same-key bursts, so a
    # wide gap is what exercises BOTH branches (kept and suppressed).
    gap = 2 * 86400 * 1_000_000
    got = run_streaming_debounce(spark, SF_SMOKE, gap_us=gap)
    from pyspark.sql.window import Window
    from pulsar_project_spark.sources.tables import load_events

    # batch replica of the same greedy rule: a row is kept iff it is
    # > gap after the previously KEPT row of its (user, type) chain.
    # The chain is sequential per key — replicate with a pandas fold.
    ev = (
        load_events(spark, SF_SMOKE)
        .select("user_id", "event_type", "event_id", "ts_us")
        .toPandas()
        .sort_values(["user_id", "event_type", "ts_us", "event_id"])
    )
    import collections
    kept = collections.Counter()
    dropped = collections.Counter()
    last = {}
    for r in ev.itertuples():
        k = (r.user_id, r.event_type)
        if k not in last or r.ts_us - last[k] > gap:
            kept[r.event_type] += 1
            last[k] = r.ts_us
        else:
            dropped[r.event_type] += 1
    got_rows = {r.event_type: (r.n_total, r.n_kept, r.n_debounced)
                for r in got.collect()}
    want = {t: (kept[t] + dropped[t], kept[t], dropped[t]) for t in got_rows}
    assert got_rows == want
    assert any(d for (_, _, d) in got_rows.values()), "no suppression exercised"


# --- named twin pairing -----------------------------------------------------
#
# Every rows-only streaming declared query is certified against an
# ORACLE-BACKED batch declared query BY NAME, so the driver's hash
# verdict on the batch twin transitively covers the streaming path:
# stream == batch (here) and batch == DuckDB (driver/oracle gate).

TWIN_OF: dict[str, str] = {
    # EMPTY since round 12: the round-11 oracle sweep moved every other
    # streaming query to full self-certifying oracles (tx landing /
    # twin-oracle adoption / closed-form emission rules), and round 12
    # closed the last holdout — streaming_debounce's greedy kept-row
    # chain now carries its own recursive-CTE oracle (its lag()-rule
    # batch twin is a DIFFERENT function at the declared 2-day gap, so
    # twin adoption was never an option). The twin tests below remain
    # as fast inline regressions with literal twin names.
}


def _declared(name):
    import __spark_entry__ as e

    return e.queries()[name]


def test_every_streaming_query_names_an_oracle_backed_twin():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    rows_only_streaming = sorted(
        n for n in qs
        if (n.startswith("streaming_") or n == "mq_pipeline_roundtrip")
        and n not in osql  # an oracle-backed streaming query (the tx
        # exactly-once census) certifies ITSELF — no twin needed
    )
    assert rows_only_streaming == sorted(TWIN_OF), (
        "every rows-only streaming query needs a named twin")
    for twin in TWIN_OF.values():
        assert twin in osql, f"twin {twin} is not oracle-backed"
    # and the self-certifying exception really is oracle-backed
    assert "streaming_tx_exactly_once_census" in osql


def test_twin_topic_frequencies(spark):
    got = {(r.topic, r.frequency) for r in
           _declared("streaming_topic_frequencies")(spark, SF_SMOKE).collect()}
    want = {(r.event_type, r.n) for r in
            _declared("group_count_by_type")(
                spark, SF_SMOKE).collect()}
    # (last_updated_us is covered by the inline batch test above; the
    # named twin certifies the (topic, frequency) projection)
    assert got == want


def test_twin_exact_dedup(spark):
    got = {(r.event_type, r.n) for r in
           _declared("streaming_exact_dedup")(spark, SF_SMOKE).collect()}
    want = {(r.event_type, r.n) for r in
            _declared("group_count_by_type")(spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_mq_roundtrip(spark):
    got = {(r.event_type, r.n) for r in
           _declared("mq_pipeline_roundtrip")(spark, SF_SMOKE).collect()}
    want = {(r.event_type, r.n) for r in
            _declared("group_count_by_type")(spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_debounce(spark):
    # round 12: the declared query runs the GREEDY chain at a 2-day gap
    # (own recursive-CTE oracle); regression-pin it against the same
    # pandas greedy replica the runner-level parity test uses, and pin
    # that it genuinely DIFFERS from the lag-rule batch twin here.
    import collections

    from pulsar_project_spark.queries.streaming_ops import _DEBOUNCE_GAP_US
    from pulsar_project_spark.sources.tables import load_events

    got = {tuple(r) for r in
           _declared("streaming_debounce")(spark, SF_SMOKE).collect()}
    ev = (load_events(spark, SF_SMOKE)
          .select("user_id", "event_type", "event_id", "ts_us")
          .toPandas()
          .sort_values(["user_id", "event_type", "ts_us", "event_id"]))
    kept = collections.Counter()
    dropped = collections.Counter()
    last = {}
    for r in ev.itertuples():
        k = (r.user_id, r.event_type)
        if k not in last or r.ts_us - last[k] > _DEBOUNCE_GAP_US:
            kept[r.event_type] += 1
            last[k] = r.ts_us
        else:
            dropped[r.event_type] += 1
    want = {(t, kept[t] + dropped[t], kept[t], dropped[t])
            for t in set(kept) | set(dropped)}
    assert got == want
    assert any(d for (_, _, _, d) in got), "no suppression exercised"
    lag_kept = {(r.event_type, r.n_kept) for r in
                _declared("debounce_events_1s")(spark, SF_SMOKE)
                .collect()}
    # greedy != lag at this gap (debounce_events_1s runs at 1 s AND the
    # lag rule; assert the censuses differ so the oracle isn't trivial)
    assert {(t, k) for (t, _, k, _) in got} != lag_kept


def test_twin_session_windows(spark):
    got = {tuple(r) for r in
           _declared("streaming_session_windows")(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in
            _declared("user_session_stats")(
                spark, SF_SMOKE).collect()}
    # append mode emits only watermark-closed sessions: ⊆ and ≥90%
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_twin_keep_last_state(spark):
    # the batch twin keeps last 10 per user; the streaming tail keeps 5
    # — the streaming tail must equal the last 5 of the twin's rows
    got = {r.user_id: r.tail_event_ids for r in
           _declared("streaming_keep_last_state")(spark, SF_SMOKE).collect()}
    rows = _declared("keep_last_n_per_user")(
        spark, SF_SMOKE).collect()
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.ts_us, r.event_id))
    want = {
        u: ",".join(str(eid) for _, eid in sorted(evs)[-5:])
        for u, evs in per_user.items()
    }
    assert got == want


def test_twin_stream_stream_join(spark):
    from pulsar_project_spark.sources.tables import load_events

    # precondition for exactness: the batch band is [p-1h, p] inclusive,
    # the streaming band [p-1h, p) exclusive — identical unless a click
    # lands EXACTLY on a purchase timestamp (none in the corpus; if one
    # ever appears, this assert names the reason the twin diverged)
    ev = load_events(spark, SF_SMOKE)
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts_us")
    c = ev.filter(F.col("event_type") == "click").select("user_id", "ts_us")
    assert p.join(c, ["user_id", "ts_us"]).count() == 0

    pairs = _declared("streaming_stream_stream_join")(spark, SF_SMOKE)
    got = {
        (r.purchase_id, r.n_clicks, r.last_click_ts_us)
        for r in pairs.groupBy("purchase_id")
        .agg(F.count("*").alias("n_clicks"),
             F.max("click_ts_us").alias("last_click_ts_us"))
        .collect()
    }
    want = {
        (r.event_id, r.n_clicks, r.last_click_ts_us)
        for r in _declared("attribution_window_join")(
            spark, SF_SMOKE).collect()
        if r.n_clicks > 0
    }
    assert got == want


def test_twin_windowed_counts(spark):
    import datetime

    got = _declared("streaming_windowed_counts")(spark, SF_SMOKE).collect()
    daily: dict = {}
    for r in got:
        day = datetime.datetime.fromtimestamp(
            r.win_start_us / 1e6, datetime.timezone.utc).strftime("%Y-%m-%d")
        daily[(day, r.event_type)] = daily.get((day, r.event_type), 0) + r.n
    piv = _declared("pivot_event_type_by_day")(spark, SF_SMOKE)
    want = {}
    for r in piv.collect():
        d = r.asDict()
        for col, v in d.items():
            if col.startswith("n_") and v:
                want[(d["day"], col[2:])] = v
    # append mode may withhold the trailing watermark margin: every day
    # before the last emitted day must match EXACTLY; the tail day ≤
    last_day = max(day for day, _ in daily)
    for key, v in want.items():
        day = key[0]
        if day < last_day:
            assert daily.get(key) == v, f"mismatch at {key}"
        else:
            assert daily.get(key, 0) <= v
    extra = {k for k in daily if k not in want}
    assert not extra, f"streaming emitted unknown cells: {extra}"


def test_tws_debounce_gated_without_protobuf(spark):
    """The transformWithStateInPandas variant must either work (env has
    protobuf) or raise a clear ImportError naming the fallback — never
    crash a stream."""
    from pulsar_project_spark.streaming.pipeline import run_streaming_debounce_tws

    try:
        import google.protobuf  # noqa: F401
        has_pb = True
    except ImportError:
        has_pb = False
    if has_pb:
        df = run_streaming_debounce_tws(spark, SF_SMOKE)
        assert df.schema.fieldNames() == [
            "user_id", "event_type", "n_kept", "n_debounced"]
    else:
        import pytest as _pytest
        with _pytest.raises(ImportError, match="run_streaming_debounce"):
            run_streaming_debounce_tws(spark, SF_SMOKE)


def test_twin_cdc_apply(spark):
    # streaming state table == batch reduce on the idempotent columns
    # (n_changes stays batch-only: counters aren't retry-idempotent
    # without a transactional log, values under max-merge are)
    got = {tuple(r) for r in
           _declared("streaming_cdc_apply")(spark, SF_SMOKE).collect()}
    want = {(r.user_id, r.value, r.event_type, r.last_op) for r in
            _declared("cdc_apply_net_state")(
                spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_left_outer_attribution(spark):
    """Streaming LEFT OUTER attribution vs the oracle-backed batch
    census: per-user counts are a SUBSET of batch (clicks too close to
    the end of the finite input never see the watermark advance enough
    to emit their NULL row), attributed counts never exceed batch, and
    the total shortfall is bounded by the batch clicks sitting in the
    unclosable tail (click_ts + horizon + watermark > max event ts)."""
    from pulsar_project_spark.sources.tables import load_events

    HORIZON_US = 30 * 60 * 1_000_000
    WATERMARK_US = 10 * 60 * 1_000_000

    got = {r.user_id: (r.n_clicks, r.n_attributed) for r in
           _declared("streaming_left_outer_attribution")(
               spark, SF_SMOKE).collect()}
    want = {r.user_id: (r.n_clicks, r.n_attributed) for r in
            _declared("unattributed_clicks_census")(
                spark, SF_SMOKE).collect()}
    assert set(got) <= set(want)
    for u, (nc, na) in got.items():
        wc, wa = want[u]
        assert nc <= wc and na <= wa, (u, got[u], want[u])
        # attributed clicks emit promptly (inner matches don't wait on
        # the watermark): no attributed click may go missing
        assert na == wa, (u, got[u], want[u])

    ev = load_events(spark, SF_SMOKE)
    from pyspark.sql import functions as F
    # the GLOBAL watermark is the minimum over both withWatermark
    # nodes: min(max click ts, max purchase ts) - delay. A click's
    # NULL row emits only once that watermark passes click_ts+horizon.
    max_c = (ev.filter(F.col("event_type") == "click")
             .agg(F.max("ts_us")).collect()[0][0])
    max_p = (ev.filter(F.col("event_type") == "purchase")
             .agg(F.max("ts_us")).collect()[0][0])
    wm = min(max_c, max_p) - WATERMARK_US
    tail = (ev.filter((F.col("event_type") == "click")
                      & F.col("user_id").isNotNull())
            .filter(F.col("ts_us") + HORIZON_US >= wm)
            .count())
    missing = (sum(nc for nc, _ in want.values())
               - sum(nc for nc, _ in got.values()))
    assert 0 <= missing <= tail, (missing, tail, wm)


def test_twin_retractable_agg(spark):
    # the streaming weighted changelog (per-batch additive fold) must
    # land exactly the batch twin's net view, including the vanished
    # net-zero groups
    got = {tuple(r) for r in
           _declared("streaming_retractable_agg")(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in
            _declared("retractable_agg_view_census")(
                spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_ks_drift(spark):
    # the incrementally-maintained value histogram must reproduce the
    # batch KS EXACTLY (binning aggregated counts from the same global
    # bounds commutes with binning raw rows)
    got = {tuple(r) for r in
           _declared("streaming_ks_drift")(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in
            _declared("ks_distance_order_values")(
                spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_cms_heavy_hitters(spark):
    # counters are a LINEAR sketch: per-batch pointwise addition must
    # land the identical counter table, hence identical estimates
    got = {tuple(r) for r in
           _declared("streaming_cms_heavy_hitters")(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in
            _declared("cms_heavy_hitters")(
                spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_lc_distinct(spark):
    # bit_or folds are idempotent AND commutative: the streamed bitmap
    # must be bit-identical to the batch build, popcounts equal
    got = {tuple(r) for r in
           _declared("streaming_lc_distinct")(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in
            _declared("lc_distinct_bitmap_census")(
                spark, SF_SMOKE).collect()}
    assert got == want


def test_twin_tx_change_feed(spark):
    # tailing the manifest chain through the custom streaming source
    # and folding exactly-once must land the batch feed's census
    # verbatim — stream-feed == batch-feed (== DuckDB via the twin)
    got = {tuple(r) for r in
           _declared("streaming_tx_change_feed")(spark, SF_SMOKE).collect()}
    want = {tuple(r) for r in
            _declared("tx_change_feed_census")(spark, SF_SMOKE).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Exactly-once certification, from outside the runners. The declared
# queries drain ONCE; ``_certify_exactly_once`` wraps ``pipeline._drain``
# (the one place a stream starts) so that each drain of a tx-landed
# runner is restarted against the same checkpoint, and every tx table
# beside the checkpoint must come out unchanged (version, and row_hwm
# where the table tracks rows). After the runner returns, batch 0 is
# re-delivered twice — straight to the table under the (app, batch)
# txn id read from its manifests, and through the runner's own
# foreachBatch sink with batch id 0 — and both must be no-ops.
# ---------------------------------------------------------------------------


def _tx_state(tables):
    from pulsar_project_spark.sources.txlog import tx_snapshot

    snaps = {t: tx_snapshot(t) for t in tables}
    return {t: (s["version"], s.get("row_hwm")) for t, s in snaps.items()}


def _certify_exactly_once(spark, monkeypatch, run):
    """Run ``run()`` with every ``pipeline._drain`` restarted as above,
    then replay batch 0; raise AssertionError on any commit the restart
    or a replay makes. Returns the run's result rows (collected before
    the replays, and before a later call can reuse the runner's per-pid
    table dirs)."""
    import os

    import pulsar_project_spark.streaming.pipeline as P
    from pulsar_project_spark.sources.txlog import (
        tx_append_tracked_txn,
        tx_append_txn,
        tx_latest_version,
        tx_read,
        tx_read_tracked,
        tx_snapshot,
    )

    real_drain = P._drain
    drains = []  # (tx tables beside the checkpoint, sink, stream schema)

    def drain_then_restart(sdf, checkpoint=None, mode="append", sink=None):
        assert checkpoint, "a tx-landed drain must own a stable checkpoint"
        real_drain(sdf, checkpoint, mode, sink)
        base = os.path.dirname(checkpoint)
        tables = sorted(
            os.path.join(base, d) for d in os.listdir(base)
            if tx_latest_version(os.path.join(base, d)) is not None)
        assert tables, f"no tx table beside checkpoint {checkpoint}"
        drains.append((tables, sink, sdf.schema))
        before = _tx_state(tables)
        real_drain(sdf, checkpoint, mode, sink)  # no new input
        if _tx_state(tables) != before:
            raise AssertionError(
                f"checkpoint restart re-committed a batch: {before} -> "
                f"{_tx_state(tables)}")

    monkeypatch.setattr(P, "_drain", drain_then_restart)
    rows = {tuple(r) for r in run().collect()}
    monkeypatch.undo()
    assert drains, "the runner never drained a stream"

    for tables, sink, schema in drains:
        before = _tx_state(tables)
        replayed = 0
        for t in tables:
            snap = tx_snapshot(t)
            apps = [m["txn"]["app"] for m in
                    (tx_snapshot(t, v) for v in range(snap["version"] + 1))
                    if m.get("txn", {}).get("batch") == 0]
            if not apps:
                continue  # not a streaming landing (e.g. frozen centroids)
            assert snap["files"], f"{t}: nothing landed, replay proves nothing"
            # the payload is irrelevant: the id already in the manifest
            # chain must make the call a no-op
            if "row_hwm" in snap:
                tx_append_tracked_txn(tx_read_tracked(spark, t).drop("_rid"),
                                      t, app=apps[0], batch=0, n_files=1)
            else:
                tx_append_txn(tx_read(spark, t), t, app=apps[0], batch=0,
                              n_files=1)
            replayed += 1
        assert replayed, f"no table in {tables} carried a batch-0 txn id"
        if _tx_state(tables) != before:
            raise AssertionError("replayed batch 0 was not deduplicated")
        # Spark re-invokes foreachBatch with the same batch id after an
        # executor crash; a sink that keys its commit by anything else
        # lands the batch twice
        sink(spark.createDataFrame([], schema), 0)
        if _tx_state(tables) != before:
            raise AssertionError(
                "batch 0 re-delivered through the sink landed again")
    return rows


_TX_LANDED_RUNNERS = [
    ("run_topic_frequencies", {}),
    ("run_windowed_counts", {}),
    ("run_keep_last_state", {}),
    ("run_streaming_tx_sink", {}),
    ("run_streaming_tx_change_feed", {}),
    ("run_streaming_tx_mv", {}),
    ("run_streaming_tx_tracked_sink", {}),
    # 1 file per trigger: 4 micro-batches, the strongest exercise; the
    # plain run keeps the declared 2 per trigger, so the equality also
    # certifies the batch-split independence the trigger sizing rests on
    ("run_streaming_ann_ingest", {"max_files_per_trigger": 1}),
]


@pytest.mark.gate  # exactly-once/restart certification arm
@pytest.mark.parametrize("runner, kwargs", _TX_LANDED_RUNNERS,
                         ids=[r for r, _ in _TX_LANDED_RUNNERS])
def test_tx_landed_runner_exactly_once(spark, monkeypatch, runner, kwargs):
    import pulsar_project_spark.streaming.pipeline as P

    run = getattr(P, runner)
    checked = _certify_exactly_once(
        spark, monkeypatch, lambda: run(spark, SF_SMOKE, **kwargs))
    plain = {tuple(r) for r in run(spark, SF_SMOKE).collect()}
    assert checked == plain


@pytest.mark.gate  # exactly-once/restart certification arm
def test_exactly_once_check_catches_unkeyed_sink(spark, monkeypatch,
                                                 tmp_path):
    """The moved check must still catch the bug it exists for: a sink
    that commits under a fresh txn id on every delivery (instead of
    the batch id) double-lands a batch Spark re-delivers."""
    import itertools

    import pulsar_project_spark.streaming.pipeline as P
    from pulsar_project_spark.sources.txlog import (
        tx_append_txn,
        tx_init,
        tx_read,
    )

    def broken_runner():
        table = str(tmp_path / "table")
        tx_init(table)
        deliveries = itertools.count()

        def sink(bdf, batch_id):
            tx_append_txn(bdf, table, app="broken",
                          batch=next(deliveries), n_files=1)

        P._drain(P.events_stream(spark, SF_SMOKE).select("event_id"),
                 str(tmp_path / "ckpt"), "append", sink)
        return tx_read(spark, table)

    with pytest.raises(AssertionError, match="re-delivered through the sink"):
        _certify_exactly_once(spark, monkeypatch, broken_runner)


def test_runners_carry_no_certification_flags():
    import inspect

    import pulsar_project_spark.queries.similarity_ops as S
    import pulsar_project_spark.streaming.pipeline as P

    flagged = [
        f"{mod.__name__}.{name}"
        for mod in (P, S) for name, fn in vars(mod).items()
        if name.startswith("run_") and callable(fn)
        and {"gate", "verify_rebuild"} & set(inspect.signature(fn).parameters)
    ]
    assert not flagged, flagged


def test_events_stream_follows_a_source_that_changes_shape(spark, tmp_path):
    """A directory-shaped events source replaced by a single file at the
    same path hashes to the same stage dir: the stream must read the
    file's rows only, and the stage must keep no link from the old
    shape. An entry that is not a link at all (a directory left in the
    stage) is pruned too, not a crash."""
    import hashlib
    import os
    import shutil
    import tempfile

    import pulsar_project_spark.streaming.pipeline as P

    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(50)
    path = tmp_path / "events.parquet"
    stage = os.path.join(tempfile.gettempdir(), "events_src_" + hashlib.md5(
        str(path.resolve()).encode()).hexdigest()[:12])
    os.makedirs(os.path.join(stage, "leftover"))

    def streamed_rows():
        out = str(tmp_path / "out")
        shutil.rmtree(out, ignore_errors=True)
        P._drain(P.events_stream(spark, str(tmp_path)).select("event_id"),
                 sink=out)
        return spark.read.parquet(out).count()

    src.repartition(2).write.parquet(str(path))  # directory, 2 parts
    assert streamed_rows() == 50
    assert len(os.listdir(stage)) == 2
    shutil.rmtree(path)
    staged = str(tmp_path / "single")
    src.limit(20).coalesce(1).write.parquet(staged)
    part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
    shutil.move(os.path.join(staged, part), str(path))  # now one file
    assert streamed_rows() == spark.read.parquet(str(path)).count() == 20
    assert os.listdir(stage) == ["events.parquet"]


def test_streaming_dedup_collapses_null_event_time_rows(spark):
    # ADVICE r11 #3: the streaming_exact_dedup oracle omits a ts filter
    # on the claim that NULL-event-time rows are still deduplicated.
    # Pin it: a doubled input containing a NULL-ts row must collapse to
    # one copy per event_id — dropDuplicatesWithinWatermark keys its
    # state on the id; a NULL event time doesn't bypass the state probe
    # within the batch. If this ever regressed (both copies surviving),
    # the census would double-count NULL-ts rows on a dirty corpus.
    import tempfile

    src = tempfile.mkdtemp(prefix="nullts_src_")
    df = spark.createDataFrame(
        [(1, "click", 1_000_000_000),
         (2, "click", 2_000_000_000),
         (3, "view", None)],
        "event_id long, event_type string, ts_us long")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    ev = (spark.readStream.schema(schema).format("parquet").load(src)
          .withColumn("event_time", F.timestamp_micros(F.col("ts_us"))))
    dup = ev.unionByName(ev)
    ded = (dup.withWatermark("event_time", "10 minutes")
           .dropDuplicatesWithinWatermark(["event_id"]))
    sink = tempfile.mkdtemp(prefix="nullts_out_")
    q = (ded.writeStream.outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
         .format("parquet").option("path", sink)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.read.parquet(sink)
    assert out.count() == 3
    assert out.filter("ts_us IS NULL").count() == 1


@pytest.mark.gate  # exactly-once/restart certification arm
def test_streaming_debounce_multi_batch_state(spark, tmp_path):
    """Round-12 user-keyed fold: per-type chains packed into ONE JSON
    state value per user. A user seen in MULTIPLE micro-batches must
    resume every chain exactly (state round-trip), including the
    NULL-type chain and a NULL-user group — and the 2-batch result
    must equal the 1-batch run of the same corpus (split independence
    when later files carry later timestamps per chain)."""
    import glob
    import os
    import shutil

    from pulsar_project_spark.streaming.pipeline import run_streaming_debounce

    us = F.timestamp_micros
    rows_a = [  # batch 0 (older mtime)
        (1, 1, "x", 100), (2, 1, "x", 105), (3, 1, "x", 120),
        (4, 1, None, 100),
        (5, None, "x", 50),
        (6, 2, "y", 200), (7, 2, "y", 200),
    ]
    rows_b = [  # batch 1: same chains continue
        (8, 1, "x", 125), (9, 1, "x", 140),
        (10, 1, None, 104),
        (11, None, "x", 70),
        (12, 2, "y", 205), (13, 2, "y", 215),
    ]
    sf = str(tmp_path / "sf")
    ev_dir = os.path.join(sf, "events.parquet")
    os.makedirs(ev_dir)
    for i, rows in enumerate((rows_a, rows_b)):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, t long"
        ).select("event_id", us("t").alias("ts"), "user_id", "event_type",
                 F.lit(1.0).alias("value"), F.lit("{}").alias("props"))
        tmp_out = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        dst = os.path.join(ev_dir, f"part-{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # A older than B

    # greedy rule at gap=10us, strict >: per chain
    #   u1/x   100k 105d 120k 125d 140k   u1/NULL 100k 104d
    #   uN/x   50k 70k                    u2/y    200k 200d 205d 215k
    want = {("x", 7, 5, 2), (None, 2, 1, 1), ("y", 4, 2, 2)}

    two = run_streaming_debounce(spark, sf, gap_us=10,
                                 max_files_per_trigger=1)
    got_two = {(r.event_type, r.n_total, r.n_kept, r.n_debounced)
               for r in two.collect()}
    assert got_two == want

    one = run_streaming_debounce(spark, sf, gap_us=10)
    got_one = {(r.event_type, r.n_total, r.n_kept, r.n_debounced)
               for r in one.collect()}
    assert got_one == want


@pytest.mark.gate  # exactly-once/restart certification arm
def test_no_data_batch_result_invariant(spark, monkeypatch):
    """The three drains that skip the trailing no-data micro-batch
    (round 12: inner stream-stream join, watermarked update-mode dedup
    and topic frequencies) must produce ROW-IDENTICAL results with the
    batch forced back on — the skip is a cost change, never a result
    change (their watermarks bound state; no emission is
    watermark-gated)."""
    from contextlib import nullcontext

    import pulsar_project_spark.streaming.pipeline as P

    def results():
        return {
            "ssj": sorted(map(tuple,
                              P.run_stream_stream_join(spark, SF_SMOKE)
                              .collect())),
            "dedup": sorted(map(tuple,
                                P.run_streaming_dedup(spark, SF_SMOKE)
                                .collect())),
            "topics": sorted(map(tuple,
                                 P.run_topic_frequencies(spark, SF_SMOKE)
                                 .collect())),
        }

    skipped = results()
    monkeypatch.setattr(P, "_skip_trailing_no_data_batch",
                        lambda _spark: nullcontext())
    kept = results()
    assert skipped == kept

"""Declared queries: Structured Streaming surface (SURVEY.md §2.9).

After the round-11 oracle sweep (and the round-12 debounce upgrade),
EVERY streaming query here carries a full DuckDB hash oracle,
certified through one of five sound mechanisms:

1. exactly-once tx landing (``streaming_tx_exactly_once_census``'s
   recipe; topic frequencies / windowed counts / keep-last state) —
   each micro-batch lands via txn-keyed ``tx_append_txn``, the
   restart and forced-replay checks must commit nothing, and the
   landed census hashes against the original parquet;
2. batch-split-independent folds adopting their batch twins' oracles
   (retractable agg: additive; CMS: linear; LC: idempotent bit_or;
   CDC: commutative-idempotent max-struct; KS: value-exact histogram
   with read-time bounds);
3. single-batch-exact pipelines with direct census oracles (dedup
   over doubled input, stream-stream inner join, MQ roundtrip) —
   sound because the one staged source file makes batch 0 the only
   data batch;
4. closed-form watermark emission rules, boundaries pinned by probes
   (tumbling/session: emit iff end <= ms-floored final watermark;
   left-outer NULL rows: emit iff click+horizon strictly below it);
5. recursive-CTE replay of genuinely sequential state
   (``streaming_debounce``: the greedy kept-row chain as a LATERAL
   frontier recursion — round-12 upgrade, VERDICT r11 order #5).

tests/test_streaming.py keeps the full stream == batch twin suite as
fast regressions on top of the driver hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pulsar_project_spark.registry import declare
from pulsar_project_spark.streaming import (
    run_keep_last_state,
    run_session_windows,
    run_streaming_debounce,
    run_stream_stream_join,
    run_streaming_dedup,
    run_topic_frequencies,
    run_windowed_counts,
)


# Streaming aggregations drop rows whose event time is NULL (the
# window expression has no bucket for them), so every oracle filters
# ts IS NOT NULL explicitly. epoch_us is nonnegative on every corpus
# (post-1970), so DuckDB // (floor) == Spark div (trunc) here.
_TOPIC_FREQ_SQL = """
SELECT event_type AS topic,
       count(*) AS frequency,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_updated_us
FROM events
WHERE ts IS NOT NULL
GROUP BY event_type
"""


@declare("streaming_topic_frequencies", oracle=_TOPIC_FREQ_SQL)
def q_streaming_topic_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE streaming aggregation (upgraded from rows-only,
    VERDICT r10 order #1): update-mode agg keyed (topic, day) with a
    watermark (reference topic upsert + frequency++, memory.py:315-344),
    every micro-batch's running totals landed in a TRANSACTIONAL table
    via txn-keyed ``tx_append_txn`` before the last-wins rollup is read
    — so the per-topic census hashes against DuckDB over the original
    parquet, and a lost batch, doubled batch, or watermark drop breaks
    the oracle hash. The restart + forced-replay certification runs in
    ``_certify_exactly_once`` (tests/test_streaming.py), not per
    execution."""
    return run_topic_frequencies(spark, sf_dir)


_WINDOWED_COUNTS_SQL = """
WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
w AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS win_start_us,
         event_type, count(*) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT win_start_us, event_type, n
FROM w, mx
WHERE win_start_us + 3600000000 <= mx.m - 600000000
"""


@declare("streaming_windowed_counts", oracle=_WINDOWED_COUNTS_SQL)
def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE watermarked tumbling windows (upgraded from
    rows-only, VERDICT r10 order #1): append mode emits each
    watermark-closed window exactly once into a txn-landed tx table
    (restart + forced-replay certification in ``_certify_exactly_once``
    (tests/test_streaming.py); the declared query drains once). The
    oracle states the emission rule in closed form: a 1-hour window
    emits iff its end is at or before (max event time − 10-minute delay)
    — the final watermark of a drained bounded stream (boundary pinned
    empirically: end == wm emits; Spark's ms-flooring of the watermark
    is unobservable at second-aligned window ends). Late-data drops
    cannot occur: the one staged source file makes batch 0 the only data
    batch, and batch 0 runs at watermark 0."""
    return run_windowed_counts(spark, sf_dir)


_KEEP_LAST_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_us DESC NULLS FIRST,
                                     event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_seen
  FROM events
)
SELECT user_id, n_seen,
       string_agg(CAST(event_id AS VARCHAR), ','
                  ORDER BY ts_us NULLS LAST, event_id) AS tail_event_ids
FROM e WHERE rn <= 5
GROUP BY user_id, n_seen
"""


@declare("streaming_keep_last_state", oracle=_KEEP_LAST_SQL)
def q_streaming_keep_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE custom stateful operator (upgraded from rows-only,
    VERDICT r10 order #1): ``applyInPandasWithState`` per-user last-N
    tail (records[-n:], memory.py:125, as managed streaming state),
    per-batch state landed in a txn-keyed tx table, last-wins per user
    by batch id (restart + forced-replay certification in
    ``_certify_exactly_once`` (tests/test_streaming.py)). The oracle is
    the closed-form tail: within the single data batch the operator
    sorts by (ts_us, event_id), so the landed tail equals the global
    top-5-by-(ts_us, event_id) in ascending order and n_seen equals the
    per-user row count (NULL ts sorts last ascending in pandas, mirrored
    by NULLS FIRST under DESC in the oracle)."""
    return run_keep_last_state(spark, sf_dir)


# The greedy kept-row chain (keep iff > gap after the last KEPT row,
# not the last row) is genuinely sequential — no lag()/window form
# exists — but it IS SQL-expressible as a recursive CTE: the frontier
# carries one kept row per (user, type) key and each step picks the
# next row strictly beyond the gap via a LATERAL LIMIT 1. Iteration
# count = the longest kept chain; per-level work is one indexed probe
# per live key. The 2-day gap is the declared setting because it is
# where the semantics are OBSERVABLE on this corpus: at 1 s nothing is
# suppressed (kept == lag rule trivially), at 2 days the greedy census
# differs from the lag rule by ~20% — so a lag-rule regression in the
# stateful operator breaks this hash.
_DEBOUNCE_GAP_US = 2 * 86400 * 1_000_000

_STREAMING_DEBOUNCE_SQL = f"""
WITH RECURSIVE e AS (
  -- ts IS NOT NULL mirrored in the stream: debounce is defined on
  -- event time; a timeless event has no place in any gap chain
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events WHERE ts IS NOT NULL
),
kept AS (
  SELECT user_id, event_type, rn, ts_us FROM e WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.event_type, n.rn, n.ts_us
  FROM kept k, LATERAL (
    -- IS NOT DISTINCT FROM: applyInPandasWithState groups NULL keys
    -- into one group, so a NULL-user/type chain must extend too (a
    -- plain = would freeze every NULL-key chain at its first row)
    SELECT e.user_id, e.event_type, e.rn, e.ts_us FROM e
    WHERE e.user_id IS NOT DISTINCT FROM k.user_id
      AND e.event_type IS NOT DISTINCT FROM k.event_type
      AND e.rn > k.rn AND e.ts_us - k.ts_us > {_DEBOUNCE_GAP_US}
    ORDER BY e.rn LIMIT 1
  ) n
),
tot AS (SELECT event_type, count(*) AS n_total FROM e GROUP BY event_type),
kc AS (SELECT event_type, count(*) AS n_kept FROM kept GROUP BY event_type)
SELECT t.event_type, t.n_total,
       coalesce(kc.n_kept, 0) AS n_kept,
       t.n_total - coalesce(kc.n_kept, 0) AS n_debounced
FROM tot t LEFT JOIN kc
  ON t.event_type IS NOT DISTINCT FROM kc.event_type
"""


@declare("streaming_debounce", oracle=_STREAMING_DEBOUNCE_SQL)
def q_streaming_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE stateful streaming debounce (round-12 upgrade from
    rows-only, VERDICT r11 order #5): applyInPandasWithState same-key
    suppression — an event within the gap of the previously KEPT event
    of its (user, type) chain is dropped; state is the per-type
    (last_kept, counts) triples of each live user, sharded by user
    (one group call folds all of a user's chains — round 12,
    guide §4.1). The greedy chain is genuine sequential state (NOT the
    lag() rule: suppressed rows don't reset the clock), and the oracle
    replays it exactly as a recursive CTE over the raw parquet. Sound
    for a hash: the single staged source file makes batch 0 the only
    data batch, so the in-batch per-chain sorted-ts fold IS the global
    greedy chain per key. Run at a 2-day gap — the setting where
    suppression fires and greedy != lag on this corpus (see
    ``_DEBOUNCE_GAP_US``); the 1-second production default is covered
    by the oracle-backed batch twin ``debounce_events_1s``."""
    return run_streaming_debounce(spark, sf_dir, gap_us=_DEBOUNCE_GAP_US)


# Session semantics pinned empirically (round-11 probes): an event at
# EXACTLY prev + gap still merges (break iff ts - prev > gap); a
# session emits iff its end (last event + gap) is <= the final
# watermark, computed in Spark's ms domain: (max_ts_us // 1000 -
# 600000) * 1000 — session ends carry microseconds, so the ms flooring
# is observable here (unlike hour-aligned tumbling windows).
_SESSION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE ts IS NOT NULL
), mx AS (
  SELECT (max(ts_us) // 1000 - 600000) * 1000 AS wm FROM e
), seq AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
), isl AS (
  SELECT user_id, ts_us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM seq
), sess AS (
  SELECT user_id, min(ts_us) AS session_start_us,
         max(ts_us) + 1800000000 AS session_end_us,
         count(*) AS n_events
  FROM isl GROUP BY user_id, sid
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM sess, mx WHERE session_end_us <= mx.wm
"""


@declare("streaming_session_windows", oracle=_SESSION_SQL)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): watermarked per-user session
    windows (30-min inactivity gap), append mode. The oracle replays
    the session merge as gaps-and-islands (break iff the gap is
    STRICTLY exceeded — an event at exactly prev+gap merges, pinned
    empirically) and the emission rule in closed form: a session emits
    iff last-event + gap <= the final ms-domain watermark. Late drops
    cannot occur (single staged file → batch 0 runs at watermark 0)."""
    return run_session_windows(spark, sf_dir)


_DEDUP_CENSUS_SQL = """
SELECT event_type, count(*) AS n
FROM events GROUP BY event_type
"""


@declare("streaming_exact_dedup", oracle=_DEDUP_CENSUS_SQL)
def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): watermarked streaming dedup on
    the event id over a deliberately DOUBLED input — the oracle is the
    census of the raw (un-doubled) events, so the dedup either
    restores exact original multiplicity or the driver hash breaks.
    Sound under any batch split: both copies of an id are in-flight
    within the watermark horizon of each other (same event time), so
    dropDuplicatesWithinWatermark can never evict one copy's state
    before the other arrives. NULL-event-time rows pass through
    un-dropped (probed empirically), so the census needs no ts
    filter."""
    return run_streaming_dedup(spark, sf_dir)


_SSJ_SQL = """
SELECT p.event_id AS purchase_id, p.user_id, p.value,
       c.event_id AS click_id,
       epoch_us(p.ts) AS purchase_ts_us,
       epoch_us(c.ts) AS click_ts_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND epoch_us(c.ts) < epoch_us(p.ts)
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@declare("streaming_stream_stream_join", oracle=_SSJ_SQL)
def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): watermarked stream-stream inner
    join, clicks → purchases within 1 hour (the batch twin
    ``attribution_window_join``'s lookback). INNER stream-stream
    matches emit as soon as both sides are buffered — the watermark
    only bounds state, it never gates emission — and with the one
    staged source file both sides arrive in batch 0 before any state
    eviction, so the emitted pairs are exactly the batch band join;
    the oracle states that join directly. NULL user_id / ts fail the
    join predicate identically in both engines."""
    return run_stream_stream_join(spark, sf_dir, horizon_minutes=60)


_MQ_ROUNDTRIP_SQL = """
SELECT event_type, count(*) AS n,
       CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
FROM events GROUP BY event_type
"""


@declare("mq_pipeline_roundtrip", oracle=_MQ_ROUNDTRIP_SQL)
def q_mq_pipeline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): Pulsar-shaped MQ pipeline —
    produce events as keyed binary messages → stream-consume → decode
    → aggregate (complete mode) → publish to an output topic → read it
    back (sources.mq; BASELINE.json north star 'Structured Streaming +
    Pulsar source/sink'). The oracle is the direct census of the
    original events, so the ENTIRE encode → enqueue → stream-decode →
    aggregate → re-encode → dequeue → re-decode chain must be
    byte-faithful for the hash to match — roundtrip fidelity is now a
    driver-checked claim, not a test-only one."""
    from pulsar_project_spark.sources.mq import roundtrip_pipeline

    return roundtrip_pipeline(spark, sf_dir)


def _cdc_stream_sql() -> str:
    # the batch twin's oracle minus n_changes (a per-key change COUNT
    # is not maintainable from a max-struct fold; the streamed state
    # carries the winning row only)
    from pulsar_project_spark.queries.cdc_ops import _CDC_NET_SQL
    return ("SELECT user_id, value, event_type, last_op FROM ("
            + _CDC_NET_SQL + ")")


@declare("streaming_cdc_apply", oracle=_cdc_stream_sql())
def q_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC: the change log as micro-batches, folded into a
    state table by a seq-respecting max-struct MERGE (retry/out-of-order
    safe); tombstoned deletes filtered at read. FULL-ORACLE since round
    11: the max-struct fold is commutative/associative/idempotent, so
    the final state equals the batch reduction under any batch split —
    the oracle is the batch twin ``cdc_apply_net_state``'s SQL minus
    its n_changes column (a change count is not derivable from a
    max-struct state)."""
    from pulsar_project_spark.streaming.pipeline import run_streaming_cdc_apply
    return run_streaming_cdc_apply(spark, sf_dir)


# Left-outer emission pinned empirically (round-11 probes): matched
# clicks emit promptly (inner matches never wait on the watermark);
# an UNMATCHED click's NULL row emits iff click_ts + horizon is
# STRICTLY below the global watermark = min over both sides of
# (ms-floored max event time) - delay.
_LEFT_OUTER_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, epoch_us(ts) AS cts
  FROM events WHERE event_type = 'click'
    AND user_id IS NOT NULL AND ts IS NOT NULL
), p AS (
  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
  FROM events WHERE event_type = 'purchase'
    AND user_id IS NOT NULL AND ts IS NOT NULL
), wm AS (
  -- the global watermark is the MIN over both sides' nodes; a side
  -- that never saw a row keeps its node at the epoch, so the global
  -- watermark cannot advance and NO unmatched row ever closes.
  -- DuckDB's least() SKIPS NULLs (it would return the surviving
  -- side's max), so the empty-side case must pin w to NULL
  -- explicitly — found by the round-11 full-suite hypothesis run on
  -- a purchase-free corpus.
  SELECT CASE WHEN (SELECT count(*) FROM p) = 0
              OR (SELECT count(*) FROM c) = 0 THEN NULL
         ELSE (least((SELECT max(cts) // 1000 FROM c),
                     (SELECT max(pts) // 1000 FROM p)) - 600000) * 1000
         END AS w
), attr AS (
  SELECT c.user_id, c.click_id, c.cts,
         max(CASE WHEN p.purchase_id IS NOT NULL THEN 1 ELSE 0 END)
           AS attributed
  FROM c LEFT JOIN p
    ON c.user_id = p.user_id
   AND p.pts > c.cts AND p.pts <= c.cts + 1800000000
  GROUP BY 1, 2, 3
), emitted AS (
  SELECT a.* FROM attr a, wm
  WHERE a.attributed = 1 OR a.cts + 1800000000 < wm.w
)
SELECT user_id,
       count(*) AS n_clicks,
       CAST(sum(attributed) AS BIGINT) AS n_attributed,
       CAST(count(*) - sum(attributed) AS BIGINT) AS n_unattributed
FROM emitted GROUP BY user_id
"""


@declare("streaming_left_outer_attribution", oracle=_LEFT_OUTER_SQL)
def q_streaming_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): watermarked stream-stream LEFT
    OUTER join — clicks that never convert within 30 min emit with
    NULL purchase columns once the watermark proves no match can
    arrive; the abandonment semantics the inner join can't express.
    The oracle states BOTH emission rules in closed form: matched
    clicks always appear (inner matches emit promptly), unmatched
    clicks appear iff click_ts + horizon is strictly below the global
    ms-domain watermark (min over both sides) — so a lost NULL row, a
    premature emission, or a state-eviction bug breaks the driver
    hash, not just the subset test."""
    from pulsar_project_spark.streaming.pipeline import (
        run_stream_stream_left_join,
    )
    return run_stream_stream_left_join(spark, sf_dir)


_LATE_WM_US = 10 * 60 * 1_000_000  # the streaming family's watermark delay


@declare(
    "late_arrival_census",
    oracle=f"""
WITH arr AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, event_id % 8 AS shard
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
), w AS (
  SELECT event_type, ts_us,
         max(ts_us) OVER (PARTITION BY shard ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS seen_max
  FROM arr
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN seen_max IS NOT NULL
                      AND ts_us < seen_max - {_LATE_WM_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late
FROM w GROUP BY event_type
""",
)
def q_late_arrival_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY at rest: how much data would a
    10-minute watermark silently drop? Arrival order is the ingestion
    id; each of 8 arrival shards tracks its running max event time
    (exactly how Spark's per-partition watermark heuristic sees the
    stream before the global min), and an event is late when it
    arrives more than the delay behind its shard's high-water mark.
    Running the census BEFORE deploying a watermark turns "pick 10
    minutes" from folklore into a measured loss rate. Partitioned
    running-max windows — no global sort; one exchange on shard, one
    tiny per-type aggregate."""
    from pulsar_project_spark.sources.tables import load_events
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isNotNull() & F.col("ts_us").isNotNull()
        & F.col("event_id").isNotNull()
    ).select("event_type", "ts_us", "event_id",
             (F.col("event_id") % 8).alias("shard"))
    w = (Window.partitionBy("shard").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    flagged = ev.select(
        "event_type", "ts_us",
        F.max("ts_us").over(w).alias("seen_max"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(
                F.col("seen_max").isNotNull()
                & (F.col("ts_us") < F.col("seen_max") - _LATE_WM_US), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_late"),
    )


_TX_SINK_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
FROM events
GROUP BY event_type
"""


@declare("streaming_tx_exactly_once_census", oracle=_TX_SINK_SQL)
def q_streaming_tx_exactly_once_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first streaming query strong enough to carry a full hash
    oracle: events stream-land into the transactional table log via an
    idempotent foreachBatch sink (txn id = (app, batchId) inside the
    manifest — the commit and its replay check share one atomic CAS),
    then the landed table is censused against the oracle's census of the
    ORIGINAL parquet, so a lost batch, doubled batch, or value drift
    through the stream-land-read chain breaks the hash. The restart +
    forced-replay certification runs in ``_certify_exactly_once``
    (tests/test_streaming.py); the declared query drains once."""
    from pulsar_project_spark.streaming.pipeline import run_streaming_tx_sink

    return run_streaming_tx_sink(spark, sf_dir)


def _retract_sql() -> str:
    from pulsar_project_spark.queries.star_ops import _RETRACT_SQL
    return _RETRACT_SQL


@declare("streaming_retractable_agg", oracle=_retract_sql())
def q_streaming_retractable_agg(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): the per-micro-batch fold of the
    weighted changelog is ADDITIVE — linear aggregates merge by plain
    addition, so the final state equals the batch fold under ANY batch
    split, and the query soundly carries its batch twin
    ``retractable_agg_view_census``'s oracle directly (the equality the
    twin test already pinned, now hash-certified by the driver)."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_retractable_agg,
    )
    return run_streaming_retractable_agg(spark, sf_dir)


def _ks_sql() -> str:
    from pulsar_project_spark.queries.analytics2 import _KS_SQL
    return _KS_SQL


@declare("streaming_ks_drift", oracle=_ks_sql())
def q_streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): the state is the EXACT per-value
    (cents, da, db) histogram, folded additively per micro-batch, and
    the global bounds are taken at read time from the accumulated
    histogram — so binning aggregated counts commutes with binning raw
    rows under ANY batch split, and the final KS walk soundly carries
    the batch twin ``ks_distance_order_values``'s oracle directly."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_ks_drift,
    )
    return run_streaming_ks_drift(spark, sf_dir)


def _cms_sql() -> str:
    from pulsar_project_spark.queries.sketch_ops import _CMS_SQL
    return _CMS_SQL


@declare("streaming_cms_heavy_hitters", oracle=_cms_sql())
def q_streaming_cms_heavy_hitters(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): count-min counters are a LINEAR
    sketch — pointwise per-batch addition lands the identical counter
    table under ANY batch split, hence identical estimates, so the
    query soundly carries the batch twin ``cms_heavy_hitters``'s
    oracle directly."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_cms_heavy_hitters,
    )
    return run_streaming_cms_heavy_hitters(spark, sf_dir)


def _lc_sql() -> str:
    from pulsar_project_spark.queries.sketch_ops import _LC_SQL
    return _LC_SQL


@declare("streaming_lc_distinct", oracle=_lc_sql())
def q_streaming_lc_distinct(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """FULL-ORACLE (round-11 upgrade): bit_or bitmap folds are
    idempotent AND commutative — the streamed bitmap is bit-identical
    to the batch build under any split and even under replays, so the
    query soundly carries the batch twin ``lc_distinct_bitmap_census``'s
    oracle directly."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_lc_distinct,
    )
    return run_streaming_lc_distinct(spark, sf_dir)


def _tx_cdf_sql() -> str:
    from pulsar_project_spark.queries.io_ops import _TX_CDF_SQL
    return _TX_CDF_SQL


@declare("streaming_tx_change_feed", oracle=_tx_cdf_sql())
def q_streaming_tx_change_feed(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """FULL-ORACLE streaming query (upgraded from rows-only in the
    round-8 continuation): a genuine streaming run over the custom
    Python DataSource tailing the tx log's manifest chain, folding
    per-commit weighted changes into a STATE tx table via exactly-once
    ``tx_append_txn`` (restart certification in
    ``_certify_exactly_once`` (tests/test_streaming.py)). The final
    census carries the SAME oracle as the batch twin
    ``tx_change_feed_census`` — sound because stream offsets are
    manifest versions (every micro-batch is a whole (start, end] commit
    window, so both sides of a commit net within one batch) and the
    per-(side, type) partials are additive. This closes the chain
    storage → stream → storage → DuckDB with a driver hash at every
    link."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_tx_change_feed,
    )
    return run_streaming_tx_change_feed(spark, sf_dir)


_TX_MV_SQL = """
WITH base AS (
  SELECT event_id, user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         ((event_id % 3) + 3) % 3 AS r3
  FROM events
),
live AS (
  SELECT user_id, event_type, cents FROM base
  WHERE (r3 IN (0, 1)
         AND (user_id IS NULL OR (user_id NOT BETWEEN 100 AND 300
                                  AND user_id NOT BETWEEN 400 AND 500)))
     OR r3 = 2 OR event_id IS NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN user_id BETWEEN 0 AND 50 THEN cents * 2
                     ELSE cents END) AS BIGINT) AS total_cents
FROM live
GROUP BY event_type
"""


@declare("streaming_tx_mv_census", oracle=_TX_MV_SQL)
def q_streaming_tx_mv_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MATERIALIZED VIEW off the change data feed — the IVM
    capstone composing the round-8 streaming CDF source with the
    retractable fold (VERDICT r8 order #6): a commit history spanning
    every commit class (two appends, a layout-only compaction, a DV
    delete, a COW delete, a RENAME COLUMN, a post-rename append, and a
    COW UPDATE) is tailed by the ``tx_change_feed`` streaming source —
    now column-mapping-aware, presenting every generation under the
    FINAL logical schema — and folded per micro-batch into a maintained
    aggregate tx table via exactly-once ``tx_append_txn`` (restart
    certification in ``_certify_exactly_once``
    (tests/test_streaming.py)). The final view hash-matches the oracle's
    direct census of the live rows replayed from raw events: view(table)
    == fold(changes(table)) certified through a real stream, across a
    rename boundary, with transactional storage on both ends."""
    from pulsar_project_spark.streaming.pipeline import run_streaming_tx_mv

    return run_streaming_tx_mv(spark, sf_dir)


_TX_TRACKED_SINK_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
FROM events
GROUP BY event_type
UNION ALL
SELECT '__row_ids__', n, (n * (n - 1)) // 2, n - 1
FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
WHERE n > 0
"""


@declare("streaming_tx_tracked_sink_census", oracle=_TX_TRACKED_SINK_SQL)
def q_streaming_tx_tracked_sink_census(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Exactly-once streaming landing into a ROW-TRACKED tx table — the
    second full-oracle streaming query. Beyond the exactly-once census
    (whose per-type counts a doubled batch would break), the ID-ALGEBRA
    row pins identity assignment itself without depending on batch
    boundaries: ids are {0..n-1} as a multiset iff every row landed
    exactly once AND no replay burned id range, so the oracle can state
    sum(_rid) = n(n-1)/2 and max(_rid) = n-1 in closed form. The restart
    + forced-replay arms (version AND row_hwm must stay untouched) run
    in ``_certify_exactly_once`` (tests/test_streaming.py); the declared
    query drains once — the id algebra keeps exactly-once hash-checkable
    without them. See ``run_streaming_tx_tracked_sink``."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_tx_tracked_sink,
    )

    return run_streaming_tx_tracked_sink(spark, sf_dir)


def _ann_ingest_sql() -> str:
    # quantizer trained offline on the FULL corpus (k lowest ids);
    # live = everything — the ingest path adds, never removes
    from pulsar_project_spark.queries.similarity_ops import _ann_census_sql
    return _ann_census_sql(cent_where="TRUE", live_where="TRUE")


@declare("streaming_ann_ingest_census", oracle=_ann_ingest_sql())
def q_streaming_ann_ingest_census(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """FULL-ORACLE streaming ANN ingestion (round-11 composition
    capstone): the embedding store's WRITE PATH as a genuine multi-batch
    stream — vectors arrive file-by-file (maxFilesPerTrigger=1 over a
    4-file range-split staging), each micro-batch is assigned against
    the offline-frozen coarse quantizer and PQ-encoded, and the index
    rows land exactly-once in a tx table (txn-keyed commits; restart +
    forced-replay certification in ``_certify_exactly_once``
    (tests/test_streaming.py)). Sound for a hash oracle under ANY batch
    split: assign+encode is a pure per-vector function of the frozen
    quantizer, and the landed set is the batch union — so the census is
    closed-form over the raw parquet. Composes the round-11 maintenance
    capstone (`tx_ann_index_maintenance_census`, batch change-feed) with
    the streaming surface: together they are the full lifecycle of a 100
    TB embedding store — stream-ingest, incrementally maintain, never
    rebuild except to verify."""
    from pulsar_project_spark.streaming.pipeline import (
        run_streaming_ann_ingest,
    )
    return run_streaming_ann_ingest(spark, sf_dir)

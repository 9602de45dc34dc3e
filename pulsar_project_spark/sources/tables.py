"""Parquet table sources + catalog registration.

The test corpus (TESTDATA.md) is one parquet file per table under an
``sf*`` directory. At 100 TB each of these becomes a partitioned parquet
(or Iceberg/Delta) dataset; the loader API is the same — ``spark.read
.parquet(path)`` over a directory prunes partitions and pushes filters
down identically. Nothing here materializes data on the driver.

Reference parity: the reference loads whole-state JSON documents
(``memory.py:63-91``, ``task.py:406-421``); our durable store is columnar
parquet with explicit schemas instead (SURVEY.md §1.3 — the reference's
JSON reload path is defective by its own filename mismatch, so parquet +
checkpoints is the deliberate replacement, not a translation).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor. At
# 100 TB the facts (lineitem/orders/events/documents) grow unbounded but
# these stay catalog-sized — joins against them must be broadcast joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-scoped LAZY-PLAN cache (round 13, guide §1.2): building a
# parquet-backed DataFrame costs ~100 ms of DRIVER metadata work per
# call (DataFrameReader py4j round trips, file listing, footer schema
# inference) — paid on every query construction, 2x per query in the
# steady bench, ~1-3 tables per query. The cache memoizes the immutable
# LOGICAL PLAN object per (session, realpath, mtime_ns, size): no rows,
# no results — every action on the cached DataFrame re-scans the
# parquet exactly as a fresh read would (this is the same class of
# driver-side metadata reuse as Spark's own per-session
# FileStatusCache, extended to the DataFrame wrapper). The mtime/size
# key invalidates on corpus regeneration. Each session's plans live in
# a ``_Plans`` dict held strongly only by the session itself: a cached
# DataFrame references its session, so any module-level strong
# reference to the plans would keep a dropped session alive forever.
# Session -> plans -> DataFrame -> session is then a plain cycle the
# collector frees, and ``_PLAN_CACHE`` (session id -> plans) holds the
# plans weakly, so the entry goes with them; a stopped session can
# never serve a stale plan to its successor.
class _Plans(dict):
    """One session's plan memo (a dict subclass, so it can be weakly
    referenced)."""


_PLAN_CACHE: "weakref.WeakValueDictionary[int, _Plans]" = (
    weakref.WeakValueDictionary())


def _session_plans(spark) -> dict:
    plans = _PLAN_CACHE.get(id(spark))
    if plans is None:
        plans = _Plans()
        spark._pulsar_plans = plans  # the one strong reference
        _PLAN_CACHE[id(spark)] = plans
    return plans


def _cached_plan(spark: SparkSession, path: str, tag: str, build):
    try:
        st = os.stat(path)
    except OSError:
        return build()  # absent/racing path: never cache
    key = (tag, os.path.realpath(path), st.st_mtime_ns, st.st_size)
    per_session = _session_plans(spark)
    df = per_session.get(key)
    if df is None:
        df = build()
        per_session[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Columnar parquet scan → Catalyst gets pushdown,
    pruning and the vectorized reader for free.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS,false) in some
    corpus generations (Spark rejects it unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is on — set here, runtime-
    settable, idempotent, a no-op for micro timestamps) and as
    TIMESTAMP(MICROS) in others. Use :func:`load_events` for the
    normalized shape that absorbs both.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin NTZ inference ON: with it off, naive-micros parquet reads
        # as TimestampType and unix_micros() would shift by the session
        # timezone — silently breaking the documented tz-proof parity of
        # ts_us_expr. Runtime-settable, idempotent (true is the 4.x
        # default, but a driver session may have flipped it).
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    path = table_path(sf_dir, name)
    return _cached_plan(spark, path, "table",
                        lambda: spark.read.parquet(path))


def ts_us_expr(df: DataFrame, col: str = "ts"):
    """Schema-adaptive BIGINT epoch-microsecond expression for an event
    time column. The corpus has shipped ``ts`` two ways across
    generations; both normalize to the same canonical micros:

    * BIGINT nanos (parquet NANOS via ``nanosAsLong``) → integer
      ``div 1000`` — integer, not float ``/``, because nanos exceed
      double's 52-bit mantissa. This matches DuckDB's truncating
      nano→micro read exactly.
    * TIMESTAMP_NTZ (parquet MICROS, isAdjustedToUTC=false) →
      ``timestampdiff(MICROSECOND, epoch, ts)`` — pure wall-clock
      arithmetic on the naive value, identical to DuckDB's
      ``epoch_us(ts)``. NOT ``unix_micros(cast(ts as timestamp))``:
      that cast interprets the wall clock in the SESSION timezone, and
      the external driver runs a vanilla session with no UTC pin.
    * TIMESTAMP (tz-adjusted) → ``unix_micros`` directly (already an
      instant; no session-tz dependence).

    BIGINT event time downstream is timezone-proof: parity cannot depend
    on the driver session's timezone.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.expr(f"{col} div 1000")
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(col))
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    # Anything else is a schema drift we want NAMED, not silently coerced
    # into a confusing analysis error downstream.
    raise TypeError(f"unsupported events.{col} type: {dt}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with the canonical time column ``ts_us`` (BIGINT epoch
    microseconds) — see :func:`ts_us_expr` for the normalization."""
    # the two events read confs are side effects some callers rely on;
    # set them on the hit path too (load_table only runs on miss)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")

    def build():
        ev = load_table(spark, sf_dir, "events")
        return ev.withColumn("ts_us", ts_us_expr(ev)).drop("ts")
    # same lazy-plan memo as load_table: the ts_us projection is a pure
    # function of the cached base plan (key invalidates with the file)
    return _cached_plan(spark, table_path(sf_dir, "events"),
                        "events+ts_us", build)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every PRESENT table as a temp view so operators can be
    written in either DataFrame or SQL form against the same catalog.
    Missing files are skipped, not errors: a partial warehouse (a fuzz
    corpus, a pruned landing zone, a dims-only catalog) is a normal
    state, and a pure-SQL query fails with a clear unresolved-relation
    message only if it actually references an absent table."""
    import os

    dfs: dict[str, DataFrame] = {}
    state = []
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        try:
            st = os.stat(path)
        except OSError:
            continue  # vanished since the exists check: skip it too
        dfs[name] = load_table(spark, sf_dir, name)
        state.append((name, st.st_mtime_ns, st.st_size))
    # re-registering the identical view set is ~10 py4j round trips
    # (~250 ms) per call; skip when THIS function's last registration on
    # this session covered the same (sf_dir, corpus-state). Any change —
    # different sf_dir, regenerated file, added/removed table — differs
    # in the key and re-registers. Nothing else in this package creates
    # temp views under these names.
    key = (os.path.realpath(sf_dir), tuple(state))
    per_session = _session_plans(spark)
    if per_session.get("__views__") != key:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        per_session["__views__"] = key
    return dfs

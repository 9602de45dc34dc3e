"""Config-catalog scan, lenient JSON parse and table-source unit tests."""

from __future__ import annotations

import json
import os


def test_scan_server_configs(spark, tmp_path):
    from pulsar_project_spark.sources.config_catalog import scan_server_configs

    for server, cfg in {
        "files": {"command": "python", "args": ["-m", "files"], "env": {"ROOT": "/tmp"}},
        "web": {"command": "node", "args": ["web.js"]},
    }.items():
        d = tmp_path / server
        d.mkdir()
        (d / "config.json").write_text(json.dumps(cfg))
        (d / "README.md").write_text("ignored")  # pathGlobFilter must skip

    cat = {r["server"]: r for r in scan_server_configs(spark, str(tmp_path)).collect()}
    assert set(cat) == {"files", "web"}
    assert cat["files"]["command"] == "python"
    assert cat["files"]["args"] == ["-m", "files"]
    assert cat["files"]["env_keys"] == ["ROOT"]
    assert cat["web"]["env_keys"] == []
    assert os.path.basename(cat["web"]["config_path"]) == "config.json"


def test_lenient_parse_fallback():
    from pulsar_project_spark.functions.lenient_json import lenient_parse

    assert lenient_parse("{a: 1, b: 'x',}") == '{"a":1,"b":"x"}'
    assert lenient_parse("['a', 'b',]") == '["a","b"]'
    assert lenient_parse("{'nested': {k: [1, 2,],},}") == '{"nested":{"k":[1,2]}}'
    assert lenient_parse("not json") is None
    assert lenient_parse(None) is None
    # strict JSON passes through canonically
    assert lenient_parse('{"b": 2, "a": 1}') == '{"a":1,"b":2}'


def test_json5_grammar_extensions():
    """The fallback parser covers the json5 features the regex
    normalizer could not: comments, hex, Infinity/NaN, signed numbers,
    bare-dot decimals, \\x escapes, and // inside strings."""
    from pulsar_project_spark.functions.lenient_json import lenient_parse

    # comments stripped outside strings only
    assert lenient_parse('{// line\n a: 1, /* block */ b: 2}') == '{"a":1,"b":2}'
    assert lenient_parse('{"url": "http://x/y"} // tail') == '{"url":"http://x/y"}'
    assert lenient_parse('["a /* not a comment */ b"]') == '["a /* not a comment */ b"]'
    # hex integers, leading +, bare-dot decimals, exponents
    assert lenient_parse('{h: 0x1A, p: +5, d: .5, t: 5., e: 1e2}') == \
        '{"d":0.5,"e":100.0,"h":26,"p":5,"t":5.0}'
    # Infinity / NaN literals (canonical dump keeps Python repr tokens)
    assert lenient_parse('[Infinity, -Infinity, +Infinity]') == \
        '[Infinity, -Infinity, Infinity]'.replace(' ', '')
    assert lenient_parse('{n: NaN}') == '{"n":NaN}'
    # json5 escapes: \x, \v, \0, escaped quote of either kind
    assert lenient_parse("['\\x41\\v\\0', '\\'', \"\\\"\"]") == json.dumps(
        ["A\v\0", "'", '"'], separators=(",", ":")
    )
    # line continuation inside a string
    assert lenient_parse('"ab\\\ncd"') == '"abcd"'
    # $-prefixed unquoted keys (ECMA IdentifierName)
    assert lenient_parse('{$ref: "x", _id: 2}') == '{"$ref":"x","_id":2}'
    # unicode whitespace tolerated between tokens
    assert lenient_parse('\ufeff{\u00a0a:\u20281\u2029}') == '{"a":1}'
    # malformed inputs still return None, never raise
    for bad in ('{a:}', '[1,,2]', '{a: 1', '"unterminated', '/* x', '{1: 2}',
                '{a: 1} extra', "'bad\nnewline'"):
        assert lenient_parse(bad) is None, bad


def test_flatten_paths_document_order_and_leaves():
    from pulsar_project_spark.functions.lenient_json import _loads, flatten_paths

    got = list(flatten_paths(_loads("{a: 1, 'b': [true, {c: 'x'},], d: null}")))
    assert got == [
        ("$.a", "1"),
        ("$.b[0]", "true"),
        ("$.b[1].c", '"x"'),
        ("$.d", "null"),
    ]
    assert list(flatten_paths({})) == [("$", "{}")]
    assert list(flatten_paths([])) == [("$", "[]")]


def test_json5_paths_udtf_lateral_join(spark):
    from pyspark.sql.functions import udtf

    from pulsar_project_spark.functions.lenient_json import Json5PathsUDTF

    J = udtf(Json5PathsUDTF, returnType="path: string, value: string",
             useArrow=True)
    spark.udtf.register("json5_paths_t", J)
    spark.createDataFrame(
        [("{n: 1.5, /*c*/ s: 'q',}",), ("not json",), (None,)], "s string"
    ).createOrReplaceTempView("j5src")
    rows = spark.sql(
        "SELECT p.path, p.value FROM j5src, LATERAL json5_paths_t(s) p"
    ).collect()
    got = {(r.path, r.value) for r in rows}
    assert got == {("$.n", "1.5"), ("$.s", '"q"'), ("$error", "unparseable")}


def test_ts_us_normalization_both_corpus_generations(spark, tmp_path):
    """The corpus has shipped events.ts as BIGINT nanos (round-1 parquet
    NANOS via nanosAsLong) and as TIMESTAMP micros (round-2). Both must
    normalize to the identical BIGINT epoch-micros ts_us."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_project_spark.sources.tables import load_events

    micros = [1704067798778549, 1706657176220708, 0]
    nano_dir = tmp_path / "nanos" / "events.parquet"
    ts_dir = tmp_path / "micros" / "events.parquet"
    nano_dir.parent.mkdir(parents=True)
    ts_dir.parent.mkdir(parents=True)
    pq.write_table(
        pa.table({"event_id": [1, 2, 3],
                  "ts": pa.array([m * 1000 for m in micros], pa.int64())}),
        str(nano_dir))
    pq.write_table(
        pa.table({"event_id": [1, 2, 3],
                  "ts": pa.array(micros, pa.timestamp("us"))}),
        str(ts_dir))

    a = {r["event_id"]: r["ts_us"]
         for r in load_events(spark, str(tmp_path / "nanos")).collect()}
    b = {r["event_id"]: r["ts_us"]
         for r in load_events(spark, str(tmp_path / "micros")).collect()}
    assert a == b == {1: micros[0], 2: micros[1], 3: micros[2]}


def test_ts_us_tz_adjusted_micros_branch(spark, tmp_path):
    """ADVICE r2: the TimestampType (unix_micros) branch of ts_us_expr
    was untested. Write isAdjustedToUTC=true micros (pyarrow tz-aware
    timestamp) — Spark reads that as TimestampType regardless of NTZ
    inference — and pin that ts_us equals the raw epoch micros even
    with a non-UTC session timezone (instant semantics, no session-tz
    dependence)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pulsar_project_spark.sources.tables import load_events

    micros = [1704067798778549, 1706657176220708, 0]
    d = tmp_path / "tzadj" / "events.parquet"
    d.parent.mkdir(parents=True)
    pq.write_table(
        pa.table({"event_id": [1, 2, 3],
                  "ts": pa.array(micros, pa.timestamp("us", tz="UTC"))}),
        str(d))

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev = load_events(spark, str(tmp_path / "tzadj"))
        from pyspark.sql.types import LongType
        assert isinstance(ev.schema["ts_us"].dataType, LongType)
        got = {r["event_id"]: r["ts_us"] for r in ev.collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert got == {1: micros[0], 2: micros[1], 3: micros[2]}


def test_ts_us_ntz_inference_pinned_and_unknown_type_named(spark, tmp_path):
    """ADVICE r2: (a) load_table must pin
    spark.sql.parquet.inferTimestampNTZ.enabled=true so naive-micros
    parquet can't silently read as session-tz TimestampType; (b) an
    unrecognized ts dtype must raise a NAMED TypeError, not fall through
    to the NTZ expression."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from pulsar_project_spark.sources.tables import load_table, ts_us_expr

    d = tmp_path / "naive" / "events.parquet"
    d.parent.mkdir(parents=True)
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([1704067798778549],
                                                  pa.timestamp("us"))}),
        str(d))
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        ev = load_table(spark, str(tmp_path / "naive"), "events")
        assert spark.conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        from pyspark.sql.types import TimestampNTZType
        assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")

    df = spark.createDataFrame([("x",)], "ts string")
    with _pytest.raises(TypeError, match="unsupported events.ts type"):
        ts_us_expr(df)


def test_plan_cache_entry_dies_with_its_session(monkeypatch, tmp_path):
    """A cached plan references its session, so the cache must not be
    what keeps a dropped session (and its plans) alive."""
    import gc

    from pulsar_project_spark.sources import tables

    monkeypatch.setattr(tables, "_PLAN_CACHE", type(tables._PLAN_CACHE)())
    path = str(tmp_path / "t.parquet")
    open(path, "wb").close()

    class Session:
        pass

    class Plan:
        def __init__(self, session):
            self.session = session

    session = Session()
    plan = tables._cached_plan(session, path, "table", lambda: Plan(session))
    assert tables._cached_plan(session, path, "table", lambda: None) is plan
    assert len(tables._PLAN_CACHE) == 1
    del session, plan
    gc.collect()
    assert len(tables._PLAN_CACHE) == 0


def test_register_views_skips_a_table_that_vanishes_mid_listing(
        spark, monkeypatch):
    """A table file deleted between the existence check and the stat is
    skipped like an absent table, not raised."""
    from pulsar_project_spark.sources import tables
    from tests.conftest import SF_SMOKE

    gone = tables.table_path(SF_SMOKE, "nation")
    real_stat = os.stat
    calls = []

    def stat(path, *args, **kwargs):
        if path == gone:
            calls.append(path)
            if len(calls) > 1:  # the existence check saw it; then it went
                raise FileNotFoundError(path)
        return real_stat(path, *args, **kwargs)

    monkeypatch.setattr(os, "stat", stat)
    dfs = tables.register_views(spark, SF_SMOKE)
    assert "nation" not in dfs
    assert {"region", "orders"} <= set(dfs)

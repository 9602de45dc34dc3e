"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from outside the package: every public function of
each layer module is wrapped (and so is every binding of it imported
into another package module, ``queries.*`` included), the benchmark
marks each op's build and action phase, and Spark's own hooks supply
the rest: job groups plus the event log for jobs, stages, tasks and
executor metrics, a ``StreamingQueryListener`` for micro-batch
progress, and ``spark.sql.pyspark.udf.profiler`` for Python UDF time.

Spans stay in memory and are reduced to per-op figures after the run.
A layer's time is the union of its outermost spans (a span with no
ancestor of the same layer); a span's self time is its duration minus
the part its direct children cover.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import pstats
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

# module prefix (under pulsar_project_spark.) -> layer
LAYERS: dict[str, str] = {
    "session": "session",
    "sources.tables": "tables",
    "sources.txlog": "txlog",
    "sources.mq": "mq",
    "streaming.pipeline": "streaming",
    "operators.retrieval": "operators.retrieval",
    "operators.mmr": "operators.retrieval",
    "operators.pq": "operators.vector",
    "operators.ivf": "operators.vector",
    "operators.kmeans": "operators.vector",
    "operators.dedup": "operators.dedup",
    "operators.clustering": "operators.dedup",
    "operators.similarity": "operators.dedup",
    "operators": "operators.other",
    "functions": "functions",
}
# the two txlog internals that separate the staging write from the
# manifest CAS (the CAS raises TxConflict on a lost race)
TXLOG_INTERNALS = ("_commit", "_stage_dataframe")
TXLOG_READS = ("tx_read", "tx_snapshot", "tx_latest", "tx_history",
               "tx_detail", "tx_table_changes", "tx_typed_changes",
               "tx_changes", "tx_version_as_of", "tx_txn_version",
               "tx_constraints", "tx_generated", "plan_compaction")
BENCH = "bench"

# The tracer that wrappers report to. Wrappers look it up here at call
# time, so a wrapper that ends up pickled into a Python worker finds
# none and just calls through.
ACTIVE: "Tracer | None" = None


def layer_of(module: str) -> str | None:
    rel = module.removeprefix("pulsar_project_spark.")
    for prefix, layer in LAYERS.items():
        if rel == prefix or rel.startswith(prefix + "."):
            return layer
    return None


def _wrap(fn, layer: str, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer = getattr(sys.modules.get(__name__), "ACTIVE", None)
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return wrapper


class Tracer:
    """Spans and Spark-hook readings of one traced run."""

    def __init__(self):
        self.spans: list[list] = []  # [name, layer, t0, t1, parent, op, error]
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self.op: str | None = None
        self.wall0 = time.time() - time.perf_counter()
        self.progress: list[tuple[float, int, dict]] = []
        self.timed_from: float | None = None
        self.udf_s = 0.0
        self.wrapped = 0

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        # a callback thread (foreachBatch) nests under the main thread's
        # open span: that is the call it runs inside of
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = [name, layer, time.perf_counter(), None, parent, self.op, None]
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        except BaseException as ex:
            rec[6] = type(ex).__name__
            raise
        finally:
            rec[3] = time.perf_counter()
            stack.pop()

    @contextmanager
    def phase(self, op: str, phase: str):
        self.op = f"{op}:{phase}"
        try:
            with self.span(f"{op}:{phase}", BENCH):
                yield
        finally:
            self.op = None

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Wrap every public function of each layer module, then rebind
        every module attribute that held an original."""
        import pkgutil

        import pulsar_project_spark as pkg

        for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
            __import__(info.name)
        modules = [m for n, m in sorted(sys.modules.items())
                   if n == pkg.__name__ or n.startswith(pkg.__name__ + ".")]
        originals: dict[int, object] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, obj in list(vars(mod).items()):
                private = name.startswith("_")
                if private and not (layer == "txlog" and name in TXLOG_INTERNALS):
                    continue
                if (inspect.isfunction(obj) and obj.__module__ == mod.__name__
                        and not inspect.isgeneratorfunction(obj)):
                    w = _wrap(obj, layer, name)
                    originals[id(obj)] = w
                    setattr(mod, name, w)
                    self.wrapped += 1
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
        global ACTIVE
        ACTIVE = self

    def uninstall(self) -> None:
        global ACTIVE
        ACTIVE = None

    # -- Spark hooks -----------------------------------------------------
    def start_timed(self, spark, udf_profile_dir: str) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                tracer.progress.append((ts.timestamp(), int(p.numInputRows),
                                        dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        spark.streams.addListener(self._listener)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self._udf_dir = udf_profile_dir
        self.timed_from = time.time()

    def stop_timed(self, spark) -> None:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        time.sleep(1.0)  # listener events are delivered asynchronously
        spark.streams.removeListener(self._listener)
        spark.profile.dump(self._udf_dir, type="perf")
        for path in glob.glob(os.path.join(self._udf_dir, "*.pstats")):
            self.udf_s += pstats.Stats(path).total_tt

    # -- reduction -------------------------------------------------------
    def layer_metrics(self, event_dir: str, n_ops: int, cores: int) -> dict:
        return reduce_spans(self.spans, n_ops) | event_log_metrics(
            event_dir, self.timed_phases(), cores, n_ops) | {
            **streaming_metrics(self.progress, self.timed_from, n_ops),
            "functions.python_udf_s": self.udf_s / n_ops,
        }

    def timed_phases(self) -> list[tuple[str, float, float]]:
        """(group, wall start, wall end) of every timed build/action."""
        return [(s[0], self.wall0 + s[2], self.wall0 + s[3])
                for s in self.spans if s[1] == BENCH
                and s[0].rsplit(":", 1)[1] in ("build", "action")]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[list]) -> list[float]:
    """Each span's duration minus the union of its direct children's
    intervals, clipped to the span."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[4] is not None:
            children.setdefault(s[4], []).append((s[2], s[3]))
    out = []
    for i, s in enumerate(spans):
        kids = [(max(a, s[2]), min(b, s[3])) for a, b in children.get(i, ())]
        out.append((s[3] - s[2]) - _union([k for k in kids if k[1] > k[0]]))
    return out


def outermost(spans: list[list], layer: str) -> list[int]:
    """Spans of ``layer`` with no ancestor of the same layer."""
    out = []
    for i, s in enumerate(spans):
        if s[1] != layer:
            continue
        p = s[4]
        while p is not None and spans[p][1] != layer:
            p = spans[p][4]
        if p is None:
            out.append(i)
    return out


def _timed(spans: list[list], i: int) -> bool:
    """Whether span ``i`` ran inside a timed build/action phase."""
    op = spans[i][5]
    return op is not None and op.rsplit(":", 1)[1] in ("build", "action")


def reduce_spans(spans: list[list], n_ops: int) -> dict:
    def dur(i):
        return spans[i][3] - spans[i][2]

    def layer_s(layer, pred=lambda s: True):
        return sum(dur(i) for i in outermost(spans, layer)
                   if _timed(spans, i) and pred(spans[i])) / n_ops

    selfs = self_times(spans)
    builds = [i for i, s in enumerate(spans)
              if s[1] == BENCH and s[0].endswith(":build")]
    actions = [i for i, s in enumerate(spans)
               if s[1] == BENCH and s[0].endswith(":action")]
    spark_sessions = [dur(i) for i, s in enumerate(spans) if s[0] == "get_spark"]
    is_read = lambda s: s[0].startswith(TXLOG_READS)  # noqa: E731
    tx_out = [i for i in outermost(spans, "txlog") if _timed(spans, i)]
    tx_internal = [i for i, s in enumerate(spans)
                   if s[1] == "txlog" and _timed(spans, i)]
    return {
        "session.get_spark_s": statistics.median(spark_sessions) if spark_sessions else 0.0,
        "tables.load_table_calls": sum(
            1 for i, s in enumerate(spans)
            if s[0] == "load_table" and _timed(spans, i)) / n_ops,
        "tables.load_table_s": layer_s("tables"),
        "op.build_s": sum(dur(i) for i in builds) / n_ops,
        "queries.build_s": sum(selfs[i] for i in builds) / n_ops,
        "spark.action_s": sum(dur(i) for i in actions) / n_ops,
        "txlog.write_calls": sum(
            1 for i in tx_out
            if not is_read(spans[i]) and spans[i][0] not in TXLOG_INTERNALS) / n_ops,
        "txlog.write_s": sum(dur(i) for i in tx_out if not is_read(spans[i])) / n_ops,
        "txlog.read_s": sum(dur(i) for i in tx_out if is_read(spans[i])) / n_ops,
        "txlog.stage_s": sum(dur(i) for i in tx_internal
                             if spans[i][0] == "_stage_dataframe") / n_ops,
        "txlog.cas_s": sum(dur(i) for i in tx_internal
                           if spans[i][0] == "_commit") / n_ops,
        "txlog.conflicts": sum(1 for i in tx_internal
                               if spans[i][0] == "_commit"
                               and spans[i][6] == "TxConflict") / n_ops,
        "streaming.drain_s": layer_s("streaming", lambda s: s[0].startswith("run_")),
        "mq.roundtrip_s": sum(dur(i) for i in outermost(spans, "mq")
                              if _timed(spans, i)
                              and spans[i][0] == "roundtrip_pipeline") / n_ops,
        "operators.retrieval_s": layer_s("operators.retrieval"),
        "operators.vector_s": layer_s("operators.vector"),
        "operators.dedup_s": layer_s("operators.dedup"),
    }


def streaming_metrics(progress, timed_from, n_ops: int) -> dict:
    rows = [p for p in progress if timed_from is not None and p[0] >= timed_from]

    def total_ms(key):
        return sum(p[2].get(key, 0) for p in rows) / 1000.0 / n_ops

    return {
        "streaming.batches": len(rows) / n_ops,
        "streaming.input_rows": sum(p[1] for p in rows) / n_ops,
        "streaming.add_batch_s": total_ms("addBatch"),
        "streaming.wal_commit_s": total_ms("walCommit"),
        "streaming.commit_offsets_s": total_ms("commitOffsets"),
        "streaming.query_planning_s": total_ms("queryPlanning"),
    }


def event_log_metrics(event_dir: str, phases, cores: int, n_ops: int) -> dict:
    """Jobs, stages, tasks and task metrics of the timed phases, from the
    event logs in ``event_dir`` (read after the session stopped).

    A job belongs to the phase named by its job group; a job without
    one (a streaming or callback thread) belongs to the timed phase its
    submission time falls in."""
    import bisect

    by_start = sorted(phases, key=lambda p: p[1])
    starts = [p[1] for p in by_start]
    groups = {p[0] for p in phases}

    def phase_at(t: float) -> str | None:
        k = bisect.bisect_right(starts, t) - 1
        if k >= 0 and by_start[k][1] <= t <= by_start[k][2]:
            return by_start[k][0]
        return None

    count = {"jobs": {}, "stages": {}, "tasks": {}}
    m = {"run": 0.0, "cpu": 0.0, "gc": 0.0, "sr": 0, "sw": 0, "spill": 0,
         "action_run": 0.0}
    for app in sorted(glob.glob(os.path.join(event_dir, "*"))):
        # one log per SparkContext; job and stage ids restart in each
        job_phase: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        for ev in _events(app):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                ph = g if g in groups else phase_at(ev["Submission Time"] / 1000.0)
                if ph is None:
                    continue
                job_phase[ev["Job ID"]] = ph
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
                _bump(count["jobs"], ph)
            elif kind == "SparkListenerStageCompleted":
                ph = job_phase.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if ph is not None:
                    _bump(count["stages"], ph)
            elif kind == "SparkListenerTaskEnd":
                ph = job_phase.get(stage_job.get(ev["Stage ID"]))
                if ph is None:
                    continue
                _bump(count["tasks"], ph)
                tm = ev.get("Task Metrics") or {}
                run = tm.get("Executor Run Time", 0) / 1000.0
                m["run"] += run
                if ph.endswith(":action"):
                    m["action_run"] += run
                m["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc"] += tm.get("JVM GC Time", 0) / 1000.0
                sr = tm.get("Shuffle Read Metrics") or {}
                m["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                m["sw"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
    action_wall = sum(p[2] - p[1] for p in phases if p[0].endswith(":action"))
    out = {}
    for what in ("jobs", "stages", "tasks"):
        for phase in ("build", "action"):
            out[f"spark.{what}.{phase}"] = sum(
                v for k, v in count[what].items() if k.endswith(":" + phase)) / n_ops
    out |= {
        "spark.executor_run_s": m["run"] / n_ops,
        "spark.executor_cpu_s": m["cpu"] / n_ops,
        "spark.gc_s": m["gc"] / n_ops,
        "spark.shuffle_read_bytes": m["sr"] / n_ops,
        "spark.shuffle_write_bytes": m["sw"] / n_ops,
        "spark.spill_bytes": m["spill"] / n_ops,
        "spark.slot_idle_ratio": (1.0 - m["action_run"] / (action_wall * cores))
        if action_wall > 0 else 1.0,
    }
    return out


def _events(app: str):
    """The events of one application's log: a single file, or a
    directory of rolled ``events_<n>_<app>`` parts read in order."""
    parts = [app] if os.path.isfile(app) else sorted(
        glob.glob(os.path.join(app, "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    for part in parts:
        with open(part) as fh:
            for line in fh:
                yield json.loads(line)


def _bump(d: dict, k: str) -> None:
    d[k] = d.get(k, 0) + 1

#!/usr/bin/env python3
"""Repository benchmark: one closed-loop, one-client workload per run.

    python3 perfbench/run.py --workload agent_turn --seed 7 --seconds 15 --trace 0

Run from the repository root. The run generates its corpus from the
seed under ``.bench_build/perfbench/``, starts a ``local[<cores>]``
session through the package's own ``session.get_spark`` and warms up
its tables (set-up), runs the workload's operations once untimed to
check every result against its DuckDB oracle and once more untimed to
record each result's digest, then times whole passes over the ops, as
many as fit ``--seconds`` on a 4-core host. The last stdout line is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instead
wraps each package layer and reports per-layer figures (see trace.py).
The line before it carries the run's settings and details (core
count, heap, scale factor, seed, PySpark version, all six end-to-end
figures with units, fail_ratio included, the tail percentile, sample
counts and every op's samples). perfbench/RESULTS.md has the design
and the steadiness record.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]
HEAP = "2g"  # fixed driver heap, so peak_rss_mb compares like with like


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's corpus scale factor")
    return ap.parse_args(argv)


def check_tree() -> None:
    """The benchmark measures the package in this tree; without it there
    is nothing to run."""
    need = ("pulsar_project_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py")
    missing = [p for p in need if not (ROOT / p).is_file()]
    if missing:
        raise SystemExit(f"perfbench: not a repository checkout, missing {missing}")


def pin_environment(work: Path, cores: int, trace: bool) -> Path:
    """Settings the JVM and Python workers inherit; every scratch path
    lands under ``work``. Returns the event-log directory."""
    tmp, local, events = work / "tmp", work / "local", work / "events"
    for d in (tmp, local, events):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return events


def warm_up_tables(spark, sf_dir: str) -> None:
    """Open every table and decode its payload columns once."""
    from pyspark.sql import functions as F

    from pulsar_project_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()
    for t, col in (("documents", F.length("text")), ("events", F.length("props")),
                   ("embeddings", F.size("embedding"))):
        load_table(spark, sf_dir, t).select(F.max(col)).collect()


def start_session(sf_dir: str):
    from pulsar_project_spark import session

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up_tables(spark, sf_dir)
    return spark


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the Python driver's peak RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb = int(line.split()[1])
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU counters (``/proc/stat``, first line)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two readings that the hypervisor
    gave to other guests (steal, the eighth counter): how contended the
    host was while the ops ran."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, work: Path) -> tuple[dict, dict]:
    from perfbench import corpus, measure, workloads

    cores = len(os.sched_getaffinity(0))
    spec = workloads.WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else spec["sf"]
    events = pin_environment(work, cores, bool(args.trace))
    sf_dir = str(work / "corpus")
    t0 = time.perf_counter()
    rows = corpus.generate(sf_dir, args.seed, sf)
    corpus_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
    spark = start_session(sf_dir)
    # process start through the package import, the JVM launch, the
    # session and the table warm-up; the corpus is the benchmark's input
    # and the verification pass its own check, so neither counts
    setup_s = time.perf_counter() - T_START - corpus_s

    import duckdb
    import pyspark

    duck = duckdb.connect()
    for t in rows:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{os.path.join(sf_dir, t)}.parquet'")
    ops = workloads.pass_ops(args.workload, args.seed)
    loop = measure.Loop(spark, sf_dir, ops, duck, tracer)
    loop.verify()
    loop.warm_up(spec["warm_up_passes"])
    if tracer is not None:
        tracer.start_timed(spark, str(work / "udf_profiles"))
    ticks = cpu_ticks()
    loop.timed(max(1, round(args.seconds / spec["pass_s"])))
    timed_steal = steal_share(ticks, cpu_ticks())
    out = loop.outcome
    if tracer is not None:
        tracer.stop_timed(spark)
    rss = peak_rss_mb(spark)
    shut_down(spark)
    duck.close()

    e2e = measure.end_to_end(out)
    split = {}
    for s in out.samples:
        split.setdefault(s.op, []).append((s.build_s, s.action_s))
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "cores": cores, "driver_heap": HEAP, "pyspark": pyspark.__version__,
        "trace": args.trace, "corpus_rows": rows,
        "corpus_s": corpus_s, "verify_s": out.verify_s,
        "warm_up_s": out.warm_up_s,
        "passes": out.passes, "timed_ops": len(out.samples),
        "timed_wall_s": out.timed_wall_s, "timed_steal_share": timed_steal,
        "ops_per_pass": len(ops),
        **{k: e2e[k] for k in ("op_p50_samples", "op_tail_pct",
                               "op_tail_samples_per_op")},
        "op_samples_s": measure.by_op(out.samples),
        "op_build_action_median_s": {
            k: [statistics.median(b for b, _ in v), statistics.median(a for _, a in v)]
            for k, v in split.items()},
        "verify_failures": out.verify_failures, "errors": out.errors,
        "run_wall_s": time.perf_counter() - T_START,
    }
    attempted = e2e["attempted"] + len(ops)
    failed = e2e["failed"] + len(out.verify_failures)
    report = {
        "op_p50_s": (e2e["op_p50_s"], "s"),
        "op_tail_s": (e2e["op_tail_s"], "s"),
        "ops_per_s": (e2e["ops_per_s"], "1/s"),
        "fail_ratio": (failed / attempted, "ratio"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    detail["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in report.items()}
    if tracer is None:
        # fail_ratio is 0 on a correct run, so it is reported here and
        # through "failed", not as a compared metric
        metrics = {k: v for k, v in report.items() if k != "fail_ratio"}
    else:
        tracer.uninstall()
        n_ops = max(1, e2e["attempted"])
        layer = tracer.layer_metrics(str(events), n_ops, cores)
        layer["trace.op_p50_s"] = e2e["op_p50_s"]
        layer["trace.ops_per_s"] = e2e["ops_per_s"]
        metrics = {k: (v, unit_of(k)) for k, v in layer.items()}
        detail["spans"] = len(tracer.spans)
        detail["wrapped_functions"] = tracer.wrapped
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def unit_of(name: str) -> str:
    """Per-layer figures are per timed op, except these three."""
    fixed = {"session.get_spark_s": "s", "trace.op_p50_s": "s",
             "trace.ops_per_s": "1/s"}
    if name in fixed:
        return fixed[name]
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_bytes"):
        return "B/op"
    return "s/op" if name.endswith("_s") else "count/op"


def main(argv=None) -> int:
    check_tree()
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    work = ROOT / ".bench_build" / "perfbench" / f"run-{os.getpid()}"
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": detail}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

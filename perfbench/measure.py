"""Checked operations, the closed loop that times them, and the
end-to-end statistics.

Each operation is built (``fn(spark, sf)``) and then reduced to an
order-insensitive digest, ``count(*)`` plus ``sum(xxhash64(all
columns))`` collected as one row. An untimed verification pass first
runs every operation once and checks its rows against the DuckDB
oracle (or, without an oracle, that it returned rows); an untimed
warm-up pass then runs the timed action itself and records the digest,
which must count the verified rows. A timed operation counts as a
success only when its digest matches.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field


def digest(df) -> tuple[int, int]:
    """``(count(*), sum(low 32 bits of xxhash64(row)))`` in one action.

    The sum of 32-bit hashes cannot overflow a long below 2**31 rows.
    Map columns are hashed through ``to_json`` (xxhash64 rejects maps)."""
    from pyspark.sql import functions as F

    cols = [F.to_json(F.col(f"`{f.name}`"))
            if "map<" in f.dataType.simpleString() else F.col(f"`{f.name}`")
            for f in df.schema.fields]
    row_hash = F.xxhash64(*cols) if cols else F.lit(0)
    row = df.select(F.count(F.lit(1)),
                    F.coalesce(F.sum(row_hash.bitwiseAND(0xFFFFFFFF)),
                               F.lit(0))).collect()[0]
    return int(row[0]), int(row[1])


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """``(percentile, value, samples beyond it)`` of the run's tail.

    The percentile is the highest one with at least 10 samples beyond
    it, 100*(n-10)/n (the 11th-largest sample), but never below p90:
    a run of fewer than 100 samples has fewer than 10 samples beyond
    any percentile that high, and reports its nearest-rank p90 with the
    count beyond it, rather than a "tail" at or below the median."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    pct = max(90.0, 100.0 * (n - 10) / n)
    value = xs[max(0, math.ceil(round(pct * n / 100.0, 9)) - 1)]
    return pct, value, sum(1 for x in xs if x > value)


@dataclass
class Sample:
    op: str
    pass_no: int
    build_s: float
    action_s: float
    ok: bool

    @property
    def seconds(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Outcome:
    """Everything the loop observed; metrics are derived from it."""

    verified_rows: dict[str, int] = field(default_factory=dict)
    expected: dict[str, tuple[int, int]] = field(default_factory=dict)
    verify_failures: dict[str, str] = field(default_factory=dict)
    verify_s: float = 0.0
    warm_up_s: float = 0.0
    samples: list[Sample] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)
    timed_wall_s: float = 0.0
    passes: int = 0


class Loop:
    """Runs one workload's operations against a session.

    Every verify, warm-up, build and action phase runs under the Spark
    job group ``<op>:<phase>``; ``tracer`` (optional) also records it as a span."""

    def __init__(self, spark, sf_dir: str, ops, duck, tracer=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.ops = ops
        self.duck = duck
        self.tracer = tracer
        self.outcome = Outcome()

    def _phase(self, op: str, phase: str):
        self.spark.sparkContext.setJobGroup(f"{op}:{phase}", op)
        if self.tracer is not None:
            return self.tracer.phase(op, phase)
        return nullcontext()

    def verify(self) -> None:
        """Untimed first pass: run every op and check its rows against
        its oracle."""
        from tools.check_oracle import compare

        t0 = time.perf_counter()
        for op in self.ops:
            try:
                with self._phase(op.name, "verify"):
                    got = op.build(self.spark, self.sf_dir).toPandas()
                if op.oracle is not None:
                    problems = compare(op.name, got,
                                       self.duck.execute(op.oracle).fetchdf())
                elif len(got) == 0:
                    problems = ["no rows"]
                else:
                    problems = []
            except Exception as ex:  # one failing op must not end the run
                problems = [f"{type(ex).__name__}: {ex}"]
            if problems:
                self.outcome.verify_failures[op.name] = "; ".join(problems)
            else:
                self.outcome.verified_rows[op.name] = len(got)
        self.outcome.verify_s = time.perf_counter() - t0

    def warm_up(self, passes: int) -> None:
        """Untimed passes over the verified ops, each op's timed build and
        digest once per pass. The first digest must count the verified
        rows and is the one every later run of the op must reproduce.

        These passes absorb what the first executions of an op's digest
        plan cost (code generation, JIT compilation of the new code
        paths). Timed, the first pass after verification ran up to 40%
        slower than the later ones, and on corpus_batch the second still
        ran slower than the third, by amounts that varied from run to
        run."""
        t0 = time.perf_counter()
        for _ in range(passes):
            for op in self.ops:
                if op.name in self.outcome.verify_failures:
                    continue
                rows = self.outcome.verified_rows[op.name]
                try:
                    with self._phase(op.name, "warmup"):
                        d = digest(op.build(self.spark, self.sf_dir))
                except Exception as ex:
                    problem = f"{type(ex).__name__}: {ex}"
                else:
                    want = self.outcome.expected.setdefault(op.name, d)
                    if d[0] != rows:
                        problem = f"digest counts {d[0]} rows, verification collected {rows}"
                    elif d != want:
                        problem = f"digest {d} != first digest {want}"
                    else:
                        continue
                self.outcome.verify_failures[op.name] = problem
                self.outcome.expected.pop(op.name, None)
        self.outcome.warm_up_s = time.perf_counter() - t0

    def run_one(self, op, pass_no: int) -> Sample:
        expected = self.outcome.expected.get(op.name)
        ok = True
        t0 = time.perf_counter()
        t1 = None  # end of the build, if it returned
        try:
            with self._phase(op.name, "build"):
                df = op.build(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self._phase(op.name, "action"):
                d = digest(df)
            if d != expected:
                ok = False
                self.outcome.errors.setdefault(
                    op.name, f"digest {d} != expected {expected}")
        except Exception as ex:  # counted as failed, never as a success
            ok = False
            self.outcome.errors.setdefault(op.name, f"{type(ex).__name__}: {ex}")
        t2 = time.perf_counter()
        if t1 is None:
            t1 = t2
        return Sample(op.name, pass_no, t1 - t0, t2 - t1, ok)

    def timed(self, passes: int) -> None:
        """``passes`` whole passes over the ops, in list order. A fixed
        count, not a deadline: the ops still speed up from pass to pass
        (JIT and code-generation caches), so a run that fitted more
        passes on a fast host would also read faster for that."""
        t0 = time.perf_counter()
        for p in range(passes):
            for op in self.ops:
                self.outcome.samples.append(self.run_one(op, p))
        self.outcome.passes = passes
        self.outcome.timed_wall_s = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup("perfbench:idle", "idle")


def by_op(samples: list[Sample]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s.op, []).append(s.seconds)
    return out


def op_p50(samples: list[Sample]) -> float:
    """Each op's median latency, geometric mean over the ops.

    The ops of a pass differ in latency by up to 15x. The median of the
    pooled samples falls on whichever op sits in the middle and jumps
    between ops from run to run; this weighs every op once."""
    return statistics.geometric_mean(
        statistics.median(v) for v in by_op(samples).values())


def op_tail(samples: list[Sample]) -> tuple[float, float]:
    """Each op's tail latency (``tail_percentile`` of its own samples),
    geometric mean over the ops, and the lowest percentile used.

    Pooled, the tail percentile falls among the two or three heaviest
    ops' samples and jumps between them from run to run, as the pooled
    median does; per op it weighs every op's slow samples once."""
    tails = [tail_percentile(v) for v in by_op(samples).values()]
    return (statistics.geometric_mean(t[1] for t in tails),
            min(t[0] for t in tails))


def end_to_end(outcome: Outcome) -> dict:
    """The end-to-end figures of one run over its successful timed
    samples (set-up and memory are added by the caller)."""
    ok = [s for s in outcome.samples if s.ok]
    attempted = len(outcome.samples)
    tail, pct = op_tail(ok) if ok else (float("nan"), 100.0)
    return {
        "op_p50_s": op_p50(ok) if ok else float("nan"),
        "op_p50_samples": len(ok),
        "op_tail_s": tail,
        "op_tail_pct": pct,
        "op_tail_samples_per_op": min(map(len, by_op(ok).values()), default=0),
        "ops_per_s": len(ok) / outcome.timed_wall_s if outcome.timed_wall_s else 0.0,
        "attempted": attempted,
        "failed": attempted - len(ok),
    }

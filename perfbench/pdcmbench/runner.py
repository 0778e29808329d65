"""One benchmark run: session set-up, the timed loop, counters, and the
result line."""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import time

from . import env, metrics
from .engine import Engine
from .tracing import Tracer


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = os.path.join(
            env.WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
        conf = env.configure_process(self.run_dir)
        # imported only now: the session module reads the environment
        # configure_process sets
        from pdcm_etl_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{workload}", extra_conf=conf)
        self.engine = Engine(self.spark)
        self.tracer = Tracer(self.engine, traced)
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []  # outputs that differ from oracles
        self.failures: list[str] = []  # operations that did not complete
        # known program defects found by set-up checks, which are not
        # operations of the workload
        self.defects: list[str] = []
        self.setup_checks = 0
        self.setup_s: float | None = None
        self.layer: dict[str, float] = {}
        self._measure_span = None
        self.gc_s = 0.0

    # ---- phases ----
    def warm_engine(self) -> None:
        """bench.py's JVM/codegen warm-up jobs."""
        self.spark.range(1_000_000).selectExpr(
            "sum(id)",
            "sum(cast(id as decimal(18,2)))",
            "count(distinct id % 100)",
        ).collect()
        self.spark.range(1000).write.format("noop").mode("overwrite").save()

    @contextlib.contextmanager
    def setup(self):
        t0 = time.perf_counter()
        yield
        self.setup_s = time.perf_counter() - t0

    @contextlib.contextmanager
    def measuring(self):
        """The timed phase; GC time and (traced) engine work are counted
        over it."""
        gc_start = self.engine.gc_seconds()
        with self.tracer.layer("measure", jobs=True) as span:
            self._measure_span = span
            yield
        self.gc_s = self.engine.gc_seconds() - gc_start

    def timer(self):
        """Iteration indices until ``seconds`` have passed (at least one
        iteration; the last one runs to completion)."""
        t0 = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t0 < self.seconds:
            yield i
            i += 1

    def check(self, what: str, problem: str | None) -> bool:
        """Record an output check against its oracle; a mismatch counts as
        a failed operation and makes the run incorrect."""
        if problem is None:
            return True
        self.failed += 1
        self.mismatches.append(f"{what}: {problem}")
        return False

    def fail(self, what: str, why: str) -> None:
        """Record an operation that did not complete (it raised, or left
        no readable output)."""
        self.failed += 1
        self.failures.append(f"{what}: {why}")

    def defect(self, what: str, why: str) -> None:
        """Record a known program defect found by a set-up check. It is
        reported (standard error, ``failed_frac``) but is not a failed
        operation of the workload."""
        self.defects.append(f"{what}: {why}")

    # ---- result ----
    def _engine_totals(self) -> dict[str, float]:
        """Engine work of the jobs that ran under spans opened during the
        timed phase (client threads open their own root spans)."""
        m = self._measure_span
        if m is None:
            return self.engine.job_counts([])
        inside = {s.id for s in self.tracer.spans
                  if m.start <= s.start and s.end <= m.end}
        owners = self.tracer.job_owners()
        return self.engine.job_counts(
            [j for j, sid in owners.items() if sid in inside])

    def result(self, e2e: dict[str, float]) -> dict:
        correct = not self.mismatches
        out = {"correct": correct, "attempted": self.attempted,
               "failed": self.failed}
        if not self.traced:
            values = {"setup_s": self.setup_s, **e2e}
            catalogue = metrics.END_TO_END
        else:
            # let the listener bus deliver the last job events
            time.sleep(1.0)
            totals = self._engine_totals()
            values = {f"spark.{k}": v for k, v in totals.items()}
            values.update({
                "jvm.gc_s": self.gc_s,
                "jvm.peak_rss_mb": self.engine.peak_rss_mb(),
                # failed operations and defective set-up checks
                "failed_frac": (self.failed + len(self.defects))
                / max(1, self.attempted + self.setup_checks),
                "trace.overhead_s": self.tracer.overhead_s,
                # compared with the untraced run's latency_p50_ms, the
                # cost of tracing
                "trace.latency_p50_ms": e2e["latency_p50_ms"],
                "trace.spans": len(self.tracer.spans),
                **self.layer,
            })
            catalogue = metrics.PER_LAYER
        out["metrics"] = {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in catalogue
        }
        for name, m in out["metrics"].items():
            if not math.isfinite(m["value"]):
                raise ValueError(f"metric {name} is not finite: {m['value']}")
        return out

    def write_trace(self, info: dict, layers: dict) -> str:
        path = os.path.join(
            env.WORK, "traces",
            f"{self.workload}-seed{self.seed}-{os.getpid()}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.tracer.dump(path, {"env": info, "layers": layers})
        return path

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def print_result(result: dict, info: dict, layers: dict | None) -> None:
    print("env " + json.dumps(info, sort_keys=True))
    if layers:
        print(f"{'layer':<28}{'calls':>7}{'total_s':>10}{'self_s':>10}"
              f"{'jobs':>7}{'tasks':>8}")
        for name, row in sorted(layers.items()):
            print(f"{name:<28}{row['calls']:>7}{row['total_s']:>10.3f}"
                  f"{row['self_s']:>10.3f}{row['jobs']:>7}{row['tasks']:>8}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))

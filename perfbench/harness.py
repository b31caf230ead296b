"""Warm-up, timed batches and metric assembly shared by both workloads.

A workload runs in batches (a sweep of queries, a block of requests): a
fixed number of warm-up batches, so that every run measures the same stage
of the JVM's warm-up, then timed batches for the requested seconds. With
tracing on, timed batches alternate traced and untraced, so one run gives
both the per-layer numbers and the tracing overhead.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from common import (
    JvmCounters,
    SparkCounters,
    Tracer,
    median,
    cpu_between,
    cpu_snapshot,
    percentile,
    steal_between,
    steal_snapshot,
    unstolen,
)


@dataclass
class Batch:
    ops: list[float] = field(default_factory=list)   # seconds per operation
    keys: list[object] = field(default_factory=list)  # which operation
    op_cpu: list[float] = field(default_factory=list)    # where measured:
    op_steal: list[float] = field(default_factory=list)  # CPU s, steal share
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, list[float]] = field(default_factory=dict)
    wall: float = 0.0
    cpu: float = 0.0      # CPU seconds of the process tree, JIT aside
    steal: float = 0.0    # share of the machine's CPU time stolen meanwhile
    traced: bool = False
    phase: str = ""

    def op(self, key: object, seconds: float, cpu: float | None = None,
           steal: float = 0.0) -> None:
        self.keys.append(key)
        self.ops.append(seconds)
        if cpu is not None:
            self.op_cpu.append(cpu)
            self.op_steal.append(steal)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def summary(self) -> dict:
        out = {"phase": self.phase, "wall_s": self.wall, "cpu_s": self.cpu,
               "steal": self.steal,
               "traced": self.traced,
               "ops": len(self.ops), "failed": self.failed,
               "op_p50_s": median(self.ops), "op_max_s": max(self.ops, default=0.0)}
        if len(self.ops) <= 20:
            out["ops_s"] = self.ops
        if self.op_cpu:
            out["op_cpu_s"], out["op_steal"] = self.op_cpu, self.op_steal
        if self.errors:
            out["errors"] = self.errors[:5]
        if self.layers:
            out["layers"] = {k: sum(v) for k, v in sorted(self.layers.items())}
        return out


class Workload:
    """What a workload provides to the harness."""

    warmup = 3            # warm-up batches
    min_timed = 2         # timed batches at least, whatever the seconds

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.trace = tracer.enabled   # a traced run: per-layer metrics wanted
        self.setup_layers: dict[str, float] = {}

    def describe(self) -> dict:
        return {}

    def check(self) -> list[dict]:
        return []

    def batch(self, traced: bool) -> Batch:
        raise NotImplementedError

    def tracing(self):
        return contextlib.nullcontext()

    def batch_layers(self, out: Batch, first_span: int) -> None:
        pass

    def run_layers(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class Harness:
    def __init__(self, wl: Workload, seconds: float, trace: bool):
        self.wl, self.seconds, self.trace = wl, seconds, trace
        self.series: list[Batch] = []
        self._jvm = JvmCounters(wl.spark) if trace else None
        self._spark = SparkCounters(wl.spark) if trace else None

    def _one(self, phase: str, traced: bool) -> Batch:
        wl = self.wl
        steal0 = steal_snapshot()
        cpu0 = cpu_snapshot()
        if traced:
            jvm0 = self._jvm.read()
            self._spark.take()
            first = len(wl.tracer.spans)
            wl.tracer.enabled = True
            t = time.perf_counter()
            with wl.tracer.span(f"batch.{phase}"), wl.tracing():
                out = wl.batch(traced=True)
            out.wall = time.perf_counter() - t
            wl.tracer.enabled = False
            for k, v in JvmCounters.delta(self._jvm.read(), jvm0).items():
                out.layer(f"jvm.{k}", v)
            for k, v in self._spark.take().items():
                out.layer(f"spark.{k}", v)
            wl.batch_layers(out, first)
        else:
            t = time.perf_counter()
            out = wl.batch(traced=False)
            out.wall = time.perf_counter() - t
        out.cpu = cpu_between(cpu0, cpu_snapshot())
        out.steal = steal_between(steal0, steal_snapshot())
        out.phase, out.traced = phase, traced
        self.series.append(out)
        return out

    def run(self) -> None:
        wl = self.wl
        for _ in range(wl.warmup):
            self._one("warmup", traced=False)
        t0 = time.perf_counter()
        i = 0
        # tracing alternates: a traced run needs an untraced batch as well
        need = wl.min_timed + 1 if self.trace else wl.min_timed
        while i < need or time.perf_counter() - t0 < self.seconds:
            self._one("timed", traced=self.trace and i % 2 == 0)
            i += 1

    # -- metrics ---------------------------------------------------------------

    def timed(self, traced: bool | None = None) -> list[Batch]:
        return [b for b in self.series if b.phase == "timed"
                and (traced is None or b.traced == traced)]

    @staticmethod
    def figures(batches: list[Batch]) -> dict[str, float]:
        """CPU and wall figures of a set of timed batches. Percentiles are
        taken over operations, each at its median time across the batches
        (a query repeats once per sweep; every request is distinct), so one
        slow repeat does not move them."""
        by_key: dict[object, list[float]] = {}
        for b in batches:
            for k, x in zip(b.keys, b.ops):
                by_key.setdefault(k, []).append(x)
        ops = [median(v) for v in by_key.values()]
        return {
            "batch_cpu_s": Harness.batch_cpu(batches),
            "wall.batch_s": median([b.wall for b in batches]),
            "wall.op_p50_ms": 1000 * median(ops),
            "wall.op_p90_ms": 1000 * percentile(ops, 90),
        }

    @staticmethod
    def batch_cpu(batches: list[Batch]) -> float:
        """CPU seconds of one batch, each CPU figure taken as if no time
        had been stolen (``common.unstolen``). Where every batch repeats
        the same operations and times the CPU of each (a sweep of
        queries), the sum over operations of each one's median across
        batches, so one slow repeat of a query does not move it;
        otherwise (blocks of distinct requests) the median over batches."""
        if batches and all(len(b.op_cpu) == len(b.keys) for b in batches):
            by_key: dict[object, list[float]] = {}
            for b in batches:
                for k, c, s in zip(b.keys, b.op_cpu, b.op_steal):
                    by_key.setdefault(k, []).append(unstolen(c, s))
            return sum(median(v) for v in by_key.values())
        return median([unstolen(b.cpu, b.steal) for b in batches])

    def layer_metrics(self) -> dict[str, float]:
        traced = self.timed(traced=True)
        names = sorted({k for b in traced for k in b.layers})
        out = {k: median([sum(b.layers[k]) for b in traced if k in b.layers])
               for k in names}
        on = self.figures(traced)
        off = self.figures(self.timed(traced=False))
        for k in on:
            out[f"trace.overhead.{k}"] = on[k] - off[k]
        out.update({k: v for k, v in off.items() if k.startswith("wall.")})
        out["warmup.batches"] = float(
            sum(b.phase == "warmup" for b in self.series))
        out.update(self.wl.setup_layers)
        out.update(self.wl.run_layers())
        return out

    def counts(self) -> tuple[int, int]:
        attempted = sum(len(b.ops) for b in self.series)
        failed = sum(b.failed for b in self.series)
        return attempted, failed

"""Spans and per-stage metrics for traced passes.

Every stage call of a traced pass runs inside a span (name, start, end,
parent, pass id) and a Spark job group named after the stage and pass.
Right after the call the tracer samples the process tree's CPU and reads
the job group's Spark stages from the status store.  Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import time

from sparkstats import SparkStats
from workloads import ALL_STAGES

#: per-stage metrics, as (suffix, unit, better)
STAGE_METRICS = (
    ("wall_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_skew", "ratio", "lower"),
    ("rows_out", "rows", "lower"),
)
#: layer metrics beyond the per-stage grid, as (name, unit, better)
EXTRA_METRICS = (
    ("extract.py_cpu_s", "s", "lower"),
    ("spans.py_cpu_s", "s", "lower"),
    ("block.pair_yield", "ratio", "higher"),
    ("block.pair_recall", "ratio", "higher"),
    ("score.pairs_per_s", "pairs/s", "higher"),
    ("pipeline.stages_rerun", "count", "lower"),
    ("gc_s", "s", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("catalog.bytes_written", "bytes", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)


def layer_metric_specs() -> list[tuple[str, str, str]]:
    """Every per-layer metric the traced run reports, in order."""
    grid = [(f"{s}.{m}", u, b) for s in ALL_STAGES for m, u, b in STAGE_METRICS]
    return grid + list(EXTRA_METRICS)


class Tracer:
    def __init__(self, spark, tree, workload: str, sampler_cpu_s):
        self.stats = SparkStats(spark)
        self.tree = tree
        self.sampler_cpu_s = sampler_cpu_s  # → CPU of the benchmark's sampling threads
        self.workload = workload
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mx.getGarbageCollectorMXBeans())
        self.spans: list[dict] = []
        self.stages_rerun = 0
        self._cur: dict = {}

    def _gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    def span(self, name: str, start: float, end: float, parent: str | None = None, **attrs):
        pass_id = self._cur.get("pass")
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent, "pass": pass_id, **attrs}
        )

    def begin_pass(self, pass_id: int) -> None:
        self._cur = {
            "pass": pass_id, "t0": time.time(), "gc0": self._gc_s(), "spill": 0, "own_s": 0.0, "m": {},
        }

    def call(self, stage: str, fn):
        cur = self._cur
        group = f"{stage}#{cur['pass']}"
        t_own = time.perf_counter()
        self.stats.begin(group)
        s0, c0 = self.sampler_cpu_s(), self.tree.sample()
        start = time.time()
        t0 = time.perf_counter()
        cur["own_s"] += t0 - t_own
        try:
            return fn()
        finally:
            wall = time.perf_counter() - t0
            t_own = time.perf_counter()
            end = time.time()
            c1, s1 = self.tree.sample(), self.sampler_cpu_s()
            g = self.stats.end(group)
            cpu = c1.cpu_s - c0.cpu_s - (s1 - s0)
            py_cpu = c1.py_cpu_s - c0.py_cpu_s
            self.span(
                stage, start, end, parent=f"pass#{cur['pass']}", id=group,
                jobs=g.jobs, spark_stages=g.spark_stages, tasks=g.tasks,
                task_run_s=round(g.run_s, 3), task_jvm_cpu_s=round(g.jvm_cpu_s, 3),
                cpu_s=round(cpu, 3), py_cpu_s=round(py_cpu, 3),
            )
            cur["spill"] += g.spill_bytes
            cur["m"].update(
                {
                    f"{stage}.wall_s": wall,
                    f"{stage}.cpu_s": cpu,
                    f"{stage}.py_cpu_s": py_cpu,
                    f"{stage}.shuffle_bytes": g.shuffle_bytes,
                    f"{stage}.jobs": g.jobs,
                    f"{stage}.tasks": g.tasks,
                    f"{stage}.task_skew": g.task_skew,
                }
            )
            cur["own_s"] += time.perf_counter() - t_own

    def end_pass(self, rec: dict) -> None:
        cur = self._cur
        self.span(
            f"pass:{self.workload}", cur["t0"], time.time(), id=f"pass#{cur['pass']}",
            wall_s=round(rec["wall_s"], 4), cpu_s=round(rec["cpu_s"], 3),
        )
        cur["m"].update(
            {
                "gc_s": self._gc_s() - cur["gc0"],
                "spill_bytes": cur["spill"],
                "trace.overhead_s": cur["own_s"],
                "peak_rss_mb": rec["peak_rss_mb"],
            }
        )

    def layer_metrics(self, workload_metrics: dict[str, float]) -> dict[str, tuple[float, str]]:
        """Every layer metric of the traced pass, with the ones the workload
        read from its output; a stage the workload does not run reports 0."""
        m = {**self._cur.get("m", {}), **workload_metrics, "pipeline.stages_rerun": self.stages_rerun}
        if m.get("score.wall_s"):
            m["score.pairs_per_s"] = m["block.rows_out"] / m["score.wall_s"]
        return {name: (m.get(name, 0), unit) for name, unit, _ in layer_metric_specs()}

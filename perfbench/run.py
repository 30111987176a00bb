"""End-to-end and per-stage benchmark of the ER pipeline and the
curation chain.

    python3 perfbench/run.py --workload er_pipeline --seed 1 --seconds 1 --trace 0

Run from the repository root.  A run is what a batch user does: start
one Spark session on ``local[nproc]``, build the workload's inputs from
``--seed`` (set-up, ``setup_s``), then run the pipeline once in that
fresh JVM, check its output and time it (``wall_s``, ``cpu_s``, ...).
The pass is whole, so a run measures one pass however long
``--seconds`` is.

The host's CPUs are shared: their speed drifts by a third within
minutes.  A probe thread measures that speed all through the run, and
the time metrics are reported at a fixed reference speed (see
``at_ref``); the raw figures are printed too.

``--trace 1`` runs the measured pass traced and reports the per-stage
metrics and the tracer's own time in that pass, then a re-configured
resume step.  The spans go to
``.perfbench/spans-<workload>-seed<seed>.json``.

Every metric is printed as ``name value unit``; the last stdout line is
the JSON result.  The exit code is 1 if the pass raised or failed its
output check, 2 if the program cannot be imported.  ``perfbench/LAYERS.md``
says what each metric means and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
DRIVER_MEMORY = "4g"
#: the speed probe's median loop time on the reference CPU (one vCPU of
#: a 4-vCPU Xeon Sapphire Rapids KVM guest, CPython 3); time metrics are
#: scaled to this speed
REF_PROBE_MS = 1.5
#: how the program's time follows the probe's: over 40 runs of both
#: workloads, log(time) against log(probe time) had slopes 0.77-0.84
#: for wall_s and cpu_s (correlation 0.94-0.99).  The program waits on
#: memory and on other threads more than the probe's tight loop does.
SPEED_EXPONENT = 0.8


#: printed with the end-to-end metrics but not in the untraced result:
#: a failed pass already fails the run, and the JVM's resident size
#: follows G1's heap sizing, which follows the host's speed (the traced
#: run reports ``peak_rss_mb`` as a per-layer metric)
UNGATED = ("error_rate", "peak_rss_mb")


def at_ref(seconds: float, probe_ms: float) -> float:
    """The seconds the same work takes on a CPU of the reference speed."""
    return seconds * (REF_PROBE_MS / probe_ms) ** SPEED_EXPONENT


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark run: session, inputs, the measured pass."""

    def __init__(self, args, root: Path, work: Path):
        from procstat import HostNoise, ProcTree

        self.args = args
        self.root = root
        self.work = work
        self.tree = ProcTree()
        self.host = HostNoise()
        self.failures: list[str] = []
        self.attempted = 0

    # -- session ------------------------------------------------------------
    def start_session(self):
        from entity_resolution_pipeline_spark.session import get_spark

        tmp = self.work / "tmp"
        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            # no perf-data file, which the JVM would write under /tmp
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
        }
        spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.settings = {
            "master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            **{k: conf[k] for k in list(conf)[:2]},
        }
        return spark

    def stop_session(self, spark) -> list[int]:
        from procstat import wait_gone

        pids = self.tree.descendants()
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        gw.shutdown()
        if proc is not None and proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        return wait_gone(pids)

    # -- the pass -----------------------------------------------------------
    def _sampler_cpu_s(self) -> float:
        """CPU the benchmark's own sampling threads have spent."""
        return self.probe.own_cpu_s + self.mem.own_cpu_s

    def one_pass(self, wl, tracer) -> dict | None:
        """Run and check the pass; → its raw measurements, None if it failed."""
        self.attempted += 1
        call = tracer.call if tracer else (lambda _stage, fn: fn())
        if tracer:
            tracer.begin_pass(0)
        self.mem.reset()
        mark = self.probe.mark()
        own0, c0 = self._sampler_cpu_s(), self.tree.sample()
        t0 = time.perf_counter()
        try:
            f1 = wl.run_pass(0, call)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted, then reported
            self.failures.append(f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None
        wall = time.perf_counter() - t0
        c1, own1 = self.tree.sample(), self._sampler_cpu_s()
        self.host.tick()
        rec = {
            "wall_s": wall,
            "cpu_s": c1.cpu_s - c0.cpu_s - (own1 - own0),
            "jvm_cpu_s": c1.jvm_cpu_s - c0.jvm_cpu_s,
            "py_cpu_s": c1.py_cpu_s - c0.py_cpu_s,
            "peak_rss_mb": self.mem.peak() / 2**20,
            **{f"peak_{k}_mb": v / 2**20 for k, v in self.mem.peak_split.items()},
            "probe_ms": self.probe.median_since(mark) * 1e3,
            "f1": f1,
        }
        print(
            f"pass{' traced' if tracer else ''}: "
            + ", ".join(f"{k} {v:.3f}" for k, v in rec.items()),
            file=sys.stderr,
        )
        if tracer:
            tracer.end_pass(rec)
        return rec

    def main(self) -> int:
        from procstat import MemoryPeak, SpeedProbe

        with SpeedProbe() as self.probe:
            t_setup = time.perf_counter()
            spark = self.start_session()
            try:
                with MemoryPeak(self.tree) as self.mem:
                    return self._measure(spark, t_setup)
            finally:
                left = self.stop_session(spark)
                if left:
                    print(f"processes still alive after stop: {left}", file=sys.stderr)

    def _measure(self, spark, t_setup) -> int:
        from tracing import Tracer
        from workloads import WORKLOADS

        args = self.args
        t_session = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, self.work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        setup_probe_ms = self.probe.median_since(0) * 1e3
        self.settings["setup_split_s"] = {
            "session": round(t_session - t_setup, 3),
            "inputs": round(time.perf_counter() - t_session, 3),
        }

        tracer = Tracer(spark, self.tree, args.workload, self._sampler_cpu_s) if args.trace else None
        rec = self.one_pass(wl, tracer)
        layer = {}
        if tracer and rec:
            layer = wl.layer_metrics()
            t = time.time()
            try:
                tracer.stages_rerun = wl.resume_probe()
            except Exception as e:  # noqa: BLE001 — a failed check of the resume path
                self.failures.append(f"resume probe: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            tracer.span("resume_probe", t, time.time(), id="resume_probe")

        failed = len(self.failures)
        self.settings.update(
            {"workload": args.workload, "seed": args.seed, "records": wl.records,
             "input_digest": wl.digest}
        )
        rec = rec or {}
        wall = at_ref(rec["wall_s"], rec["probe_ms"]) if rec else 0.0
        e2e = {
            "setup_s": (at_ref(setup_s, setup_probe_ms), "s"),
            "wall_s": (wall, "s"),
            "records_per_s": (wl.records / wall if rec else 0.0, "records/s"),
            "cpu_s": (at_ref(rec["cpu_s"], rec["probe_ms"]) if rec else 0.0, "s"),
            "peak_rss_mb": (rec.get("peak_rss_mb", 0.0), "MB"),
            "f1": (rec.get("f1", 0.0), "ratio"),
            "error_rate": (failed / self.attempted, "ratio"),
        }
        raw = {"setup_s": setup_s, "setup_probe_ms": setup_probe_ms, **rec}
        if tracer:
            metrics = tracer.layer_metrics(layer)
            out_dir = self.root / ".perfbench"
            span_file = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
            span_file.write_text(json.dumps(tracer.spans, indent=1))
            self.settings["span_file"] = str(span_file.relative_to(self.root))
        else:
            metrics = {k: v for k, v in e2e.items() if k not in UNGATED}

        for name, (value, unit) in {**e2e, **metrics}.items():
            print(f"{name} {value:.6g} {unit}")
        print("raw " + json.dumps({k: round(v, 4) for k, v in raw.items()}))
        print("settings " + json.dumps(self.settings))
        print("host_noise " + json.dumps(self.host.report()))
        for f in self.failures:
            print(f"FAILED {f}")
        result = {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = Path.cwd()
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(root))
    try:
        import entity_resolution_pipeline_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the program from {root}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # every file the run writes, Spark's and Python's temporaries too,
    # stays under the checkout and is removed at the end
    work = root / ".perfbench" / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    tempfile.tempdir = str(tmp)
    try:
        return Run(args, root, work).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

* the input generators are deterministic: same seed → same input
  digest, another seed → another digest;
* a run of every workload, untraced and traced, emits every metric
  ``BENCHMARK.json`` declares, with its declared unit.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_web_corpus_digest_is_seeded():
    from gen import web_corpus

    a, b, c = web_corpus(7, 120), web_corpus(7, 120), web_corpus(8, 120)
    assert a.digest() == b.digest()
    assert a.digest() != c.digest()
    assert a.expected_funnel()["decontaminate"] < len(a.docs)


@pytest.fixture(scope="module")
def spark():
    from entity_resolution_pipeline_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


def frame_digest(df) -> str:
    """sha256 over the rows of ``df`` in a total order, as text."""
    h = hashlib.sha256()
    for row in sorted(tuple(map(repr, r)) for r in df.collect()):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def test_er_pages_digest_is_seeded(spark):
    from gen import er_pages

    a, picked = er_pages(spark, 7, 60)
    assert a.count() == 60 and a.select("entity_id").distinct().count() == len(picked)
    digest = frame_digest(a)
    assert digest == frame_digest(er_pages(spark, 7, 60)[0])
    assert digest != frame_digest(er_pages(spark, 8, 60)[0])


def test_layer_metrics_match_declaration():
    from tracing import layer_metric_specs

    declared = [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]]
    assert declared == layer_metric_specs()


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_emitted(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if trace:
        assert "trace.overhead_s" in stdout
        span_file = ROOT / ".perfbench" / f"spans-{workload}-seed3.json"
        spans = json.loads(span_file.read_text())
        assert any(s["parent"] is None for s in spans)
    assert "\nerror_rate 0 ratio\n" in stdout


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "er_pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

"""Self-test of the benchmark: every workload at sf0.001 scale on one seed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Checks that each run prints every metric BENCHMARK.json names, with its
unit, that no operation fails, and that the seed regenerates byte-identical
inputs. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 1
SF0_001 = 0.01  # generator scale of sf0.001 row counts

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
BENCH_WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, slices: int | None = None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", str(SF0_001)]
    if slices is not None:
        cmd += ["--slices", str(slices)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def _check(report: dict, result: dict, expected: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in expected}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    assert result["attempted"] >= 1
    assert report["fail_ratio"] == 0, (report["errors"], report["oracle"])
    assert result["failed"] == 0 and result["correct"] is True
    assert set(report["oracle"].values()) == {"match"}, report["oracle"]
    # the run's inputs are exactly what the generator makes from the seed
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        again = gen.generate(work, SEED, report["scale"], report["events_slices"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    assert again["sha256"] == report["input_sha256"]
    assert again["rows"] == report["rows"]


@pytest.mark.parametrize("workload", BENCH_WORKLOADS)
def test_end_to_end_metrics(workload):
    report, result = _run(workload, trace=0)
    _check(report, result, SPEC["end_to_end"])
    for key in ("cores", "master", "pyspark", "seed", "events_slices", "rows"):
        assert report[key] is not None, key


@pytest.mark.parametrize("workload", BENCH_WORKLOADS)
def test_per_layer_metrics(workload):
    report, result = _run(workload, trace=1)
    _check(report, result, SPEC["per_layer"])
    layers = report["layers"]
    assert f"{WORKLOADS[workload].ops[0][0]}.build_s" in layers
    with open(os.path.join(ROOT, report["spans_file"])) as f:
        spans = json.load(f)["spans"]
    roots = [s for s in spans if s["parent"] is None]
    assert len(roots) == report["ops"]
    assert {s["name"] for s in spans if s["parent"] is not None} >= {
        "io.load_tables", "build", "exec"
    }


def test_stream_chain_sliced_events():
    """K event-time slices: the events replays see K part files."""
    report, result = _run("stream_chain", trace=1, slices=3)
    _check(report, result, SPEC["per_layer"])
    assert report["events_slices"] == 3
    assert sum(k.startswith("events/part-") for k in report["input_sha256"]) == 3


@pytest.mark.xfail(
    reason="sim_kmeans_exact seeds its centroids with vec_id < 8 and raises "
    "IndexError when the sampled vec_ids skip some of 0..7",
    strict=True,
)
def test_corpus_workload():
    report, result = _run("corpus", trace=0)
    _check(report, result, SPEC["end_to_end"])


def test_same_seed_same_inputs():
    base = os.path.join(ROOT, ".perfbench_work", f"selftest-gen-{os.getpid()}")
    try:
        a = gen.generate(os.path.join(base, "a"), 7, SF0_001, 2)
        b = gen.generate(os.path.join(base, "b"), 7, SF0_001, 2)
        c = gen.generate(os.path.join(base, "c"), 8, SF0_001, 2)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert a["sha256"] == b["sha256"] and a["rows"] == b["rows"]
    assert a["sha256"] != c["sha256"]


def test_exits_without_result_when_program_missing(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", BENCH_WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_rounding_flips_only_one_grid_step():
    """A float cell one step of its column's decimal grid off the oracle is
    a rounding-midpoint flip; anything else is a mismatch."""
    import pandas as pd
    from run import _rounding_flips

    got = pd.DataFrame({"k": ["a", "b", "c"], "amt": [126496674.51, 12.3, 5.01], "n": [3, 4, 5]})
    want = pd.DataFrame({"k": ["b", "a", "c"], "amt": [12.3, 126496674.52, 5.01], "n": [4, 3, 5]})
    assert _rounding_flips(got, want) == [
        {"row": {"k": "a", "n": "3"}, "column": "amt", "got": 126496674.51,
         "oracle": 126496674.52}
    ]
    for row, col, value in ((1, "amt", 126496674.53), (1, "n", 2), (0, "amt", 12.4)):
        off = want.copy()
        off.loc[row, col] = value
        assert _rounding_flips(got, off) is None, (row, col, value)
    assert _rounding_flips(got, got.copy()) is None

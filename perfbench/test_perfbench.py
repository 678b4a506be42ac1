"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs ``perfbench/run.py`` in a fresh process from the checkout
root, exactly as the benchmark is meant to be run (about five minutes in
all on 4 cores).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from layers import LAYERS  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
SCALE = "0.02"


def bench(*args: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.fixture(scope="module")
def runs() -> dict:
    out = {}
    for w in WORKLOADS:
        for trace in ("0", "1"):
            rc, lines = bench("--workload", w, "--seed", "7", "--seconds", "2",
                              "--trace", trace, "--scale", SCALE)
            assert rc == 0, (w, trace, lines[-3:])
            out[w, trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return out


def test_every_metric_is_emitted_with_its_unit(runs):
    for (w, trace), (_, result) in runs.items():
        listed = BENCH["end_to_end"] if trace == "0" else BENCH["per_layer"]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == {m["name"]: m["unit"] for m in listed}, (w, trace)
        assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_traced_run_writes_spans_for_every_layer(runs):
    seen = set()
    for (w, trace), (info, _) in runs.items():
        if trace == "1":
            spans = [json.loads(x) for x in Path(info["spans_file"]).read_text().splitlines()]
            seen |= {s["name"].split(".")[0] for s in spans}
            assert all({"name", "start", "end", "parent", "run"} <= set(s) for s in spans)
    assert set(LAYERS) - {"spark", "jvm", "trace"} <= seen


@pytest.mark.parametrize("kind", ["pip", "zonal"])
def test_a_corrupted_result_row_is_counted_as_failed(kind):
    rc, lines = bench("--workload", "batch_analytics", "--seed", "7", "--seconds", "1",
                      "--trace", "0", "--scale", SCALE, "--corrupt", kind)
    result = json.loads(lines[-1])
    assert rc == 1
    assert not result["correct"] and result["failed"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=tmp_path)
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)

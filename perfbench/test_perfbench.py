"""Self-test of the benchmark at a tiny input size.

Every workload's check must pass on the program's real output, and a
copy of each output with one row corrupted must fail it. Runs start
from a foreign working directory, as the benchmark must work from any.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench(cwd, script, *args):
    r = subprocess.run(
        [sys.executable, script, "--seed", "5", "--seconds", "1",
         "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    return r, (json.loads(lines[-1]) if lines else None)


def test_benchmark_json_declares_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert spec["paths"] == [os.path.basename(HERE)]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_checks_pass_and_reject_a_corrupted_row(workload,
                                                         tmp_path):
    r, out = _bench(tmp_path, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--trace", "0", "--selftest")
    assert r.returncode == 0, r.stderr[-3000:]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_reports_every_layer(workload, tmp_path):
    r, out = _bench(tmp_path, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--trace", "1")
    assert r.returncode == 0, r.stderr[-3000:]
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == set(PER_LAYER)
    assert out["metrics"]["trace.job_wall_s"]["value"] > 0


def test_host_probe_scales_by_the_named_probes():
    from perfbench.run import PROBE_REF_S, HostProbe
    probe = HostProbe(2)
    assert probe() > 0 and len(probe.samples) == 1
    with pytest.raises(ChildProcessError):
        os.waitpid(-1, os.WNOHANG)  # every forked child was reaped
    probe.samples = [2 * PROBE_REF_S] * 3 + [PROBE_REF_S / 4] * 4
    assert probe.scale(1.0, 0, 3) == pytest.approx(0.5)
    assert probe.scale(0.5, 3) == pytest.approx(2.0)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / os.path.basename(HERE),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r, out = _bench(tmp_path, os.path.join(os.path.basename(HERE), "run.py"),
                    "--workload", "pdf_tables", "--trace", "0")
    assert r.returncode != 0 and out is None

"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench -q

The Spark cases run ``run.py`` at tiny scale in a child process, one JVM at
a time; the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.harness import E2E, WORKLOADS  # noqa: E402
from perfbench.trace import PER_LAYER, Span, _self_time  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run_bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--seed", "7", "--seconds", "3", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def last_json(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# -- contract ------------------------------------------------------------------


def test_benchmark_file_matches_code():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == E2E
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == PER_LAYER
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    assert 1 <= BENCH["run_seconds"] <= 60 and isinstance(BENCH["run_seconds"], int)


def test_generator_is_seeded():
    a = gen.make_events(3, 5, 100, 500, 50, 10, 0.2, 0.02, 0.1)
    b = gen.make_events(3, 5, 100, 500, 50, 10, 0.2, 0.02, 0.1)
    c = gen.make_events(4, 5, 100, 500, 50, 10, 0.2, 0.02, 0.1)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)
    assert list(a["seq"]) == list(range(100, 600))
    snap = gen.make_snapshot(3, 50, 10)
    assert not snap.duplicated(["conv_id", "turn_idx"]).any()


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", 0.0, None, end=10.0)
    kids = [Span(2, "c", 1.0, 1, end=4.0), Span(3, "c", 3.0, 1, end=5.0),
            Span(4, "c", 8.0, 1, end=12.0)]
    assert _self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "{" not in proc.stdout


def test_supervisor_reaps_orphaned_grandchildren():
    # a child starts a grandchild and exits: the grandchild is reparented to
    # the subreaper, which must kill and reap it
    orphan = ("import subprocess; print(subprocess.Popen(['sleep', '60'], "
              "stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)")
    script = f"""
import ctypes, os, subprocess, sys
sys.path.insert(0, {ROOT!r})
from perfbench import run
ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
pid = int(subprocess.run([sys.executable, "-c", {orphan!r}], capture_output=True).stdout)
assert pid in run._children()
run._reap_all()
assert not os.path.exists(f"/proc/{{pid}}")
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                          timeout=60)
    assert proc.returncode == 0, proc.stderr


# -- tiny end-to-end runs (Spark) ---------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_metric(workload):
    res = last_json(run_bench("--workload", workload, "--trace", "0", "--tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(E2E)
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_tiny_traced_run_reports_per_layer_metrics():
    proc = run_bench("--workload", "tail", "--trace", "1", "--tiny")
    res = last_json(proc)
    assert res["correct"] is True
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["cdc.batches_applied"] >= 1 and m["merge.rows_in"] >= m["merge.rows_applied"] > 0
    assert m["merge.tasks"] > 0 and m["merge.shuffle_bytes"] > 0
    assert "E2E " in proc.stdout


def test_tampered_table_fails_parity():
    proc = run_bench("--workload", "migrate", "--trace", "0", "--tiny", "--tamper")
    res = last_json(proc)
    assert res["correct"] is False and res["failed"] >= 1
    assert "parity_primary: MISMATCH" in proc.stdout

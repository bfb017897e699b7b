"""Tests of the benchmark itself.

    python -m pytest perfbench/test_perfbench.py -q

Each workload runs end to end at ``--scale tiny`` (sf0.001 sizes) in a subprocess
(one Spark session each, ~1 min apiece) and must print every metric
``BENCHMARK.json`` names, with its unit, and pass its correctness
checks. The determinism tests need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import wl_batch  # noqa: E402
import wl_dashboard  # noqa: E402
import wl_ingest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT, seconds: int = 2):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, proc.stderr[-3000:]
    assert out["attempted"] >= 1
    return out


def _assert_metrics(out: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["dashboard", "batch", "ingest"])
def test_workload_end_to_end_metrics_and_checks(workload):
    out = _result(_run(workload, trace=0))
    _assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["dashboard", "batch"])
def test_traced_run_reports_every_layer_metric(workload):
    out = _result(_run(workload, trace=1))
    _assert_metrics(out, SPEC["per_layer"])
    assert out["metrics"]["session.jobs_per_op"]["value"] > 0


def test_benchmark_spec_lists_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == ["dashboard", "batch"]
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_same_seed_same_op_sequence():
    vocab = datagen.VOCAB
    a = wl_dashboard.schedule(7, 40, 500, vocab)
    assert a == wl_dashboard.schedule(7, 40, 500, vocab)
    assert a != wl_dashboard.schedule(8, 40, 500, vocab)
    assert [g.split(".")[0] for g, _, _ in a[:8]] == list(wl_dashboard.CLASSES) * 2
    assert [g.split(".")[1] for g, _, _ in a[:8]] == ["fresh"] * 4 + ["repeat"] * 4
    assert wl_batch.schedule(7, 3) == wl_batch.schedule(7, 3)
    assert sorted(wl_batch.schedule(7, 1)) == sorted(wl_batch.JOBS)
    g1, g2 = wl_ingest.Generator(7), wl_ingest.Generator(7)
    for cycle in range(3):
        b1, b2 = g1.batch(cycle), g2.batch(cycle)
        assert b1[:3] == b2[:3] and b1[4] == b2[4]
        assert np.array_equal(b1[3], b2[3])
    assert g1.eu_keys == g2.eu_keys and g1.ugc_keys == g2.ugc_keys


def test_same_seed_same_inputs(tmp_path):
    scale = datagen.SCALES["tiny"]
    names = ("documents", "embeddings", "orders", "events")
    a = datagen.write_tables(5, str(tmp_path / "a"), scale, names)
    b = datagen.write_tables(5, str(tmp_path / "b"), scale, names)
    c = datagen.write_tables(6, str(tmp_path / "c"), scale, names)
    for t in names:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        assert not ta.equals(pq.read_table(os.path.join(c, f"{t}.parquet")))

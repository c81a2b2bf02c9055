"""The measurement harnesses fit the host: bench.py's scaling levels and
volume come from the CPU affinity set, the correctness gate's session
from get_spark's default and the host's RAM, and every tools/ladder.py
rung runs."""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import pytest

import bench

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("cpus", [
    set(range(4)),
    set(range(32)),
    {1, 3, 5, 7, 9, 11, 13, 15},
])
def test_bench_levels_are_a_quarter_and_all_of_the_affinity_set(
        monkeypatch, cpus):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(cpus))
    lo, hi = bench.scaling_levels()
    assert set(lo) <= set(hi) == cpus
    assert len(lo) == len(hi) // 4


def test_bench_report_drops_scaling_when_the_host_is_too_small(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert bench.scaling_levels() is None
    args = (2.0, {"tpch_q1": 0.5}, 0.01, 20_000, 300, 1.0)
    out = bench.report(*args, None)
    assert "scaling" not in out
    assert out["docs_per_sec"] == 10_000.0
    assert bench.report(*args, {"cores_lo": 1})["scaling"] == {"cores_lo": 1}


@pytest.mark.parametrize("n_cpus", [4, 32])
def test_bench_scaling_volume_is_2m_docs_per_cpu(monkeypatch, n_cpus):
    monkeypatch.setattr(os, "sched_getaffinity",
                        lambda pid: set(range(n_cpus)))
    monkeypatch.delenv("SPARK_GRAFT_SCALING_DOCS", raising=False)
    assert bench.scaling_docs() == 2_000_000 * n_cpus
    monkeypatch.setenv("SPARK_GRAFT_SCALING_DOCS", "400000")
    assert bench.scaling_docs() == 400_000


def _tool(name):
    spec = importlib.util.spec_from_file_location(
        name, REPO / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_correctness_gate_session_fits_the_host(monkeypatch):
    """tools/check_correctness.py takes get_spark's CPU default and
    perfbench's driver heap for the host's RAM, and turns Spark's
    console progress bar off so no bar shares a line with a verdict."""
    cc = _tool("check_correctness")
    calls = []
    monkeypatch.setattr(cc, "get_spark", lambda **kw: calls.append(kw))
    monkeypatch.setattr(cc.host, "mem_gb", lambda: 15.0)
    cc.session()
    assert calls == [{
        "driver_memory": "1g",
        "extra": {"spark.ui.showConsoleProgress": "false"},
    }]


@pytest.fixture(scope="module")
def ladder():
    return _tool("ladder")


# volume and result count per rung, as the per-operator ladder scripts
# this tool replaced printed them on local[4]
RUNG_COUNTS = {
    "asof": (2000, 4003),
    "envelope": (20000, 9044),
    "links": (2000, 53),
    "pagerank": (2000, 2000),
    "lm": (2000, 1500),
    "minhash": (2000, 0),
    "pbf": (16000, 16000),
    "radius": (20000, 15405),
    "window": (2000, 1500),
}


def test_every_ladder_rung_runs(spark, ladder, tmp_path):
    """Each rung once (the timed min-of-2 loop only for the cheapest):
    the cost here is per job, not per row."""
    assert set(RUNG_COUNTS) == set(ladder.RUNGS)
    for name, (n, want) in RUNG_COUNTS.items():
        build = ladder.RUNGS[name][1](spark, n, str(tmp_path))
        assert build().count() == want, name
    line = ladder.run(spark, "window", 2000, str(tmp_path))
    assert line.startswith("LADDER name=window n=2000 wall="), line
    assert line.endswith(" out=1500"), line

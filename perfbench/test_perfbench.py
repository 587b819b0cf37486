"""Tests for the benchmark's own logic; none starts a Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import random
import subprocess
import sys

import pytest

from perfbench.dagmodel import Dag, expected_status, make_dag
from perfbench.stats import parse_metric, tail_percentile
from perfbench.trace import CpuMeter

BURN = "import time\nwhile time.process_time() < 0.3: pass\n"


@pytest.mark.parametrize("text, value", [
    ("30 ms", 0.030),
    ("0 ms", 0.0),
    ("2.0 s", 2.0),
    ("1.5 m", 90.0),
    ("1.25 h", 4500.0),
    ("1,141.2 KiB", 1141.2 * 1024),
    ("1018.0 KiB", 1018.0 * 1024),
    ("0.0 B", 0.0),
    ("1885.0 B", 1885.0),
    ("16.2 MiB", 16.2 * 2**20),
    ("2.5 GiB", 2.5 * 2**30),
    ("18,095", 18095.0),
    ("25", 25.0),
    ("total (min, med, max (stageId: taskId))\n"
     "289.1 KiB (72.3 KiB, 72.3 KiB, 72.3 KiB (stage 5.0: task 6))", 289.1 * 1024),
    ("total (min, med, max (stageId: taskId))\n"
     "3.2 s (768 ms, 809 ms, 816 ms (stage 5.0: task 5))", 3.2),
    ("total (min, med, max (stageId: taskId))\n"
     "1,217 ms (9 ms, 91 ms, 94 ms (stage 5.0: task 4))", 1.217),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "12 furlongs"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_tail_percentile_small_and_round_cases():
    assert tail_percentile([float(i) for i in range(1, 12)]) == (9, 1.0)
    assert tail_percentile([float(i) for i in range(1, 41)]) == (75, 30.0)
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99, 990.0)
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_tail_percentile_is_the_highest_with_ten_beyond():
    rng = random.Random(7)
    for n in range(11, 300):
        values = [rng.random() for _ in range(n)]
        p, v = tail_percentile(values)
        assert sum(x > v for x in values) >= 10
        # one percentile higher leaves fewer than ten samples beyond it
        rank = -(-(p + 1) * n // 100)
        assert p == 99 or n - rank < 10


def test_expected_status_skips_transitive_dependents():
    dag = Dag(
        names=["a", "b", "c", "d", "e"],
        deps={"a": [], "b": ["a"], "c": ["b"], "d": ["a"], "e": ["c", "d"]},
        edge_types={},
        failing=frozenset({"b", "c"}),
    )
    # c is failing too, but it never runs: its parent failed first
    assert expected_status(dag) == {
        "a": "SUCCESS", "b": "FAILURE", "c": "SKIPPED", "d": "SUCCESS",
        "e": "SKIPPED",
    }


def test_make_dag_is_seeded_and_topological():
    dag = make_dag(5)
    assert dag == make_dag(5) and dag != make_dag(6)
    pos = {name: i for i, name in enumerate(dag.names)}
    for child, ups in dag.deps.items():
        assert len(ups) <= 3 and all(pos[u] < pos[child] for u in ups)
    assert set(dag.edge_types.values()) <= {"MANDATORY", "OPTIONAL", "WAIT"}
    statuses = list(expected_status(dag).values())
    assert statuses.count("FAILURE") == statuses.count("SKIPPED") == 6


def test_control_plane_outcomes_match_the_model():
    """The workload's checker passes against the real DagRunner and
    catches an outcome that differs from the model."""
    from perfbench.trace import NullTracer
    from perfbench.workloads import ControlPlane

    cp = ControlPlane(None, seed=3, workers=4, days=2)
    cp.episode(NullTracer())
    assert cp.errors == []
    assert cp.attempted == 2 * len(cp.dag.names)
    monitored = {row["module_id"] for row in cp.store.rows("batch_monitor")}
    skipped = {i for i, name in enumerate(cp.dag.names, start=1)
               if cp.expected[name] == "SKIPPED"}
    assert skipped and not monitored & skipped

    victim = next(n for n, s in cp.expected.items() if s == "SUCCESS")
    cp.expected[victim] = "FAILURE"
    cp.episode(NullTracer(), days=1)
    assert any(victim in error for error in cp.errors)


def test_cpu_meter_counts_live_and_reaped_children():
    meter = CpuMeter()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    live = subprocess.Popen([sys.executable, "-c", BURN + "print(flush=True)\ninput()"],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        live.stdout.readline()  # done burning, still running
        work, service = meter.lap()
    finally:
        live.stdin.close()
        live.wait(timeout=30)
    # 0.3 s each, less the rounding of the live child's clock ticks
    assert work >= 0.55 and service == 0

"""``bench.measure``: the one query-timing loop bench.py and
``tools/scale_curve.py`` share."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench
from etl_batch_spark.queries import QUERIES


def test_measure_sorts_runs_and_counts_jobs_by_id_window(spark, sf_dir):
    q = QUERIES["st11_torn_crash_sink_replay"]
    got = bench.measure(spark, q.bench_build or q.build, sf_dir, n_runs=2)
    assert len(got["runs"]) == 2 and got["runs"] == sorted(got["runs"])
    assert got["jobs_exec"] >= 1
    # st11 builds through foreachBatch micro-batches, whose jobs run under
    # the stream's own job group: only the job-id window sees them
    assert got["jobs_build"] >= 1

"""End-to-end daily warehouse flow: the engine's layers composed the way
a production deployment runs them — DAILY000 sets the control date, a
dependent load batch quarantines bad rows, SCD2-merges the dimension,
refreshes the rollup, and finalizes the monitor with metrics."""

from __future__ import annotations

import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from etl_batch_spark.operators import expectations as ex
from etl_batch_spark.operators.scd import scd2_merge
from etl_batch_spark.operators.rollup import read_level, rollup_cascade
from etl_batch_spark.orchestration.clock import FakeClock
from etl_batch_spark.orchestration.daily000 import daily000
from etl_batch_spark.orchestration.runner import BatchRunner
from etl_batch_spark.orchestration.store import ControlStore


def test_daily_warehouse_flow(spark):
    store = ControlStore(spark)
    clock = FakeClock(datetime(2026, 3, 2, 8, 0, 0))
    runner = BatchRunner(store, clock, poll_interval=0.01, max_polls=3)
    for module_id, name in ((1, "DAILY000"), (2, "LOAD_CUSTOMER")):
        store.append(
            "batch_master",
            {"module_id": module_id, "module_name": name, "run_level": 1,
             "sub_system": "WH", "disabled_date": None},
        )
    store.append(
        "batch_dependency",
        {"child_id": 2, "parent_module_id": 1, "dependency_type": "MANDATORY"},
    )

    # 1. day boundary: control date + log retention (flag is None path)
    assert daily000(runner, "02-MAR-2026", "DAILY") == 0
    assert runner.env.get("BATCH_CONTROL_DATE") == "02-MAR-2026"

    # 2. dependent load admitted because DAILY000 succeeded today
    ctx = runner.startup("LOAD_CUSTOMER", 1, exclusive_run_yn="Y")

    # 3. quarantine, then SCD2-merge the clean rows
    current = spark.createDataFrame(
        [(1, "AUTO", 10.0), (2, "BIKE", 20.0), (3, "SHIP", 30.0)],
        "c_custkey long, seg string, bal double",
    ).select(
        "c_custkey", "seg", "bal",
        F.lit("2026-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    feed = spark.createDataFrame(
        [(1, "AUTO", 11.0), (2, None, 21.0), (3, "SHIP", 30.0)],
        "c_custkey long, seg string, bal double",
    )
    rule = ex.not_null("seg")
    good, bad = feed.filter(~rule.violated), feed.filter(rule.violated)
    merged = scd2_merge(
        current, good, key="c_custkey", attrs=("seg", "bal"),
        effective_date="2026-03-02",
    )
    out = {(r["c_custkey"], r["is_current"]): r for r in merged.collect()}
    assert out[(1, False)]["valid_to"] is not None        # closed old version
    assert out[(1, True)]["bal"] == 11.0                  # new version opened
    assert (2, True) in out and out[(2, True)]["bal"] == 20.0  # quarantined → untouched
    assert out[(3, True)]["bal"] == 30.0                  # unchanged pass-through

    # 4. rollup refresh over events (day level ≡ direct aggregate)
    events = spark.createDataFrame(
        [(datetime(2026, 3, 2, h, 0, 0), "load", float(h)) for h in range(4)],
        "ts timestamp, event_type string, value double",
    )
    day = read_level(rollup_cascade(events, ts_col="ts", key_cols=("event_type",),
                                    value_col="value")["day"])
    (drow,) = day.collect()
    assert drow["n"] == 4 and drow["sum_value"] == 6.0

    # 5. finalize with metrics; monitor trail is consistent
    n_bad = bad.count()
    ctx.finish("SUCCESS", merged.count(), n_bad, metrics={"quarantined": n_bad})
    states = {r["module_id"]: r["run_status"] for r in runner.monitor.latest_states()}
    assert states[1] == "SUCCESS" and states[2] == "SUCCESS"
    msgs = [r["message"] for r in store.rows("batch_log")]
    assert "quarantined:    1" in msgs

    # 6. re-run after completion is admitted (duplicate check only blocks
    # concurrent RUNNING twins) and gets the next per-day run id
    ctx2 = runner.startup("LOAD_CUSTOMER", 1, exclusive_run_yn="Y")
    ctx2.finish("SUCCESS", 0, 0)
    assert ctx2.run_id == ctx.run_id + 1

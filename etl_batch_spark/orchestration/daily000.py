"""DAILY000 — the day-boundary scheduler batch (func_daily000,
body.sql:877-992).

Downstream batches declare DAILY000 as a parent in batch_dependency;
because it only finishes after midnight they are gated to the next day,
and BATCH_CONTROL_DATE gives the whole fleet one logical processing
date (SURVEY.md §3.2).

Flow preserved: startup → validate DD-MON-YYYY run date → (flag is None:
set BATCH_CONTROL_DATE + purge batch_log older than 7 days) → sleep
until run_date 23:59:59 + 60 s in ≤600 s quanta → extra flag minutes →
endup SUCCESS → 0; any failure → endup FAILURE → 1.
"""

from __future__ import annotations

import logging
from datetime import datetime, timedelta

from etl_batch_spark.functions.scalars import check_date
from etl_batch_spark.orchestration.runner import BatchRunner

log = logging.getLogger("etl_batch_spark.daily000")

_RETENTION_DAYS = 7  # body.sql:929
_SLEEP_QUANTUM = 600  # body.sql:952


def daily000(
    runner: BatchRunner,
    run_date: str,
    frequency: str,
    run_level: int | None = None,
    exclusive_run_yn: str = "N",
    flag: int | None = None,
) -> int:
    """func_daily000 (body.sql:877-992); the scheduler runs it as a
    batch, no query does."""
    ctx = None
    try:
        ctx = runner.startup(
            "DAILY000",
            run_level=run_level,
            exclusive_run_yn=exclusive_run_yn,
            parameters=(
                f"par_run_date=<{run_date}> par_frequency=<{frequency}> par_flag=<{flag}>"
            ),
        )
        code, canonical, err = check_date(run_date)
        if code != 0:
            raise ValueError(err or f"Invalid Date <{run_date}>")

        if flag is None:
            runner.env.update("BATCH_CONTROL_DATE", canonical)
            cutoff = runner.clock.now() - timedelta(days=_RETENTION_DAYS)
            purged = runner.store.delete_where(
                "batch_log", lambda r: r["run_date"] is not None and r["run_date"] < cutoff
            )
            log.info("purged %d batch_log rows older than %d days", purged, _RETENTION_DAYS)

        # sleep to the day boundary: target = run_date 23:59:59 + 60 s
        target = datetime.strptime(canonical.title(), "%d-%b-%Y").replace(
            hour=23, minute=59, second=59
        )
        while True:
            remaining = (target - runner.clock.now()).total_seconds() + 60
            if remaining > _SLEEP_QUANTUM:
                log.debug("Sleeping for 10 minutes . Current time =<%s>", runner.clock.now())
                runner.clock.sleep(_SLEEP_QUANTUM)
            elif remaining > 0:
                log.debug("Sleeping for %s seconds", remaining)
                runner.clock.sleep(remaining)
                break
            else:
                break

        runner.clock.sleep((flag or 0) * 60)  # body.sql:976
        ctx.finish("SUCCESS")
        return 0
    except Exception as exc:  # noqa: BLE001 — reference: WHEN OTHERS → FAILURE, 1
        log.error("daily000 failed: %s", exc)
        if ctx is not None:
            ctx.finish("FAILURE")
        return 1

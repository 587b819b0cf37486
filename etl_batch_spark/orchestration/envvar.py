"""Config service over the ``envvar`` table.

Re-expresses func_get_env_from_db (pkg_batch_util_body.sql:861-875 —
an *uncached* read per call) and pack_envvar.proc_upd_env as used by
DAILY000 (body.sql:917-923), plus the control-date resolution of
proc_set_session_vars (body.sql:410-418).
"""

from __future__ import annotations

from datetime import datetime

from etl_batch_spark.orchestration.clock import Clock
from etl_batch_spark.orchestration.store import ControlStore

_ORACLE_FMT = "%d-%b-%Y"


class EnvVarService:
    def __init__(self, store: ControlStore):
        self.store = store
        self._dates: dict[str, datetime | None] = {}  # raw BATCH_CONTROL_DATE -> parsed

    def get(self, name: str) -> str | None:
        """Uncached read; latest write wins (the reference clears its cache
        before each read, body.sql:866-869).  It reads the store's envvar
        lookup, which ``append`` keeps current, so it is never stale."""
        rows = self.store.lookup("envvar", "variable_name", name)
        return rows[-1]["value"] if rows else None

    def update(self, name: str, value: str) -> None:
        # append-only; get() takes the latest write
        self.store.append(
            "envvar",
            {
                "variable_name": name,
                "value": value,
                "scope": "GLOBAL",
                "scope_value": "GLOBAL",
            },
        )

    def control_date(self, clock: Clock) -> datetime:
        """BATCH_CONTROL_DATE (DD-MON-YYYY) if parseable, else TRUNC(SYSDATE)
        (body.sql:410-418: any error falls back to today)."""
        raw = self.get("BATCH_CONTROL_DATE")
        if raw:
            if raw not in self._dates:  # parse each distinct value once
                try:
                    self._dates[raw] = datetime.strptime(raw.title(), _ORACLE_FMT)
                except ValueError:
                    self._dates[raw] = None
            if self._dates[raw] is not None:
                return self._dates[raw]
        now = clock.now()
        return now.replace(hour=0, minute=0, second=0, microsecond=0)

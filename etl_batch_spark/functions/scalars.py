"""Exact-parity scalar utilities from the reference package.

Each utility exists in two forms:

- a **Python function** used by the driver-side orchestration layer
  (these are control-plane helpers in the reference, called on scalar
  values, not data-plane columns);
- a **Column-expression builder** (``*_col``) composed purely from
  native ``pyspark.sql.functions`` so the data-plane versions stay
  JVM-side / codegen-able — no Python UDFs in the hot path.

Reference semantics are cited per function; the ugly edge cases
(status-code returns, ``'INVALID DATE'`` strings, digits-only atoi) are
preserved deliberately — they are the package's public behavior.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# func_datediff (pkg_batch_util_body.sql:17-36): elapsed time between two
# dates as an UNPADDED 'H:M:S' string; negative interval -> 'INVALID DATE'.
# Hours are total hours (no day component), per (d2-d1)*24*60*60 seconds.
# ---------------------------------------------------------------------------


def datediff_hms(start: datetime, end: datetime) -> str:
    total = int((end - start).total_seconds())
    if total < 0:
        return "INVALID DATE"
    h, rem = divmod(total, 3600)
    m, s = divmod(rem, 60)
    return f"{h}:{m}:{s}"


def datediff_hms_col(start: Column, end: Column) -> Column:
    total = (end.cast("long") - start.cast("long")).cast("long")
    hms = F.concat_ws(
        ":",
        (total / 3600).cast("long").cast("string"),
        ((total % 3600) / 60).cast("long").cast("string"),
        (total % 60).cast("string"),
    )
    return F.when(total < 0, F.lit("INVALID DATE")).otherwise(hms)


# ---------------------------------------------------------------------------
# func_check_date (body.sql:90-123): validate a DD-MON-YYYY string.
# Returns (status, canonical_value, err_msg):
#   NULL or len<10 -> -1 ; len>11 -> 1 ; unparseable -> 2 ; ok -> 0 and the
# value is canonicalised via TO_CHAR(TO_DATE(...), 'DD-MON-YYYY').
# Oracle month matching is case-insensitive; canonical output is upper-case.
# ---------------------------------------------------------------------------

_ORACLE_DATE_FMT = "%d-%b-%Y"


def check_date(value: str | None) -> tuple[int, str | None, str | None]:
    if value is None or len(value) < 10:
        return -1, value, None
    if len(value) > 11:
        return 1, value, None
    try:
        parsed = datetime.strptime(value.title(), _ORACLE_DATE_FMT)
    except ValueError as exc:
        return 2, value, f"Error in the date conversion {exc}"
    return 0, parsed.strftime(_ORACLE_DATE_FMT).upper(), None


# ---------------------------------------------------------------------------
# func_field_counter (body.sql:729-762): number of delimited fields.
# Counts delimiter occurrences: len(s) - len(replace(s, delim)); a string
# NOT terminated by a trailing delimiter gets +1.  Single-char delimiters
# only (the reference silently miscounts otherwise; we validate instead).
# ---------------------------------------------------------------------------


def field_counter(s: str | None, unterminated: bool = False, delim: str = ",") -> int:
    if len(delim) != 1:
        raise ValueError("delimiter must be a single character")
    if not s:
        return 0
    return s.count(delim) + (1 if unterminated else 0)


def field_counter_col(col: Column, unterminated: bool = False, delim: str = ",") -> Column:
    if len(delim) != 1:
        raise ValueError("delimiter must be a single character")
    n = F.length(col) - F.length(F.replace(col, F.lit(delim), F.lit("")))
    if unterminated:
        n = n + F.lit(1)
    return F.when(col.isNull() | (F.length(col) == 0), F.lit(0)).otherwise(n).cast("int")


# ---------------------------------------------------------------------------
# func_get_nth_field (body.sql:768-814): 1-based nth delimited field.
# The reference appends the delimiter first when the string is
# "unterminated", so field n must be delimiter-terminated to be returned;
# asking past the end yields NULL (the reference leaves the OUT var null).
# ---------------------------------------------------------------------------


def get_nth_field(
    s: str | None, n: int, unterminated: bool = True, delim: str = ","
) -> str | None:
    if len(delim) != 1:
        raise ValueError("delimiter must be a single character")
    if s is None or n < 1:
        return None
    if unterminated:
        s = s + delim
    # only delimiter-terminated fields exist (reference INSTR/SUBSTR loop),
    # so the segment after the last delimiter is never a field
    parts = s.split(delim)[:-1]
    return parts[n - 1] if n <= len(parts) else None


def nth_field_col(col: Column, n: int, delim: str = ",") -> Column:
    """Data-plane nth field (unterminated-string convention, the common case)."""
    if len(delim) != 1:
        raise ValueError("delimiter must be a single character")
    # split with -1 limit keeps trailing empties, matching INSTR/SUBSTR walk
    parts = F.split(col, _regex_escape(delim), -1)
    return F.when(F.size(parts) >= n, F.element_at(parts, n))


def _regex_escape(delim: str) -> str:
    return "\\" + delim if delim in ".^$*+?()[]{}|\\" else delim


# ---------------------------------------------------------------------------
# func_string_to_number / func_atol (body.sql:817-857): C atoi clone.
# Trims whitespace, consumes LEADING ASCII digits only, stops at the first
# non-digit; NO sign support; empty / error -> 0.  '12ab7' -> 12, '-5' -> 0.
# ---------------------------------------------------------------------------


def string_to_number(s: str | None) -> int:
    if s is None:
        return 0
    s = s.strip()
    out = 0
    seen = False
    for ch in s:
        if "0" <= ch <= "9":
            out = out * 10 + ord(ch) - 48
            seen = True
        else:
            break
    return out if seen else 0


def atol(s: str | None) -> int:
    return string_to_number(s)


def string_to_number_col(col: Column) -> Column:
    digits = F.regexp_extract(F.trim(col), "^([0-9]+)", 1)
    return (
        F.when(col.isNull() | (digits == ""), F.lit(0))
        .otherwise(digits.cast("long"))
        .cast("long")
    )


# ---------------------------------------------------------------------------
# SQL registration: the package's public scalar surface under its
# reference names (pkg_batch_util_spec.sql:28-91), callable from
# spark.sql for API parity.  These are row-at-a-time Python UDFs by
# design — they exist so a PL/SQL caller's SQL translates verbatim; all
# engine hot paths use the native *_col builders above, which stay
# JVM-side inside whole-stage codegen.
# ---------------------------------------------------------------------------


def register_sql_functions(spark) -> list[str]:
    """Register func_datediff / func_check_date / func_field_counter /
    func_get_nth_field / func_string_to_number / func_atol as SQL
    functions on this session; returns the registered names.

    The reference's SQL-callable functions (body.sql:17-123, 729-857):
    no query calls it, it exists so reference SQL can."""
    from pyspark.sql import types as T

    regs = {
        "func_datediff": (lambda a, b: datediff_hms(a, b), T.StringType()),
        "func_check_date": (lambda s: check_date(s)[0], T.IntegerType()),
        "func_field_counter": (
            lambda s, unterminated=False, delim=",": field_counter(
                s, bool(unterminated), delim or ","
            ),
            T.IntegerType(),
        ),
        "func_get_nth_field": (
            lambda s, n, unterminated=True, delim=",": get_nth_field(
                s, int(n), bool(unterminated), delim or ","
            ),
            T.StringType(),
        ),
        "func_string_to_number": (string_to_number, T.LongType()),
        "func_atol": (atol, T.LongType()),
    }
    for name, (fn, rt) in regs.items():
        spark.udf.register(name, fn, rt)
    return sorted(regs)

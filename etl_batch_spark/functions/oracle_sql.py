"""Oracle SQL dialect shim — run the reference's embedded SQL on Spark.

The reference package executes ~30 fixed Oracle SQL statements built
from a small idiom set: ``NVL``, ``DECODE``, ``UPPER``, ``SUBSTR``,
``INSTR``, ``MOD``, ``||``, ``TRUNC(date)``, ``SYSDATE``,
``TO_CHAR``/``TO_DATE`` with Oracle format models, and ``ROWNUM``
limits (pkg_batch_util_body.sql:133–143, 175–181, 224–247, 283–322,
926–939, 1172–1197).  Most of that is already valid Spark SQL —
``nvl``, Oracle-style ``decode``, ``instr``, ``substr``, ``mod`` and
``||`` are native — so the shim only rewrites the genuinely Oracle-only
pieces, as text, before handing the statement to ``spark.sql``:

- ``SYSDATE``                → ``current_timestamp()``
- ``TRUNC(<date expr>)``     → ``date_trunc('DAY', <expr>)`` (1-arg
  TRUNC; the reference never numeric-truncs)
- ``TO_DATE(s, fmt)``        → ``to_timestamp(<case-fixed s>, <java fmt>)``
- ``TO_CHAR(d, fmt)``        → ``date_format(d, <java fmt>)``
- trailing ``[WHERE|AND] ROWNUM < n`` / ``<= n`` / ``= 1`` → ``LIMIT``
  (the only ROWNUM shapes the reference uses; Oracle applies ROWNUM
  before ORDER BY — the quirk SURVEY §2.A11 documents — the shim
  applies LIMIT after, i.e. the evident intent)

Oracle format models map to Java time patterns (``DD-MON-YYYY`` →
``dd-MMM-yyyy``, ``HH24:MI:SS`` → ``HH:mm:ss``); Oracle month names
are case-insensitive while Java wants ``Jan``, so parsed inputs get
``initcap(lower(...))`` wrapped around them.

This is a *statement-level* shim for the reference's idiom set, not a
general PL/SQL parser: statements it does not recognize pass through
unchanged (Spark SQL errors then surface verbatim).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# Oracle format-model token → Java time pattern token.  Longest first.
_FMT_MAP = [
    ("HH24", "HH"),
    ("YYYY", "yyyy"),
    ("MON", "MMM"),
    ("MM", "MM"),
    ("DD", "dd"),
    ("HH", "hh"),
    ("MI", "mm"),
    ("SS", "ss"),
]


def translate_format(oracle_fmt: str) -> str:
    """``'DD-MON-YYYY HH24:MI:SS'`` → ``'dd-MMM-yyyy HH:mm:ss'``."""
    out, i, up = [], 0, oracle_fmt.upper()
    while i < len(up):
        for tok, java in _FMT_MAP:
            if up.startswith(tok, i):
                out.append(java)
                i += len(tok)
                break
        else:
            out.append(oracle_fmt[i])
            i += 1
    return "".join(out)


def _balanced_arg(s: str, start: int) -> tuple[str, int]:
    """Text of one parenthesized argument list starting at ``s[start] == '('``;
    returns (inner text, index just past the closing paren)."""
    depth, i = 0, start
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return s[start + 1 : i], i + 1
        elif s[i] == "'":  # skip string literal
            i += 1
            while i < len(s) and s[i] != "'":
                i += 1
        i += 1
    raise ValueError(f"unbalanced parentheses after position {start}")


def _split_args(inner: str) -> list[str]:
    """Split a top-level argument list on commas (paren/quote aware)."""
    args, depth, cur, i = [], 0, [], 0
    while i < len(inner):
        ch = inner[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "'":
            cur.append(ch)
            i += 1
            while i < len(inner) and inner[i] != "'":
                cur.append(inner[i])
                i += 1
            if i < len(inner):
                cur.append("'")
                i += 1
            continue
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur or args:
        args.append("".join(cur).strip())
    return args


def _rewrite_calls(sql: str, name: str, rewrite) -> str:
    """Replace every top-level ``name(...)`` call via ``rewrite(args)``."""
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    out, pos = [], 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        inner, end = _balanced_arg(sql, m.end() - 1)
        # recurse so nested calls of the same name are handled
        inner = _rewrite_calls(inner, name, rewrite)
        out.append(sql[pos : m.start()])
        out.append(rewrite(_split_args(inner)))
        pos = end


def _quote_fmt(arg: str) -> str | None:
    m = re.fullmatch(r"\s*'([^']*)'\s*", arg)
    return m.group(1) if m else None


def translate(sql: str) -> str:
    """Rewrite one Oracle SQL statement into Spark SQL (see module doc).
    Serves the reference's embedded SQL (body.sql:133-1197); no query
    calls it."""
    out = re.sub(r"\bSYSDATE\b", "current_timestamp()", sql, flags=re.IGNORECASE)

    def trunc(args: list[str]) -> str:
        if len(args) == 1:
            return f"date_trunc('DAY', {args[0]})"
        return f"trunc({', '.join(args)})"  # 2-arg form passes through

    out = _rewrite_calls(out, "TRUNC", trunc)

    def to_date(args: list[str]) -> str:
        if len(args) == 1:
            return f"to_timestamp({args[0]})"
        fmt = _quote_fmt(args[1])
        if fmt is None:
            return f"to_timestamp({args[0]}, {args[1]})"
        java = translate_format(fmt)
        src = args[0]
        if "MMM" in java:  # Oracle month names are case-insensitive
            src = f"initcap(lower({src}))"
        return f"to_timestamp({src}, '{java}')"

    out = _rewrite_calls(out, "TO_DATE", to_date)

    def to_char(args: list[str]) -> str:
        if len(args) == 1:
            return f"cast({args[0]} as string)"
        fmt = _quote_fmt(args[1])
        if fmt is None:
            return f"date_format({args[0]}, {args[1]})"
        return f"date_format({args[0]}, '{translate_format(fmt)}')"

    out = _rewrite_calls(out, "TO_CHAR", to_char)

    # trailing ROWNUM guard → LIMIT (the reference's only ROWNUM shapes)
    def rownum(m: re.Match) -> str:
        op, n = m.group("op"), int(m.group("n"))
        limit = n - 1 if op == "<" else n
        lead = "" if m.group("kw").upper() == "AND" else " WHERE true"
        return f"{lead}{m.group('rest') or ''} LIMIT {limit}"

    out = re.sub(
        r"\s+(?P<kw>WHERE|AND)\s+ROWNUM\s*(?P<op><=|<|=)\s*(?P<n>\d+)"
        r"(?P<rest>\s+ORDER\s+BY\s+[^;]*)?\s*$",
        rownum,
        out,
        flags=re.IGNORECASE,
    )
    return out


def run_oracle_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Translate an Oracle statement from the reference's idiom set and
    execute it against this session's registered views (body.sql:133-1197)."""
    return spark.sql(translate(sql))

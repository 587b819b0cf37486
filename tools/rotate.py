"""Refresh the driver-window rotation lists from a CORRECTNESS_r{N}.json.

The external driver verifies only the FIRST 50 registry entries per
round (see etl_batch_spark/queries/rotation.py).  After each round this
tool folds the driver's results back into the rotation:

- names the driver verified green (rows+schema+hash all true, or
  rows-only ``no_oracle`` by design) move to ``DRIVER_GREEN``;
- ``DRIVER_WINDOW`` refills with ``--prepend`` names first (queries
  whose output or oracle changed this round and must re-verify), then
  the highest-priority never-checked names in registry order.

Usage:
    python tools/rotate.py CORRECTNESS_r02.json [--prepend q39 q40] [--write]

Without ``--write`` it prints the new lists (dry run).  With it, the
two list literals in rotation.py are rewritten in place.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

WINDOW_SIZE = 50
ROTATION_PATH = REPO / "etl_batch_spark" / "queries" / "rotation.py"


def greens_from_correctness(correctness: dict) -> list[str]:
    """Names the driver verified this round: full value-hash green, or
    rows-only ``no_oracle`` (weaker check, but the strongest one that
    exists for those queries — re-running it gains nothing)."""
    out = []
    for name, row in correctness.items():
        if row.get("hash_match") and row.get("rows_match") and row.get("schema_match"):
            out.append(name)
        elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
            out.append(name)
    return out


def compute_rotation(
    registry_names: list[str],
    old_green: list[str],
    correctness: dict,
    prepend: list[str],
) -> tuple[list[str], list[str]]:
    """(new_window, new_green).  Deterministic; pure function for tests."""
    new_green_set = set(old_green) | set(greens_from_correctness(correctness))
    # prepended (changed) names must re-verify even if previously green
    new_green_set -= set(prepend)
    unchecked = [
        n for n in registry_names if n not in new_green_set and n not in prepend
    ]
    window = [n for n in prepend if n in registry_names]
    window += unchecked[: max(0, WINDOW_SIZE - len(window))]
    green = sorted(n for n in new_green_set if n in registry_names)
    return window, green


def rewrite_lists(src: str, window: list[str], green: list[str]) -> str:
    def fmt(names: list[str]) -> str:
        body = "\n".join(f'    "{n}",' for n in names)
        return f"[\n{body}\n]"

    src, n1 = re.subn(
        r"DRIVER_WINDOW: list\[str\] = \[.*?\n\]",
        f"DRIVER_WINDOW: list[str] = {fmt(window)}",
        src,
        count=1,
        flags=re.DOTALL,
    )
    src, n2 = re.subn(
        r"DRIVER_GREEN: list\[str\] = \[.*?\n\]",
        f"DRIVER_GREEN: list[str] = {fmt(green)}",
        src,
        count=1,
        flags=re.DOTALL,
    )
    if n1 != 1 or n2 != 1:
        raise RuntimeError("rotation.py list literals not found — layout changed?")
    return src


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("correctness", help="path to CORRECTNESS_r{N}.json")
    ap.add_argument("--prepend", nargs="*", default=[],
                    help="changed-this-round names that must re-verify first")
    ap.add_argument("--write", action="store_true", help="rewrite rotation.py")
    args = ap.parse_args(argv)

    import __spark_entry__ as ep
    from etl_batch_spark.queries import rotation

    correctness = json.load(open(args.correctness))
    registry_names = list(ep.queries())
    window, green = compute_rotation(
        registry_names, rotation.DRIVER_GREEN, correctness, args.prepend
    )
    if args.write:
        src = open(ROTATION_PATH).read()
        open(ROTATION_PATH, "w").write(rewrite_lists(src, window, green))
        print(f"rotation.py rewritten: window={len(window)} green={len(green)}")
    else:
        print("DRIVER_WINDOW =", json.dumps(window, indent=2))
        print("DRIVER_GREEN =", json.dumps(green, indent=2))
        unchecked = [
            n for n in registry_names
            if n not in set(green) and n not in set(window)
        ]
        print(f"# {len(window)} window, {len(green)} green, "
              f"{len(unchecked)} still unchecked after this window")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The standing stress-corpus matrix, as one mechanical command.

Rounds 3-5 accumulated ~38 ad-hoc generalization corpora (see
COVERAGE.md) whose exact generation args lived only in shell history —
re-running "the matrix" after a plan rewrite meant reconstructing them
by hand.  This file makes the matrix a checked-in artifact: every
corpus class is named here with its exact ``gen_subset.py`` arguments,
and one command regenerates + sweeps any subset of it.

    python tools/matrix.py                      # whole matrix, full registry
    python tools/matrix.py --dirs e0 o95        # two corpora, full registry
    python tools/matrix.py --only st05_streaming_funnel   # all corpora, 1 query
    python tools/matrix.py --list               # print the matrix and exit

Corpora are generated on first use under ``.benchdata/subset/`` (they
are deterministic, so regeneration is exact); ``--regen`` forces a
rebuild.  Exit code is the number of (dir, query) failures.

The class list reconstructs the round-3/4/5 matrix: row subsets at
three keep rates (s1-s4), NULL injection (n5/n6, high-rate n71/n74),
ties (t7, degenerate t100, t76 ties+dups), unicode text (u8), empty
facts (e0), combined-stress (m11-m14, m21-m24 at fresh seeds, z72/z73
everything-cranked), full-row duplicate ingestion (d31/d32, dup1),
sign-flipped values (g51, x61), hot-key skew (h41, h75 skew+nulls,
hd82 skew+dups+nulls), sparse survivors (sp81), negative ids
(i91/i92), ids past 2^53 (i93/i94), and pre-epoch timestamps
(o95/o96).  Where a historical corpus's exact rates were not recorded,
the class intent from COVERAGE.md is encoded; from round 6 on, THIS
file is the definition.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_BASE = os.path.join(REPO, ".benchdata", "subset")

# name -> gen_subset.py args (seed/out derived from the name where the
# convention allows).  Keep the matrix sorted by class, not by name.
MATRIX: dict[str, list[str]] = {
    # plain referentially-ragged row subsets, three keep rates
    "s1": ["--seed", "1"],
    "s2": ["--seed", "2"],
    "s3": ["--seed", "3", "--keep", "50"],
    "s4": ["--seed", "4", "--keep", "10"],
    # NULL injection (fixtures ship zero NULLs)
    "n5": ["--seed", "5", "--keep", "100", "--nulls", "5"],
    "n6": ["--seed", "6", "--keep", "90", "--nulls", "8"],
    "n71": ["--seed", "71", "--keep", "85", "--nulls", "15"],
    "n74": ["--seed", "74", "--keep", "80", "--nulls", "20"],
    # ordering ties / degenerate constants
    "t7": ["--seed", "7", "--keep", "100", "--ties", "60"],
    "t100": ["--seed", "42", "--keep", "100", "--ties", "100"],
    "t76": ["--seed", "76", "--keep", "90", "--ties", "80", "--dup", "30"],
    # non-ASCII text
    "u8": ["--seed", "8", "--keep", "100", "--unicode", "40"],
    # empty fact tables
    "e0": ["--seed", "9", "--keep", "0"],
    # empty dimension tables, facts intact (inverse of e0: empty
    # broadcast build sides, all-dangling fact keys — round-6 class)
    "ed55": ["--seed", "55", "--keep", "100", "--emptydims"],
    # combined stress (vary seeds AND rates — m14 caught what m11 missed)
    "m11": ["--seed", "11", "--keep", "70", "--nulls", "5", "--ties", "40", "--unicode", "30"],
    "m12": ["--seed", "12", "--keep", "60", "--nulls", "8", "--ties", "30", "--unicode", "20"],
    "m13": ["--seed", "13", "--keep", "80", "--nulls", "3", "--ties", "55", "--unicode", "40"],
    "m14": ["--seed", "14", "--keep", "50", "--nulls", "10", "--ties", "45", "--unicode", "25"],
    "m21": ["--seed", "21", "--keep", "75", "--nulls", "6", "--ties", "35", "--unicode", "30"],
    "m22": ["--seed", "22", "--keep", "65", "--nulls", "12", "--ties", "50", "--unicode", "15"],
    "m23": ["--seed", "23", "--keep", "85", "--nulls", "4", "--ties", "25", "--unicode", "45"],
    "m24": ["--seed", "24", "--keep", "55", "--nulls", "9", "--ties", "60", "--unicode", "35"],
    "z72": ["--seed", "72", "--keep", "60", "--nulls", "18", "--ties", "50",
            "--unicode", "35", "--dup", "25", "--neg", "30"],
    "z73": ["--seed", "73", "--keep", "65", "--nulls", "15", "--ties", "45",
            "--unicode", "30", "--dup", "20", "--neg", "25"],
    # exact full-row duplicate ingestion (PKs included)
    "dup1": ["--seed", "1", "--keep", "100", "--dup", "10"],
    "d31": ["--seed", "31", "--keep", "100", "--dup", "15"],
    "d32": ["--seed", "32", "--keep", "80", "--nulls", "6", "--ties", "40",
            "--unicode", "25", "--dup", "20"],
    # sign-flipped measures (refund/debit semantics)
    "g51": ["--seed", "51", "--keep", "100", "--neg", "30"],
    "x61": ["--seed", "61", "--keep", "90", "--neg", "40", "--nulls", "5"],
    # hot-key skew
    "h41": ["--seed", "41", "--keep", "100", "--hot", "40"],
    "h75": ["--seed", "75", "--keep", "90", "--hot", "60", "--nulls", "8"],
    "hd82": ["--seed", "82", "--keep", "85", "--hot", "45", "--dup", "20", "--nulls", "6"],
    # extreme sparsity (tiny/empty groups beyond e0)
    "sp81": ["--seed", "81", "--keep", "5", "--nulls", "10"],
    # negative ids (sign-flip per VALUE, joins stay consistent)
    "i91": ["--seed", "91", "--keep", "100", "--negids", "40"],
    "i92": ["--seed", "92", "--keep", "70", "--negids", "30", "--nulls", "8",
            "--ties", "30", "--unicode", "20", "--dup", "15"],
    # ids past 2^53 (no double round-trip)
    "i93": ["--seed", "93", "--keep", "100", "--bigids", "40"],
    "i94": ["--seed", "94", "--keep", "70", "--bigids", "25", "--negids", "25",
            "--nulls", "8", "--ties", "30", "--dup", "15"],
    # pre-epoch timestamps (negative unix time)
    "o95": ["--seed", "95", "--keep", "100", "--oldts", "35"],
    "o96": ["--seed", "96", "--keep", "75", "--oldts", "30", "--nulls", "10",
            "--ties", "40", "--dup", "10"],
}


def ensure_dir(name: str, *, regen: bool) -> str:
    out = os.path.join(OUT_BASE, name)
    if regen or not os.path.isdir(out):
        cmd = [sys.executable, os.path.join(REPO, "tools", "gen_subset.py"),
               *MATRIX[name], "--out", out]
        subprocess.run(cmd, check=True, capture_output=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="*", default=None, help="corpus names (default: all)")
    ap.add_argument("--only", nargs="*", default=None, help="restrict parity to these queries")
    ap.add_argument("--regen", action="store_true", help="regenerate corpora even if present")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    names = args.dirs or list(MATRIX)
    unknown = [n for n in names if n not in MATRIX]
    if unknown:
        print(f"unknown corpora: {unknown}; known: {sorted(MATRIX)}", file=sys.stderr)
        return 2
    if args.list:
        for n in names:
            print(f"{n}: {' '.join(MATRIX[n])}")
        return 0

    failures = 0
    for n in names:
        out = ensure_dir(n, regen=args.regen)
        cmd = [sys.executable, os.path.join(REPO, "tools", "parity.py"), out]
        if args.only:
            cmd += ["--only", *args.only]
        r = subprocess.run(cmd, capture_output=True, text=True)
        tail = [ln for ln in r.stdout.splitlines() if "pass," in ln]
        summary = tail[-1] if tail else f"rc={r.returncode} (no summary line)"
        fails = [ln for ln in r.stdout.splitlines() if ln.lstrip("\r ").startswith("FAIL")]
        failures += len(fails) if fails else (0 if r.returncode == 0 else 1)
        print(f"{n}: {summary}")
        for ln in fails:
            print(f"  {ln.lstrip()}")
    print(f"matrix: {len(names)} corpora, {failures} failing (dir, query) pairs")
    return min(failures, 125)


if __name__ == "__main__":
    sys.exit(main())

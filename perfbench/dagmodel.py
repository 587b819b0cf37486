"""The control_plane workload's seeded module DAG and its outcome model.

Pure Python: the tests check the model against ``DagRunner`` without a
Spark session.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

EDGE_TYPES = ("MANDATORY", "OPTIONAL", "WAIT")


@dataclass(frozen=True)
class Dag:
    names: "list[str]"  # topological order: parents precede children
    deps: "dict[str, list[str]]"
    edge_types: "dict[tuple[str, str], str]"  # (child, parent) -> type
    failing: "frozenset[str]"  # modules whose body raises


def make_dag(seed: int, n_modules: int = 200, max_parents: int = 3,
             n_failing: int = 6) -> Dag:
    """A seeded DAG: each module after the first max_parents has
    0..max_parents earlier modules as parents, every count equally often,
    each edge MANDATORY, OPTIONAL or WAIT.  Each failing module
    has exactly one transitive dependent, shared with no other failure,
    so every seed runs the same number of modules and dependency checks:
    n_failing fail and n_failing are skipped."""
    rng = random.Random(seed)
    names = [f"m{i:03d}" for i in range(n_modules)]
    n_parents = [0] * max_parents + [i % (max_parents + 1)
                                     for i in range(n_modules - max_parents)]
    tail = n_parents[max_parents:]
    rng.shuffle(tail)
    n_parents[max_parents:] = tail
    deps: dict[str, list[str]] = {}
    edge_types: dict[tuple[str, str], str] = {}
    for i, name in enumerate(names):
        ups = sorted(rng.sample(names[:i], n_parents[i]))
        deps[name] = ups
        for up in ups:
            edge_types[(name, up)] = rng.choice(EDGE_TYPES)
    below: dict[str, set[str]] = {name: set() for name in names}
    for name in reversed(names):
        for up in deps[name]:
            below[up] |= below[name] | {name}
    candidates = [name for name in names if len(below[name]) == 1]
    rng.shuffle(candidates)
    failing: list[str] = []
    touched: set[str] = set()
    for name in candidates:
        group = below[name] | {name}
        if len(failing) < n_failing and not group & touched:
            failing.append(name)
            touched |= group
    return Dag(names, deps, edge_types, frozenset(failing))


def expected_status(dag: Dag) -> "dict[str, str]":
    """What ``DagRunner.run`` must return: a failing module is FAILURE,
    every transitive dependent of a failure is SKIPPED (never admitted,
    so it leaves no monitor row), the rest SUCCESS."""
    out: dict[str, str] = {}
    for name in dag.names:
        if any(out[up] != "SUCCESS" for up in dag.deps[name]):
            out[name] = "SKIPPED"
        elif name in dag.failing:
            out[name] = "FAILURE"
        else:
            out[name] = "SUCCESS"
    return out


def rows_for(name: str, day: int) -> int:
    """The records_processed a module body reports on a control day."""
    return (int(name[1:]) * 7919 + day * 104729) % 1000 + 1

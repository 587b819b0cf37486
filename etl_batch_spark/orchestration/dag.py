"""DAG-level batch orchestration over the reference's module lifecycle.

The reference sequences modules indirectly: DAILY000 drives daily
cycles and each module's ``func_batch_startup`` gates on its
dependencies' completion status, polling every 120 s
(pkg_batch_util_body.sql:300-380).  That admits correct orders but
discovers them by waiting.  This extension computes the order
directly: modules declare their upstream edges, a Kahn topological
sort schedules them, and independent branches run concurrently on a
thread pool — each module still enters and leaves through the SAME
``BatchRunner.startup`` / ``RunContext.finish`` machinery, so every
run lands in the monitor's event log with the reference's exact
status strings; admit with ``exclusive_run_yn="Y"`` to ALSO run the
reference's ``batch_dependency``-table gate as a second line of
defense (the default non-exclusive path, faithful to the reference,
performs no per-module dependency check).

Failure semantics: a failed module records FAILURE via the normal
lifecycle; its transitive dependents never start and are reported as
``"SKIPPED"`` (no monitor row — they were never admitted, matching
the reference's behavior for a module whose dependency gate would
block forever).  A dependency cycle raises before anything runs.

Scale note: this is control-plane code — module counts are 10²-10³,
on-driver scheduling state is trivial; the heavy lifting inside each
module is whatever Spark plan the module runs.
"""

from __future__ import annotations

import heapq
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

from etl_batch_spark.orchestration.runner import BatchError, BatchRunner, RunContext

ModuleFn = Callable[[RunContext], "tuple[int, int]"]  # -> (processed, errors)


class DagCycle(BatchError):
    pass


def _edges(deps: "dict[str, list[str]]") -> "tuple[dict[str, int], dict[str, list[str]]]":
    """``({node: number of upstream edges}, {node: [downstream, ...]})``
    over every node named in ``deps``."""
    nodes = set(deps)
    for ups in deps.values():
        nodes.update(ups)
    indeg = {n: 0 for n in nodes}
    down: dict[str, list[str]] = {n: [] for n in nodes}
    for n, ups in deps.items():
        for u in ups:
            indeg[n] += 1
            down[u].append(n)
    return indeg, down


def topological_order(deps: "dict[str, list[str]]") -> "list[str]":
    """Kahn order over ``{module: [upstream, ...]}``; deterministic
    (lexicographic among ready modules); raises :class:`DagCycle`."""
    indeg, down = _edges(deps)
    nodes = set(indeg)
    ready = [n for n in nodes if indeg[n] == 0]
    heapq.heapify(ready)  # min-heap ⇒ truly lexicographic among ALL ready
    out: list[str] = []
    while ready:
        n = heapq.heappop(ready)
        out.append(n)
        for d in down[n]:
            indeg[d] -= 1
            if indeg[d] == 0:
                heapq.heappush(ready, d)
    if len(out) != len(nodes):
        raise DagCycle(f"cycle among {sorted(nodes - set(out))}")
    return out


class DagRunner:
    """Run a module DAG through an existing :class:`BatchRunner`."""

    def __init__(self, runner: BatchRunner, *, max_workers: int = 4):
        self.runner = runner
        self.max_workers = max_workers

    def run(
        self,
        modules: dict[str, ModuleFn],
        deps: "dict[str, list[str]]",
        *,
        exclusive_run_yn: str = "N",
    ) -> "dict[str, str]":
        """Execute ``modules`` respecting ``deps``; returns
        ``{module: "SUCCESS" | "FAILURE" | "SKIPPED"}``.

        Independent modules run concurrently (bounded by
        ``max_workers``); a module starts only when every upstream
        finished SUCCESS.  Unknown modules in ``deps`` must still have
        a callable in ``modules``.

        ``exclusive_run_yn="Y"`` admits each module through the
        reference's exclusive path, which ALSO runs the
        ``batch_dependency``-table check — use it when the control
        tables carry edges the DAG's ``deps`` map might not (the gate
        resolves immediately here because DAG-known upstreams have
        already finished).  The default ``"N"`` mirrors the reference's
        non-exclusive startup, which performs no dependency check.
        """
        graph = {m: deps.get(m, []) for m in modules}
        order = topological_order(graph)
        missing = [m for m in order if m not in modules]
        if missing:
            raise BatchError(f"deps reference modules without callables: {missing}")
        # scheduling state: unfinished upstream edges per module, and who
        # waits on whom, so a completion decides only its own dependents
        waiting, down = _edges(graph)
        position = {m: i for i, m in enumerate(order)}
        status: dict[str, str] = {}  # written by this thread only

        def run_one(m: str) -> str:
            try:
                ctx = self.runner.startup(
                    m.upper(), 1, exclusive_run_yn=exclusive_run_yn
                )
            except (BatchError, TimeoutError):
                # admission failure (disabled / duplicate, plus the
                # dependency gate when exclusive_run_yn="Y") is a module
                # failure for DAG purposes; the lifecycle has already
                # logged the reference's status strings.  A dependency
                # poll TIMEOUT (engine extension — the monitor row reads
                # DEPENDENCY TIMEOUT) fails the module the same way
                # instead of crashing the whole DAG.
                return "FAILURE"
            try:
                processed, errors = modules[m](ctx)
            except Exception:
                ctx.finish("FAILURE", 0, 0)
                return "FAILURE"
            ctx.finish("SUCCESS", processed, errors)
            return "SUCCESS"

        def skip_dependents(m: str) -> None:
            stack = [m]
            while stack:
                for d in down[stack.pop()]:
                    if d not in status:
                        status[d] = "SKIPPED"
                        stack.append(d)

        ready = [m for m in order if waiting[m] == 0]
        futures: "dict[Future, str]" = {}
        with ThreadPoolExecutor(max_workers=self.max_workers) as pool:
            while ready or futures:
                # submit in topological-order position: deterministic
                for m in sorted(ready, key=position.__getitem__):
                    futures[pool.submit(run_one, m)] = m
                ready = []
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for f in done:
                    m = futures.pop(f)
                    # result() also propagates unexpected scheduler errors
                    status[m] = f.result()
                    if status[m] != "SUCCESS":
                        skip_dependents(m)
                        continue
                    for d in down[m]:
                        waiting[d] -= 1
                        if waiting[d] == 0:
                            ready.append(d)
        return dict(status)

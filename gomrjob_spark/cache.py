"""Operator-scoped cache lifecycle.

Operators that legitimately persist an intermediate frame (the shingle
frame feeding both the MinHash signature aggregation and the Jaccard
verification join) used to call ``DataFrame.persist()`` directly and
never unpersist: correct inside one query, but a leak across a
long-lived session running many queries — exactly what ``bench.py``
does (36 queries x 2 runs in one JVM) and what a real multi-tenant
driver does. The accumulated MEMORY_AND_DISK entries evict each other
and drag unrelated queries (the r03 bench drift).

The fix is a seam, not a policy change: operators route persists
through :func:`scoped_persist`, which tracks the frame in a
module-level registry; a harness that runs many queries calls
:func:`release_scoped` after each query's action (or wraps it in
:func:`cache_scope`). Correctness never depends on the cache — an
unpersisted frame just recomputes — so releasing early is always safe.

:func:`iterate`, the round device, lives here because it decides the
other cache lifetime: that of checkpointed round states, which have no
lineage to recompute from and so never enter the registry.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_lock = threading.Lock()
_tracked: list[DataFrame] = []


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)``, registered for later :func:`release_scoped`.

    Under adaptive execution every read of a persisted frame in one plan
    is its own table-cache query stage, and so its own Spark job: the
    first fills the cache, each later one scans the filled blocks (a few
    ms of tasks, but a job's scheduling all the same). AQE reuses
    repeated exchanges within a plan, not cache stages, so a frame read
    k times by one plan and by no other is cheaper left unpersisted."""
    df = df.persist(level)
    with _lock:
        _tracked.append(df)
    return df


def release_scoped() -> int:
    """Unpersist every frame registered since the last release; returns
    how many were released. Call after the consuming action — blocking=
    False, so this is cheap even mid-session."""
    with _lock:
        frames = _tracked[:]
        _tracked.clear()
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped; nothing to release
            pass
    return n


def iterate(
    step: Callable[[Any, int], Any],
    state: Any,
    *,
    max_rounds: int,
    until: Callable[[Any], bool] | None = None,
) -> Any:
    """Run ``state = step(state, r)`` for rounds ``r = 1..max_rounds`` and
    return the last state: the round device of every iterative operator,
    the engine's form of the reference runner's temp directory between
    chained steps (runner.go:109-151).

    Lineage: a DataFrame state, the initial one included, passes one
    lazy ``localCheckpoint``. The first action that reads it stores its
    rows, and the next round's plan scans those rows, so round r's plan
    never re-nests rounds 1..r-1 (a round that reads its predecessor k
    times would otherwise grow as k^r). Driver-side states, such as the
    Lloyd centroid dicts, pass unchanged.

    Cache lifetime: once an action has checkpointed one state, every
    older state is dead (nothing can recompute through a checkpoint) and
    its blocks are released at once, so a loop whose rounds run actions
    holds at most two rounds however many it runs. A step must read only
    its own input state, never an older one. The states still held when
    the loop ends stay out of :func:`release_scoped`: a query may still
    read them and could not recompute them, so Spark's context cleaner
    frees them once no frame refers to them, as for any checkpoint.

    Stopping: ``until(state)``, when given, runs on the checkpointed
    initial state and after every round, and a true result ends the
    loop; a round's convergence action belongs there, since it reads the
    checkpointed frame. A step that returns its input unchanged is at a
    fixpoint and also ends the loop. Otherwise exactly ``max_rounds``
    rounds run."""
    live: list = []  # JVM RDDs of the checkpointed states, oldest first

    def barrier(s: Any) -> Any:
        if not isinstance(s, DataFrame):
            return s
        s = s.localCheckpoint(eager=False)
        live.append(s._jdf.queryExecution().analyzed().rdd())
        return s

    def release_dead() -> None:
        for i in range(len(live) - 1, 0, -1):
            if live[i].isCheckpointed():
                for rdd in live[:i]:
                    rdd.unpersist(False)
                del live[:i]
                return

    state = barrier(state)
    r = 0
    while not (until is not None and until(state)) and r < max_rounds:
        r += 1
        nxt = step(state, r)
        if nxt is state:
            break
        release_dead()
        state = barrier(nxt)
    release_dead()
    return state


@contextmanager
def cache_scope() -> Iterator[None]:
    """Context manager: release all operator-scoped persists on exit."""
    try:
        yield
    finally:
        release_scoped()

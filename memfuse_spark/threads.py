"""Independent Spark actions of one op, run side by side on the driver.

The reference gathers its independent store calls concurrently
(``asyncio.gather`` in `rag/retrieve/hybrid.py:190-195`, the layer
fan-out in `hierarchy/parallel_manager.py:93-360`). Here the driver
submits each action from a thread of its own, so Spark schedules their
jobs on the cluster at the same time: :func:`run_beside` is the one
helper, used by the recall's keyword branch (``plans/pipeline``) and by
the epoch writers (``streaming/buffer``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import SparkSession


def run_beside(
    spark: SparkSession, main: Callable[[], object], *sides: Callable[[], object]
) -> list:
    """``[main(), *(side() for side in sides)]``, each side on an
    InheritableThread while the caller runs ``main``.

    Build every plan on the caller's thread and pass only the actions
    (a ``collect``, a write), so the driver-side construction a tracer
    wraps stays on one thread. Each thread starts with the caller's
    local properties (job group, description), so its jobs count under
    the caller's group. Every thread is joined before this returns or
    raises, so no job of the op outlives it. The first error in
    argument order is raised: ``main``'s, else the first side's."""
    out: list[dict[str, object]] = [{} for _ in range(1 + len(sides))]

    def run(fn: Callable[[], object], slot: dict[str, object]) -> None:
        try:
            slot["result"] = fn()
        except BaseException as exc:  # re-raised on the caller's thread
            slot["error"] = exc

    workers: list[InheritableThread] = []
    try:
        for side, slot in zip(sides, out[1:]):
            worker = InheritableThread(run, args=(side, slot), session=spark)
            worker.start()
            workers.append(worker)
        run(main, out[0])
    finally:
        for w in workers:
            w.join()
    for slot in out:
        if "error" in slot:
            raise slot["error"]
    return [slot["result"] for slot in out]

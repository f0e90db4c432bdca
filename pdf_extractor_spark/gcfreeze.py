"""Freeze a Python worker's long-lived heap after its first full collection.

A reused PySpark worker runs a full ``gc.collect()`` after every task
(``pyspark/daemon.py``). That collection walks every tracked container
object in the process, and almost all of them are module state that
lives as long as the worker: pyspark, pyarrow, pandas and this package.
A warm convert worker tracks about 73,600 such objects, and walking
them cost 14–27 ms of CPU per task (4 cores, Python 3.11); frozen,
the walk takes 0.05 ms.

:func:`freeze_after_first_collect` moves every object that survives the
worker's first full collection into the permanent generation
(``gc.freeze()``), which later collections skip. The package
``__init__`` calls it once per Python worker process, next to
``zipgate``; the driver is left alone.
"""

from __future__ import annotations

import gc


def freeze_after_first_collect() -> None:
    """Register a one-shot ``gc.callbacks`` hook that calls
    ``gc.freeze()`` when the next generation-2 collection stops, then
    removes itself.

    At that moment only objects that survived a full collection exist,
    so no garbage is frozen, and in a worker the first full collection
    is normally the daemon's after the first task, by when that task's
    imports are done. Freezing at package import instead would miss
    them: pandas and the extraction modules load after this package.
    Frozen objects are still freed by reference counting; only a cycle
    among them that becomes garbage later is never collected. Cycles
    made after the freeze are collected as usual."""

    def freeze_once(phase: str, info: dict) -> None:
        if phase == "stop" and info["generation"] == 2:
            # CPython indexes gc.callbacks while it calls them, so a
            # hook registered after this one misses this one event.
            gc.callbacks.remove(freeze_once)
            gc.freeze()

    gc.callbacks.append(freeze_once)

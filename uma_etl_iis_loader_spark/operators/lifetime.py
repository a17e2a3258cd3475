"""Scoped lifetime for cached intermediates.

An operator that reads one intermediate several times persists it for the
duration of its own work and releases it before returning. Doing that by
hand leaks the cache whenever an action in between raises (a failing UDF,
a budget guard): the persisted plan then stays in the session's
CacheManager, and every later query pays to match its plans against it.
``persisted`` ties the release to the ``with`` block instead.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame


@contextmanager
def persisted(*frames: DataFrame) -> Iterator[None]:
    """Persist ``frames`` on entry and unpersist them on every exit,
    including an exception.

    Anything returned from inside the block must not reference the
    frames lazily: materialize it first (``localCheckpoint(eager=True)``
    or a write), or it re-runs their lineage once the cache is gone.
    """
    try:
        for f in frames:
            f.persist()  # analyzes the plan, so it can raise too
        yield
    finally:
        for f in frames:
            f.unpersist()

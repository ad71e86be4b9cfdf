"""Session-scoped artifacts: results built once and read by many queries.

A build function ``(spark, sf_dir) -> frames`` is declared once with
``@artifact(name)``; the decorated function returns the cached frames.
Invariants:

- the key is ``(id(spark), name, sf_dir.rstrip("/"))``, so sessions and
  scale factors never share an artifact, and an artifact has exactly
  one key per (session, sf_dir);
- every build ends in eager localCheckpoints for each returned frame,
  so a hit replays no corpus work, and every build is deterministic,
  so a hit is bit-identical to a fresh build;
- cached frames are never freed (a returned frame reads them); they
  die with the session's JVM state;
- stale-path caveat: the key is the path, so fixtures regenerated in
  place under a live session are served from the old artifacts.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.sql import SparkSession

_MATERIALIZED: dict[tuple, Any] = {}
_DISABLED: bool = False
# Child build seconds accumulated by each build in progress, innermost
# last. Builds run on the caller's thread; no concurrent submitter in the
# package builds artifacts.
_CHILD_SECONDS: list[float] = []

# First-touch build seconds per artifact, labelled "name:<basename of
# sf_dir>", each the build's own time without its nested builds, so the
# entries sum to the wall time of the outermost build. bench.py and
# perfbench read this dict by name.
BUILD_SECONDS: dict[str, float] = {}

Build = Callable[[SparkSession, str], Any]


def artifact(name: str) -> Callable[[Build], Build]:
    """Declare ``build(spark, sf_dir)`` as the session artifact ``name``.
    Under :func:`uncached`, the decorated function builds fresh and
    caches nothing."""

    def declare(build: Build) -> Build:
        @functools.wraps(build)
        def get(spark: SparkSession, sf_dir: str) -> Any:
            if _DISABLED:
                return build(spark, sf_dir)
            path = sf_dir.rstrip("/")
            key = (id(spark), name, path)
            if key not in _MATERIALIZED:
                _CHILD_SECONDS.append(0.0)
                t0 = time.perf_counter()
                try:
                    _MATERIALIZED[key] = build(spark, sf_dir)
                finally:
                    wall = time.perf_counter() - t0
                    children = _CHILD_SECONDS.pop()
                    if _CHILD_SECONDS:
                        _CHILD_SECONDS[-1] += wall
                label = f"{name}:{path.rsplit('/', 1)[-1]}"
                BUILD_SECONDS[label] = round(wall - children, 4)
            return _MATERIALIZED[key]

        return get

    return declare


@contextmanager
def uncached() -> Iterator[None]:
    """Force fresh builds inside the block (and cache nothing): the
    escape hatch for tests that pin build determinism, plan shape, or
    partition-invariance THROUGH the declared query surface — with the
    cache active their second run would read the first run's frames and
    the pin would be vacuous."""
    global _DISABLED
    prev = _DISABLED
    _DISABLED = True
    try:
        yield
    finally:
        _DISABLED = prev

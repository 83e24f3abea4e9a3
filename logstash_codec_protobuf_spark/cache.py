"""Persist lifecycle for the query registry.

The driver runs the whole ``queries()`` surface in ONE Spark
session. Operators persist intermediates for good reasons — projection
collapse would re-run an expensive expression tree once per downstream
reference, and self-join operators would evaluate their fingerprint frame
twice — but a per-call ``.persist()`` with no release accumulates one cached
copy per query (~20 by round 2). Harmless at sf0.01, real memory pressure at
sf1+ and a steady leak on a long-lived cluster session.

Two lifetimes:

- ``track(df)``: persist + register; released at the NEXT query boundary
  (the ``queries.query`` decorator calls ``release_tracked()`` on entry —
  by then the previous query's result has been materialized by the caller,
  so its intermediates are dead weight).
- ``shared(key, build)``: memoized persisted frame, one per
  (applicationId, ...) key — the parsed-flat frame every second query
  re-derives. Lives for the session; ``release_all()`` drops these too.

Driver-side only, thread-safe, no executor state.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_SHARED: dict[tuple, DataFrame] = {}


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for release at the next query boundary."""
    out = df.persist()
    with _LOCK:
        _TRACKED.append(out)
    return out


def shared(key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """Memoized persisted frame: built + persisted once per ``key``.

    Key by ``spark.sparkContext.applicationId`` (plus inputs) so a fresh
    session never sees a stale frame from a stopped context.
    """
    with _LOCK:
        hit = _SHARED.get(key)
    if hit is not None:
        return hit
    out = build().persist()
    with _LOCK:
        won = _SHARED.setdefault(key, out)
    if won is not out:
        # Lost a build race: another caller persisted the same key first.
        # Drop our copy or it leaks a cached frame for the session.
        out.unpersist(False)
    return won


def release_tracked() -> None:
    """Unpersist every query-scoped frame (non-blocking)."""
    with _LOCK:
        frames = list(_TRACKED)
        _TRACKED.clear()
    for df in frames:
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing to release


def release_all() -> None:
    """Release query-scoped AND shared frames (end-of-session cleanup)."""
    release_tracked()
    with _LOCK:
        frames = list(_SHARED.values())
        _SHARED.clear()
    for df in frames:
        try:
            df.unpersist(False)
        except Exception:
            pass

"""The one releasable registry for query-lifetime persists.

Operators that persist an intermediate for multi-branch reuse (BM25
postings, span-family tokenized/occurrence tables, repetition signals)
and the entry module's queries that persist a shared subtree both call
``track()`` instead of ``DataFrame.persist()``: a raw persist is never
unpersisted — harmless in a short-lived job, but a long-lived server
session accumulates every query's intermediates in the block manager.
Tracking keeps the within-query reuse (the persist still happens at the
same point in the plan) while giving hosts ONE release point:
``release_tracked()``, which the entry module's ``release_persisted()``
simply returns, so existing harnesses (bench, parity, plan capture)
release everything they triggered.

Per-micro-batch persists in the streaming lanes are NOT routed here —
each owns a matching ``unpersist`` inside its batch body, which is the
correct (tighter) lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` (optionally at ``storage_level``) and register it
    for :func:`release_tracked`. Returns the persisted frame."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked DataFrame; returns how many were
    released. Safe after the session stopped (failures are swallowed —
    there is nothing left to release)."""
    n = 0
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n

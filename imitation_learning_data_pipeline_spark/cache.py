"""Bounded registry for persist() pins created inside lazy plan builders.

Several query builders persist an intermediate that multiple branches of
the SAME plan consume (minhash signatures, LSH ok-band rows, ngram
posting lists). The builder returns a LAZY DataFrame, so it cannot
unpersist synchronously — but never unpersisting leaks cached relations
across a long-lived session (streaming reconciliation loops, contract
runs; bench.py works around it with clearCache()).

Policy here: pins are registered per-builder-invocation, and each new
builder invocation EVICTS all pins from prior invocations, so at most
one plan's pins are ever resident. Evicting a pin is always
correctness-safe for these frames — unpersist() drops the cache, not the
lineage; a still-unmaterialized earlier plan simply recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINS: list[DataFrame] = []
_COMPOSITE_DEPTH = 0


def begin_plan() -> None:
    """Start a new builder invocation: evict every prior plan's pins.

    Inside a :class:`composite` block this is a no-op — a composite
    plan (e.g. the curation funnel) calls several pin-using builders
    and must keep ALL their pins (plus its own inter-stage pins) live
    until the next TOP-LEVEL plan; without the guard, each nested
    builder's begin_plan would evict the composite's earlier pins and
    the downstream branches would silently recompute them."""
    if _COMPOSITE_DEPTH == 0:
        clear_plan_cache()


class composite:
    """Context manager marking a composite plan build: nested
    begin_plan() calls stop evicting, so pins accumulate for the whole
    composite and are evicted together at the next top-level plan."""

    def __enter__(self):
        global _COMPOSITE_DEPTH
        if _COMPOSITE_DEPTH == 0:
            clear_plan_cache()
        _COMPOSITE_DEPTH += 1
        return self

    def __exit__(self, *exc):
        global _COMPOSITE_DEPTH
        _COMPOSITE_DEPTH -= 1
        return False


def pin(df: DataFrame) -> DataFrame:
    """persist() a frame and register it for eviction by the next plan."""
    _PINS.append(df.persist())
    return df


def clear_plan_cache() -> None:
    """Unpersist every registered pin (idempotent; safe mid-plan only if
    you accept recomputation)."""
    while _PINS:
        _PINS.pop().unpersist()

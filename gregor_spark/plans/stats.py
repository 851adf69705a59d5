"""Optimizer-estimate helpers (r8).

``plan_size_bytes`` reads the Catalyst size estimate for a plan — fixed
per-type widths over the pruned scan — WITHOUT running a job.  Gates
built on it cost nothing at any scale.  The size limits and the
evidence rules of the twin gates live in ``plans/local.py``.

``pin_small`` breaks the duplicate-subtree recomputation pattern: a
derived table consumed by several operators (a self-join's two sides, a
bands table feeding both an aggregate and a distinct) re-executes its
whole pipeline per consumer whenever one consumer broadcasts (broadcast
and shuffle exchanges never unify into a ReusedExchange).  Below the
byte cap (the ``"pin"`` row of ``plans.local.LIMITS``, 64 MB) the table
is lazily localCheckpoint-ed so the pipeline runs once; above it (or
when the estimate is unknown) the plan is returned unchanged — at
corpus scale the join is sort-merge on both sides and ReusedExchange
already deduplicates the work, so nothing corpus-sized is ever
materialized by this helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# estimates >= ~2^61 mean "unknown": RDD-backed leaves (checkpoints,
# createDataFrame) report Long.MaxValue and projections scale it by
# width ratios — far above every limit in plans/local.py, so such a
# plan is never pinned and never admitted to a twin by its estimate
_UNKNOWN = 1 << 61


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimized plan's sizeInBytes estimate, or None when the
    plan cannot report one (connect-only sessions)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - defensive
        return None


def pin_small(df: DataFrame) -> DataFrame:
    """Lazily checkpoint ``df`` when its size estimate is below the pin
    limit (see module docstring); identity otherwise."""
    from .local import limit_bytes

    est = plan_size_bytes(df)
    if est is None or est > limit_bytes("pin"):
        return df
    return df.localCheckpoint(eager=False)

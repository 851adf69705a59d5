"""Small-input policy for the single-task numpy twins.

Several operators (the graph loops, DBSCAN labelling, capped Jaccard,
BPE training, k-means/PQ training, D8 accumulation, cost-distance
edges, geodesic candidate pairs) have an exact numpy twin that runs the
same integer recurrence in ONE task when the input is small — below
that size every distributed round is pure scheduler latency.  This
module owns the two decisions every twin shares:

``fits(df, kind, rows=None)`` — the only size gate.  Evidence, in order:

1. ``SPARK_GRAFT_SMALL_GRAPH=0`` switches every twin off (the parity
   tests and the honest-scaling benches, where the loop is the subject);
2. a row count the caller already holds (``rows``);
3. a count, when every leaf of the optimized plan is in memory
   (checkpoints, ``createDataFrame``, cached frames) — such leaves carry
   no size estimate (``localCheckpoint`` and ``_materialize_truncated``
   leaves report >= 2^61), and counting them is cheap;
4. otherwise the zero-job optimizer estimate against ``kind``'s byte
   limit; an unknown estimate means the distributed path.

``one_task(df, fn, schema)`` — the only single-task runner: it moves
every Arrow batch of ``df`` into one task, hands ``fn`` one pandas frame
(empty, with ``df``'s columns and dtypes, when there are no rows) and
emits what ``fn`` returns (a frame or an iterator of frames).
``shuffle=True`` moves the rows through a one-partition exchange instead
of ``coalesce(1)``, so the stage that derives ``df`` stays parallel.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from .stats import plan_size_bytes

#: per-kind row limits of the twins (one task holds this much input);
#: byte limits for the optimizer estimate are rows × ``ROW_BYTES``
LIMITS = {
    "edges": 2_000_000,  # graph loops, DBSCAN labels, D8, cost distance
    "points": 250_000,  # geodesic candidate pairs
    "vectors": 200_000,  # k-means / PQ training
    "bpe_docs": 100_000,  # BPE merge training
    "jaccard_docs": 20_000,  # capped-candidate Jaccard
    "pin": 1 << 20,  # pin_small: 64 MB
}
ROW_BYTES = 64

_IN_MEMORY_LEAVES = {"LogicalRDD", "LocalRelation", "InMemoryRelation"}


def limit_bytes(kind: str) -> int:
    return LIMITS[kind] * ROW_BYTES


def _in_memory(df: DataFrame) -> bool:
    it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    while it.hasNext():
        if it.next().nodeName() not in _IN_MEMORY_LEAVES:
            return False
    return True


def fits(df: DataFrame, kind: str, rows: int | None = None) -> bool:
    """True when ``df`` is small enough for ``kind``'s one-task twin
    (see the module docstring for the evidence order)."""
    if os.environ.get("SPARK_GRAFT_SMALL_GRAPH") == "0":
        return False
    if rows is not None:
        return rows <= LIMITS[kind]
    if _in_memory(df):
        return df.count() <= LIMITS[kind]
    # an unknown estimate (>= 2^61, see plans/stats.py) is above every limit
    est = plan_size_bytes(df)
    return est is not None and est <= limit_bytes(kind)


def one_task(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame | Iterable[pd.DataFrame]],
    schema: str,
    shuffle: bool = False,
) -> DataFrame:
    """``fn`` over ALL rows of ``df`` as one pandas frame, in one task."""
    empty = to_arrow_schema(df.schema).empty_table().to_pandas()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        out = fn(pd.concat(frames, ignore_index=True) if frames else empty)
        if isinstance(out, pd.DataFrame):
            yield out
        else:
            yield from out

    single = df.repartition(1) if shuffle else df.coalesce(1)
    return single.mapInPandas(run, schema)

"""Stream replay (S3, ``LoopingNonSplittingRecursiveEnumerator.java``): the
reference re-reads the same file N times to synthesize longer streams; the
Spark analog replays the DataFrame N times, advancing event_time per loop so
freshness semantics stay meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def replay(
    df: DataFrame, loops: int, event_time_col: str | None = None, advance: int = 0
) -> DataFrame:
    """Replay the frame ``loops`` times (S3). With ``event_time_col`` and
    ``advance``, loop i shifts event times by ``i * advance`` so each loop
    reads as a later epoch of the same stream (ids repeat -> upserts)."""
    if loops < 1:
        raise ValueError("loops must be >= 1")
    out = None
    for i in range(loops):
        d = df
        if event_time_col is not None and advance and i:
            d = d.withColumn(
                event_time_col, F.col(event_time_col) + F.lit(i * advance)
            )
        out = d if out is None else out.unionByName(d)
    return out

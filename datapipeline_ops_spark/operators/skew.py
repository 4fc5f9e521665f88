"""Skew mitigation: salted two-phase aggregation.

At 100 TB a handful of hot keys (one viral video's frames, one boilerplate
document hash) can pin a single reducer. AQE's skew-join splitting handles
joins; for aggregations the classic fix is salting: shuffle on
(key, salt) so a hot key spreads over S reducers, then combine the S
partials in a second (tiny) shuffle. Results are exactly equal to the
direct aggregation for any algebraic aggregate — verified by reusing the
unsalted oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DEFAULT_SALTS = 8


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-phase aggregation over salted keys.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {"sum", "count", "min", "max"} (the re-combinable aggregates; avg is
    expressed as sum+count by the caller). Phase 1 shuffles on
    (*key_cols, salt) — hot keys fan out over ``n_salts`` reducers; phase 2
    combines the partials, shuffling only #groups × n_salts rows.
    """
    combine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}

    salted = df.withColumn("_salt", (F.rand(seed=7) * n_salts).cast("int"))
    p1 = salted.groupBy(*key_cols, "_salt").agg(
        *[phase1_fn[fn](src).alias(out) for out, (src, fn) in aggs.items()]
    )
    return p1.groupBy(*key_cols).agg(
        *[combine[fn](out).alias(out) for out, (src, fn) in aggs.items()]
    )

"""Greedy sequential dedup — the reference's one genuinely order-dependent
operator (``pipeline/video_extract_frame.py:202-230``): per video, faces are
examined in frame order against the kept set; a new face either *replaces*
its best match (same identity, better quality), is *dropped* (overlaps an
existing box), or is *appended* as a new identity.

This is NOT expressible as an order-free relational op (connected components
+ per-cluster max gives different results — SURVEY.md §2.2), so the engine
runs the reference's own sequential algorithm per group via
``applyInPandas``: sequential *within* a group, embarrassingly parallel
*across* groups. At 100 TB the group key (video / user) has millions of
distinct values, so every core stays busy; no state ever crosses groups.

Determinism: rows are sorted by ``order_col`` inside each group before the
scan (shuffle delivery order is nondeterministic), and all scores come from
the cross-engine md5 hash — which is how the DuckDB oracle can replay the
exact same scan as a recursive CTE and match value-for-value.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame

SIM_T = 0.95  # identity-match threshold (analog: face-embedding cosine >= t)
OV_T = 0.98  # overlap-drop threshold   (analog: box IoU > 0.2)


def _hash_unit(x: object, seed: int) -> float:
    """Python twin of functions.hashing.hash_unit (md5-derived, exact)."""
    h = int(hashlib.md5(f"{seed}:{x}".encode()).hexdigest()[:15], 16)
    return (h % 1_000_000) / 1_000_000.0


def greedy_keep(df: DataFrame, group_col: str, order_col: str) -> DataFrame:
    """Run the greedy keep/replace/drop scan per group; returns the kept
    (group_col, order_col) pairs.

    Per row, three deterministic stub scores stand in for the reference's
    model outputs (the same injection seam as ``similarity_op.py:8-10``):
    ``pos`` the identity coordinate, ``q`` the quality score, ``ov`` the
    overlap coordinate. Scan semantics (mirroring
    ``video_extract_frame.py:202-230`` line for line):

    - best kept match by identity similarity ``1 - |pos_k - pos_r|``;
      if >= SIM_T: replace it when the new row has higher quality, else drop;
    - elif any kept overlap similarity ``1 - |ov_k - ov_r|`` >= OV_T: drop;
    - else: append as a new identity.
    """

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        kept: list[tuple[object, float, float, float]] = []
        for key in pdf[order_col]:
            pos, q, ov = (
                _hash_unit(key, 11),
                _hash_unit(key, 12),
                _hash_unit(key, 13),
            )
            if not kept:
                kept.append((key, pos, q, ov))
                continue
            sims = [1.0 - abs(k[1] - pos) for k in kept]
            best = max(sims)
            bi = sims.index(best)  # first argmax, like Python max()
            if best >= SIM_T:
                if q > kept[bi][2]:
                    kept[bi] = (key, pos, q, ov)
            elif max(1.0 - abs(k[3] - ov) for k in kept) >= OV_T:
                pass
            else:
                kept.append((key, pos, q, ov))
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[0],
                order_col: [k[0] for k in kept],
            }
        )

    out_schema = df.select(group_col, order_col).schema
    return (
        df.select(group_col, order_col)
        .groupBy(group_col)
        .applyInPandas(scan, schema=out_schema)
    )

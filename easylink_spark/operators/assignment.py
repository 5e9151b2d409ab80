"""One-to-one assignment per block (SURVEY.md G5, extension).

The reference's fastLink path solves a per-block 1:1 assignment maximizing
sum of logit(p) with linear programming
(steps/fastLink/fastLink_links_to_clusters.R:99-107, dedupeMatches
linprog=TRUE).  There is no distributed LP primitive; blocks are small
after blocking, so the Spark shape is groupBy(block).applyInPandas with:

- scipy.optimize.linear_sum_assignment (Hungarian, exact) when scipy is
  importable, else
- greedy descending-logit matching (each left/right used once) — the
  classic 1/2-approximation, deterministic via (logit desc, keys asc)
  ordering.

Input: links contract + precomputed block column.  Output: the accepted
1:1 links subset.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    LEFT_DATASET,
    LEFT_ID,
    PAIR_COLS,
    PROBABILITY,
    RIGHT_DATASET,
    RIGHT_ID,
    record_key,
)

try:  # scipy is optional in this environment
    from scipy.optimize import linear_sum_assignment  # type: ignore

    _HAVE_SCIPY = True
except Exception:  # pragma: no cover
    _HAVE_SCIPY = False


def _assign_block(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    pdf = pdf.copy()
    p = pdf["_p"].to_numpy(dtype=float).clip(1e-9, 1 - 1e-9)
    logit = np.log(p / (1 - p))
    pdf["_logit"] = logit
    if _HAVE_SCIPY and len(pdf) > 1:
        # cost matrix via numpy fancy indexing — no per-row Python loop
        l_codes, lefts = pd.factorize(pdf["_lk"], sort=True)
        r_codes, rights = pd.factorize(pdf["_rk"], sort=True)
        # maximize sum logit -> cost = -logit, missing pairs strongly penalized
        cost = np.full((len(lefts), len(rights)), 1e9)
        cost[l_codes, r_codes] = -logit
        r_idx, c_idx = linear_sum_assignment(cost)
        ok = cost[r_idx, c_idx] < 1e8
        chosen = np.zeros((len(lefts), len(rights)), dtype=bool)
        chosen[r_idx[ok], c_idx[ok]] = True
        mask = chosen[l_codes, r_codes]
        return pdf[mask].drop(columns=["_logit"])
    # greedy fallback (scipy absent only): deterministic order, each key used
    # once.  The O(rows) Python scan is bounded by the per-block link count —
    # callers cap block sizes at blocking time (hot_block_threshold), so no
    # single grouped-map batch sees an unbounded row count.
    pdf = pdf.sort_values(["_logit", "_lk", "_rk"],
                          ascending=[False, True, True])
    lks = pdf["_lk"].to_numpy(dtype=object)
    rks = pdf["_rk"].to_numpy(dtype=object)
    used_l: set = set()
    used_r: set = set()
    keep = np.zeros(len(pdf), dtype=bool)
    for i in range(len(pdf)):
        lk, rk = lks[i], rks[i]
        if lk in used_l or rk in used_r:
            continue
        used_l.add(lk)
        used_r.add(rk)
        keep[i] = True
    return pdf[keep].drop(columns=["_logit"])


def one_to_one_assignment(links: DataFrame, block_col: str = "block_id") -> DataFrame:
    """Accept at most one link per left record and per right record within
    each block, maximizing total logit probability (G5)."""
    prepared = links.withColumn(
        "_lk", record_key(f"`{LEFT_DATASET}`", f"`{LEFT_ID}`")
    ).withColumn(
        "_rk", record_key(f"`{RIGHT_DATASET}`", f"`{RIGHT_ID}`")
    ).withColumn("_p", F.col(f"`{PROBABILITY}`"))
    assigned = prepared.groupBy(block_col).applyInPandas(
        lambda pdf: _assign_block(pdf), schema=prepared.schema
    )
    return assigned.select(
        *[F.col(f"`{c}`") for c in PAIR_COLS], F.col(f"`{PROBABILITY}`")
    )

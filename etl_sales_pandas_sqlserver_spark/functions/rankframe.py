"""Bounded distinct-score rank frames: per-group rank arithmetic
without a per-row sort.

Several curation families (band pruning, difficulty deciles,
curriculum stages) are defined on the RANK of each document within
its group under ``(lm_score_ppm, doc_id)`` ascending. The naive plan
is a ``row_number`` window partitioned by the group — which serializes
a skewed giant group into one task (every row of the group through one
sort).

The escape: the LM score is an INTEGER ppm bounded in [0, 10^6]
(each bigram's ``(c12 * 10^6) div c1 <= 10^6`` since ``c12 <= c1``,
and the per-doc score is a mean of those), so the distinct-score
frame ``(group..., lm_score_ppm, cnt)`` has at most 1,000,001 rows
PER GROUP no matter how many documents the group holds. Every
rank-band statistic that does not depend on the ``doc_id`` tiebreak
WITHIN one tied score (band counts, band min/max scores, the stage of
a whole tied group) is computable from this frame exactly:

    hi  = inclusive running count by score   (rank range upper bound)
    lo  = hi - cnt + 1                       (rank range lower bound)
    n   = group total

since a tied-score group always occupies the contiguous rank block
``[lo, hi]`` regardless of tiebreak order.

Scale shape: one map-side-combinable ``groupBy(group..., score)``
(data-sized shuffle carrying int64s), then a window over the
DISTINCT-SCORE frame — ≤ 1e6+1 rows per partition by the score-domain
bound, vs unbounded rows for the naive per-row window. With no group
columns the frame is global and the window single-partition, but
still ≤ 1e6+1 rows — the same bounded-frame class as the |sources|
water-fill windows (functions/budget.py).

The registered oracles stay NAIVE (``ROW_NUMBER`` over every row), so
the driver's hash compare proves this decomposition exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_score_rank_frame(
    scored: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Collapse ``scored`` (one row per document) to its distinct-score
    rank frame: one row per ``(group..., lm_score_ppm)`` carrying
    ``cnt`` (docs at that score), ``lo``/``hi`` (the contiguous rank
    block those docs occupy under ``(lm_score_ppm, doc_id)`` ascending)
    and ``n`` (group size). All int64."""
    cnts = scored.groupBy(*group_cols, "lm_score_ppm").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("lm_score_ppm")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_grp = Window.partitionBy(*group_cols)
    return (
        cnts.withColumn("hi", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_grp))
        .withColumn("lo", F.col("hi") - F.col("cnt") + 1)
    )

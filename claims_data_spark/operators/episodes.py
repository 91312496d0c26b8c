"""Event-episode grouping and global dense event IDs
(SURVEY.md §2.5 W4-W5: Yale ED episode logic,
``load_stage.mcaid_claim_header.R:814-967``).

Visits ≤ ``merge_gap_days`` apart merge into one episode per person
(increment-flag running sum, idiom W4); episodes then get a globally
dense id (the reference's single-partition ``DENSE_RANK() OVER (ORDER
BY id, within_person_stay_id)``, idiom W5). The global id uses the
one-pass range-partitioned ranking in ``dense_id.py`` — never a
one-partition window over the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claims_data_spark.operators.dense_id import dense_global_id


def within_person_episodes(
    df: DataFrame,
    id_cols: list[str],
    date_col: str,
    merge_gap_days: int = 1,
    out_col: str = "within_person_episode_id",
) -> DataFrame:
    """Add a 1-based per-person episode id: a new episode starts when
    the gap from the previous event date exceeds ``merge_gap_days``
    (reference merges ED visits when gap ≤ 1 day,
    ``load_stage.mcaid_claim_header.R:838-843``)."""
    w = Window.partitionBy(*id_cols).orderBy(date_col)
    prev = F.lag(date_col).over(w)
    increment = F.when(
        prev.isNull() | (F.datediff(F.col(date_col), prev) > merge_gap_days),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        out_col,
        F.sum(increment).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def episode_table(
    df: DataFrame,
    id_cols: list[str],
    date_col: str,
    merge_gap_days: int = 1,
    global_id_col: str = "episode_id",
) -> DataFrame:
    """Collapse events to one row per episode with first/last dates,
    event count, and a globally dense ``episode_id`` (the
    ``ed_pophealth_id`` pattern)."""
    eps = within_person_episodes(df, id_cols, date_col, merge_gap_days)
    collapsed = eps.groupBy(*id_cols, "within_person_episode_id").agg(
        F.min(date_col).alias("episode_start"),
        F.max(date_col).alias("episode_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return dense_global_id(
        collapsed,
        order_cols=id_cols + ["within_person_episode_id"],
        out_col=global_id_col,
    )

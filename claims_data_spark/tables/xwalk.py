"""Identity crosswalk + dual-source eligibility reconciliation
(reference: ``load_stage.xwalk_apde_mcaid_mcare_pha.R:1-195`` and
``load_stage.mcaid_mcare_elig_timevar.R``).

The crosswalk links per-source person ids (id_mcaid, id_mcare,
id_apcd) to a unified ``id_apde`` keyed off a master person index,
with DOB decomposition for match confidence (``:75-81``). The dual
timeline merge uses ``resegment_overlaps`` — the boundary-point
method, not the reference's 7-case row replication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claims_data_spark.operators.dense_id import dense_global_id
from claims_data_spark.operators.intervals import resegment_overlaps


def build_xwalk(
    mcaid_persons: DataFrame,
    mcare_persons: DataFrame,
    match_cols: list[str] = ("dob", "name_hash"),
    pha_persons: DataFrame | None = None,
) -> DataFrame:
    """Link Medicaid, Medicare, and (optionally) public-housing person
    tables on the match columns (full outer, so unmatched persons on
    any side keep their own row) and mint a dense ``id_apde``
    (``load_stage.xwalk_apde_mcaid_mcare_pha.R:1-195``).

    Inputs: ``mcaid_persons(id_mcaid, <match_cols>)``,
    ``mcare_persons(id_mcare, <match_cols>)``, optional
    ``pha_persons(id_pha, <match_cols>)``. DOB decomposition (the
    reference matches on year/month/day separately for fuzzy passes)
    is the caller's choice of ``match_cols``.
    """
    joined = mcaid_persons.join(mcare_persons, list(match_cols), "full")
    if pha_persons is not None:
        joined = joined.join(pha_persons, list(match_cols), "full")
    # range-partitioned global dense ranking: an un-partitioned
    # dense_rank funnels the whole person dimension through one task,
    # which at an all-payer 100x person count is the single-task trap
    # SCALE.md documents — dense_global_id ships only per-partition
    # counts to the driver
    id_cols = ["id_mcaid", "id_mcare"] + (
        ["id_pha"] if pha_persons is not None else []
    )
    keyed = joined.withColumn(
        "_k0",
        F.coalesce(*[F.col(c).cast("string") for c in id_cols]),
    )
    return (
        dense_global_id(
            keyed,
            ["_k0", *[str(c) for c in match_cols]],
            out_col="id_apde",
        )
        .select("id_apde", *id_cols, *match_cols)
    )


def build_dual_elig_timevar(
    mcaid_timevar: DataFrame,
    mcare_timevar: DataFrame,
    xwalk: DataFrame,
) -> DataFrame:
    """Reconcile Medicaid and Medicare interval sets onto the unified
    id: disjoint segments tagged ``mcaid``/``mcare``/``dual``
    (``load_stage.mcaid_mcare_elig_timevar.R:103-239``; W10).

    The reference enumerates 7 overlap cases with up to 3× row
    replication and benchmarks the interval-permutation method at 39 s
    vs ~12 min for per-day explosion; the boundary-point resegmentation
    here is case-free and one window pass per side.
    """
    a = mcaid_timevar.join(
        xwalk.select("id_mcaid", "id_apde"), "id_mcaid"
    ).select("id_apde", "from_date", "to_date")
    b = mcare_timevar.join(
        xwalk.select("id_mcare", "id_apde"), "id_mcare"
    ).select("id_apde", "from_date", "to_date")
    seg = resegment_overlaps(
        a, b, "id_apde", "from_date", "to_date", "mcaid", "mcare"
    )
    return seg.withColumn(
        "dual", (F.col("mcaid") & F.col("mcare")).cast("int")
    ).withColumn(
        "cov_time_day", F.datediff("to_date", "from_date") + F.lit(1)
    )

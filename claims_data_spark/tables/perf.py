"""Performance-measure layer (reference:
``create_stage.sp_mcaid_perf_enroll_denom.sql``,
``create_stage.sp_perf_measures.sql`` — stored-proc batches over a
dense member-month grid with rolling 12/24-month frames).

Measures are registered as (numerator-builder, denominator rule)
pairs; the engine densifies once and runs every measure's frames over
the same id-partitioned window pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claims_data_spark.operators.rolling import densify_months, rolling_month_agg


def build_enroll_denom(
    elig_month: DataFrame,
    ym_min: int,
    ym_max: int,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Dense member-month enrollment with the reference's rolling
    frames (``sp_mcaid_perf_enroll_denom.sql:53-80``):
    enrolled_any_t_12_m (11 preceding..current), prior-year
    (23..12 preceding), and lookahead (current..1 following)."""
    monthly = elig_month.groupBy(id_col, "year_month").agg(
        F.max("enrolled_any").alias("enrolled_any"),
        F.sum("cov_days").alias("cov_days"),
    )
    dense = densify_months(
        monthly, [id_col], "year_month", ym_min, ym_max,
        fill={"enrolled_any": 0, "cov_days": 0},
    )
    return rolling_month_agg(
        dense,
        [id_col],
        "year_month",
        {
            "enrolled_any_t_12_m": ("enrolled_any", -11, 0),
            "enrolled_prior_t_12_m": ("enrolled_any", -23, -12),
            "enrolled_ahead_2_m": ("enrolled_any", 0, 1),
        },
    )


def follow_up_after_ed(
    header: DataFrame,
    follow_up_days: int = 30,
    id_col: str = "id_mcaid",
    include_same_day: bool = True,
) -> DataFrame:
    """FUA/FUM-style measure component (reference:
    ``fn_perf_fua_ed_index_visit.sql`` + ``fn_perf_fum_follow_up_visit.sql``):
    for each index ED episode, did a qualifying follow-up visit occur
    within N days after discharge?

    Index events = one row per ``ed_pophealth_id`` (episode end date);
    follow-ups = non-ED primary-care/telehealth visits. The match is a
    forward as-of join per person — one shuffle on the id, no range
    join (``operators/asof.asof_join`` direction='forward').

    Same-day semantics are measure-specific: FUA/FUM count a
    follow-up ON the index date (``sp_perf_fua_join_step.sql:106`` —
    BETWEEN last_service_date AND +N), the default here; FUH starts
    the day after discharge — pass ``include_same_day=False`` for
    that convention (or use ``fuh_measure`` for the full FUH rules).
    """
    from claims_data_spark.operators.asof import asof_join

    index_visits = (
        header.filter(F.col("ed_pophealth_id").isNotNull())
        .groupBy(id_col, "ed_pophealth_id")
        .agg(F.max("first_service_date").alias("index_date"))
    )
    if not include_same_day:
        index_visits = index_visits.withColumn(
            "_probe_date", F.date_add("index_date", 1)
        )
    # telehealth_flag only exists when claim_header was built with the
    # telehealth ref; the measure degrades to pc visits without it
    qualifies = F.col("pc_visit_flag") == 1
    if "telehealth_flag" in header.columns:
        qualifies = qualifies | (F.col("telehealth_flag") == 1)
    follow_ups = header.filter((F.col("ed_flag") == 0) & qualifies).select(
        id_col,
        F.col("first_service_date").alias("fu_date"),
    )
    matched = asof_join(
        index_visits,
        follow_ups,
        [id_col],
        left_ts="index_date" if include_same_day else "_probe_date",
        right_ts="fu_date",
        right_payload=["fu_date"],
        direction="forward",
    )
    if not include_same_day:
        matched = matched.drop("_probe_date")
    # forward as-of guarantees fu_date >= index_date when matched, and
    # a null fu_date null-propagates through datediff into otherwise(0)
    return matched.select(
        id_col,
        "ed_pophealth_id",
        "index_date",
        F.when(F.datediff("fu_date", "index_date") <= follow_up_days, 1)
        .otherwise(0)
        .alias("followed_up"),
        "fu_date",
    )


def build_measure(
    denom: DataFrame,
    events: DataFrame,
    measure_name: str,
    end_month: int,
    months_enrolled_min: int = 11,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """One measure batch (the ``@measure_name/@end_month_int`` stored
    procedure contract, ``sp_perf_measures.sql:44-58``): members
    continuously enrolled per the rolling denominator at ``end_month``,
    numerator = any qualifying event in the 12-month window. The
    delete-then-recompute refresh becomes "recompute this
    (measure, end_month) slice" — idempotent by construction."""
    eligible = denom.filter(
        (F.col("year_month") == end_month)
        & (F.col("enrolled_any_t_12_m") >= months_enrolled_min)
    ).select(id_col)
    start_month = end_month - 100  # same month, prior year (yyyymm)
    window_events = events.filter(
        (F.col("year_month") > start_month) & (F.col("year_month") <= end_month)
    )
    numer = window_events.join(eligible, id_col, "left_semi").select(id_col).distinct()
    return eligible.join(
        numer.withColumn("numerator", F.lit(1)), id_col, "left"
    ).select(
        F.lit(measure_name).alias("measure_name"),
        F.lit(end_month).alias("end_year_month"),
        id_col,
        F.coalesce("numerator", F.lit(0)).alias("numerator"),
        F.lit(1).alias("denominator"),
    )


# ---------------------------------------------------------------------------
# HEDIS follow-up measures: FUA / FUM / FUH
# (create_stage.sp_perf_fua_join_step.sql, sp_perf_fum_join_step.sql,
#  sp_perf_fuh_join_step.sql + fn_perf_fua_ed_index_visit_exclusion.sql)
# ---------------------------------------------------------------------------

def thin_events_greedy(
    events: DataFrame,
    id_cols: list[str],
    date_col: str,
    min_gap_days: int = 31,
) -> DataFrame:
    """Keep only events >= ``min_gap_days`` after the LAST KEPT event
    per person — HEDIS's "if a member has more than one ED visit in a
    31-day period, include only the first eligible ED visit".

    The kept-set is defined recursively (each decision depends on the
    previous KEPT date, not the previous row), which no fixed stack of
    window functions can express — the reference runs a WHILE loop
    re-windowing until fixpoint
    (``fn_perf_fua_ed_index_visit_exclusion.sql:90-180``). Here it is
    one Arrow-batched ``applyInPandas`` scan per person: a single
    shuffle on the id, linear work per group, bounded memory (a
    person's event count), no driver-side iteration.
    """
    import pandas as pd

    out_schema = events.schema

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(date_col, kind="mergesort")
        keep_idx, last_kept = [], None
        for i, d in zip(pdf.index, pdf[date_col]):
            if last_kept is None or (d - last_kept).days >= min_gap_days:
                keep_idx.append(i)
                last_kept = d
        return pdf.loc[keep_idx]

    return events.groupBy(*id_cols).applyInPandas(scan, schema=out_schema)


def _flag_within(
    index_df: DataFrame,
    events: DataFrame,
    id_col: str,
    probe_date,
    event_date: str,
    max_days: int,
    flag_col: str,
    payload_extra: list[str] | None = None,
) -> DataFrame:
    """Forward as-of: earliest event with date >= probe; flag when it
    falls within ``max_days`` days of the probe. One shuffle + one
    window per call (never a range join)."""
    from claims_data_spark.operators.asof import asof_join

    probed = index_df.withColumn("_probe", probe_date)
    matched = asof_join(
        probed,
        events.select(id_col, F.col(event_date).alias("_evt_date")),
        [id_col],
        left_ts="_probe",
        right_ts="_evt_date",
        right_payload=["_evt_date"],
        direction="forward",
    )
    return matched.withColumn(
        flag_col,
        F.when(F.datediff("_evt_date", "_probe") <= max_days, 1).otherwise(0),
    ).withColumn(
        flag_col, F.coalesce(F.col(flag_col), F.lit(0))
    ).drop("_probe", "_evt_date")


def _flags_within_multi(
    index_df: DataFrame,
    id_col: str,
    probe_col: str,
    event_streams: list[DataFrame],
    flag_specs: list[tuple[str, int, str]],
) -> DataFrame:
    """Fused forward as-of over several event streams: ONE union +
    ONE id-partitioned window computes every (stream, horizon) flag.

    Each stream carries ``[id_col, "_ts", payload date column(s)]``.
    Every payload must be a copy of its stream's ``_ts``, possibly
    NULL-masked to encode a stream subset (e.g. FUH's
    only_30_day_fu='N' 7-day channel): payloads are carried
    independently, so a payload that differed from ``_ts`` could come
    from a row other than the as-of match. Payload names must be
    unique across streams (a collision raises ``ValueError``: the
    union would merge two streams into one carry);
    ``flag_specs`` = (payload_col, max_days, flag_col) and appends
    the flags in order. Per-flag semantics are exactly
    ``_flag_within``'s — earliest event with date >= the row's probe,
    flagged when within ``max_days`` — and the flags are row-local,
    so fusing the passes cannot change any value; it deletes one
    fact-grain exchange + sort per extra pass (guide §2.4: window
    functions keyed the same way share one shuffle)."""
    payload_cols: list[str] = []
    for s in event_streams:
        payload_cols += [c for c in s.columns if c not in (id_col, "_ts")]
    dupes = sorted({c for c in payload_cols if payload_cols.count(c) > 1})
    if dupes:
        raise ValueError(f"payload columns repeated across streams: {dupes}")
    l_tag = index_df.select(
        F.col(id_col),
        F.col(probe_col).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in index_df.columns]).alias("_lrow"),
    )
    unioned = l_tag
    for s in event_streams:
        unioned = unioned.unionByName(
            s.withColumn("_is_left", F.lit(0)), allowMissingColumns=True
        )
    # forward as-of frame: order ts DESC so the running last() is the
    # SMALLEST event date >= the probe; events sort before left rows
    # at equal ts so same-day events are included (asof_join's rule)
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("_ts").desc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"_c_{c}")
            for c in payload_cols
        ],
    ).filter(F.col("_is_left") == 1)
    probe = F.col(f"_lrow.{probe_col}")
    flags = [
        F.coalesce(
            F.when(F.datediff(F.col(f"_c_{p}"), probe) <= d, 1).otherwise(0),
            F.lit(0),
        ).alias(name)
        for p, d, name in flag_specs
    ]
    # id from the top level (keeps the exchange's partitioning visible
    # downstream, same as asof_join), the rest from the left struct
    return carried.select(
        *[
            F.col(c) if c == id_col else F.col(f"_lrow.{c}").alias(c)
            for c in index_df.columns
        ],
        *flags,
    )


def ed_followup_measure(
    ed_visits: DataFrame,
    inpatient_events: DataFrame,
    follow_ups: DataFrame,
    measurement_start: str,
    measurement_end: str,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """FUA / FUM join step (the two sprocs differ only in which dx
    value set selected ``ed_visits`` and which practitioner set feeds
    ``follow_ups``; the join shape is identical).

    - index visits: measurement-window ED visits thinned to the first
      eligible per 31-day period, excluding visits with an inpatient
      admission ON the visit date or within 30 days after
    - follow-up windows are SAME-DAY INCLUSIVE: service_date BETWEEN
      last_service_date AND +7 / +30 days
      (``sp_perf_fua_join_step.sql:106-109`` — unlike FUH, which
      starts at discharge + 1)

    Inputs: ed_visits(id, claim_header_id, first_service_date,
    last_service_date), inpatient_events(id, first_service_date),
    follow_ups(id, service_date).
    """
    idx = ed_visits.filter(
        F.col("first_service_date").between(measurement_start, measurement_end)
    )
    idx = thin_events_greedy(idx, [id_col], "first_service_date", 31)
    # all three forward flags probe the SAME date, so they fuse into
    # one union + one id window (round 11, guide §2.4) — one fact
    # exchange instead of three; the exclusion filter moves after the
    # fused pass, which cannot change values (flags are row-local)
    fu = follow_ups.filter(
        F.col("service_date").between(measurement_start, measurement_end)
    )
    idx = _flags_within_multi(
        idx,
        id_col,
        "last_service_date",
        [
            inpatient_events.select(
                id_col,
                F.col("first_service_date").alias("_ts"),
                F.col("first_service_date").alias("_evt_ipt"),
            ),
            fu.select(
                id_col,
                F.col("service_date").alias("_ts"),
                F.col("service_date").alias("_evt_fu"),
            ),
        ],
        [
            ("_evt_ipt", 30, "inpatient_within_30_day"),
            ("_evt_fu", 7, "follow_up_7_day"),
            ("_evt_fu", 30, "follow_up_30_day"),
        ],
    ).filter(F.col("inpatient_within_30_day") == 0)
    return idx.withColumn(
        "need_1_month_coverage",
        (
            (F.dayofmonth("last_service_date") == 1)
            & F.month("last_service_date").isin(1, 3, 5, 7, 8, 10, 12)
        ).cast("int"),
    )


def fuh_measure(
    index_stays: DataFrame,
    mh_discharges: DataFrame,
    readmits: DataFrame,
    follow_ups: DataFrame,
    measurement_start: str,
    measurement_end: str,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """FUH join step (``sp_perf_fuh_join_step.sql:25-215``).

    1. Roll-forward: an index discharge followed by a Mental Health
       Diagnosis acute readmission within (d+1, d+30) takes the LAST
       such discharge's claim details (backward as-of probed at d+30),
       then collapses duplicates.
    2. Exclusion: any ``readmits`` admission within (d+1, d+30) —
       nonacute any-dx or acute non-MH-dx — drops the stay.
    3. Follow-ups start the DAY AFTER discharge (d+1..d+7 / d+1..d+30;
       FUH never counts same-day). TCM visits (only_30_day_fu='Y')
       count only toward the 30-day flag.

    Inputs: index_stays(id, claim_header_id, admit_date,
    discharge_date), mh_discharges(same), readmits(id, admit_date),
    follow_ups(id, service_date, only_30_day_fu).
    """
    from claims_data_spark.operators.asof import asof_join

    idx = index_stays.filter(
        F.col("discharge_date").between(measurement_start, measurement_end)
    )
    mh = mh_discharges.filter(
        F.col("discharge_date").between(measurement_start, measurement_end)
    ).select(
        id_col,
        F.col("claim_header_id").alias("_b_claim"),
        F.col("admit_date").alias("_b_admit"),
        F.col("discharge_date").alias("_b_discharge"),
    )
    probed = idx.withColumn("_probe", F.date_add("discharge_date", 30))
    rolled = asof_join(
        probed,
        mh,
        [id_col],
        left_ts="_probe",
        right_ts="_b_discharge",
        right_payload=["_b_claim", "_b_admit", "_b_discharge"],
        direction="backward",
    )
    take_b = F.col("_b_discharge") > F.col("discharge_date")
    rolled = rolled.select(
        F.col(id_col),
        F.when(take_b, F.col("_b_claim")).otherwise(F.col("claim_header_id")).alias(
            "claim_header_id"
        ),
        F.when(take_b, F.col("_b_admit")).otherwise(F.col("admit_date")).alias(
            "admit_date"
        ),
        F.when(take_b, F.col("_b_discharge")).otherwise(
            F.col("discharge_date")
        ).alias("discharge_date"),
    ).distinct()

    # readmission/transfer exclusion + the two follow-up flags all
    # probe discharge+1, so they fuse into one union + one id window
    # (round 11, guide §2.4) — one fact exchange instead of three.
    # The TCM rule (only_30_day_fu='Y' counts only toward the 30-day
    # flag) is a conditionally-NULL payload channel on the same fu
    # rows; the exclusion filter moves after the fused pass, which
    # cannot change values (flags are row-local).
    fu = follow_ups.filter(
        F.col("service_date").between(measurement_start, measurement_end)
    )
    rolled = _flags_within_multi(
        rolled.withColumn("_day1", F.date_add("discharge_date", 1)),
        id_col,
        "_day1",
        [
            readmits.select(
                id_col,
                F.col("admit_date").alias("_ts"),
                F.col("admit_date").alias("_evt_re"),
            ),
            fu.select(
                id_col,
                F.col("service_date").alias("_ts"),
                F.when(
                    F.col("only_30_day_fu") == "N", F.col("service_date")
                ).alias("_evt_fu7"),
                F.col("service_date").alias("_evt_fu30"),
            ),
        ],
        [
            # (d+1) .. (d+30) == probe .. probe+29
            ("_evt_re", 29, "inpatient_within_30_day"),
            ("_evt_fu7", 6, "follow_up_7_day"),
            ("_evt_fu30", 29, "follow_up_30_day"),
        ],
    ).filter(F.col("inpatient_within_30_day") == 0)
    return rolled.drop("_day1").withColumn(
        "need_1_month_coverage",
        (
            (F.dayofmonth("discharge_date") == 1)
            & F.month("discharge_date").isin(1, 3, 5, 7, 8, 10, 12)
        ).cast("int"),
    )


# ---------------------------------------------------------------------------
# PCR: plan all-cause readmissions
# (create_stage.v_perf_pcr_inpatient_direct_transfer.sql,
#  create_stage.sp_perf_pcr_join_step.sql)
# ---------------------------------------------------------------------------

def acute_inpatient_episodes(
    stays: DataFrame, id_col: str = "id_mcaid"
) -> DataFrame:
    """Connect acute inpatient claims within 1 day of each other into
    direct-transfer episodes
    (``v_perf_pcr_inpatient_direct_transfer.sql:118-194``).

    Input: one row per acute inpatient claim with columns
    ``(id, claim_header_id, first_service_date, last_service_date,
    patient_status)`` — the HEDIS "Inpatient Stay EXCEPT Nonacute
    Inpatient Stay" selection is the caller's (see
    ``rda_value_set_claims`` / the HEDIS helpers in claim_header).

    Output adds: ``date_diff`` (days since the prior claim's last
    service date), ``increment``, ``episode_id`` (running sum of
    increments), ``episode_first/last_service_date`` (FIRST/LAST value
    in claim order — NOT min/max: an early long claim may end after
    the episode's last claim, and the reference takes the last claim's
    date), ``count_stays``, ``stay_id``, ``death_during_stay``
    (patient_status '20' anywhere in the episode).

    One shuffle on the person id; every window reuses it.
    """
    w = Window.partitionBy(id_col).orderBy(
        "first_service_date", "last_service_date", "claim_header_id"
    )
    lag_last = F.lag("last_service_date").over(w)
    df = (
        stays.withColumn(
            "date_diff", F.datediff("first_service_date", lag_last)
        )
        .withColumn(
            "increment",
            F.when(lag_last.isNull(), 0)
            .when(F.col("date_diff") <= 1, 0)
            .otherwise(1),
        )
        .withColumn(
            "episode_id",
            F.sum("increment").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            + 1,
        )
    )
    we = Window.partitionBy(id_col, "episode_id")
    we_ord = we.orderBy(
        "first_service_date", "last_service_date", "claim_header_id"
    )
    we_full = we_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return df.select(
        id_col,
        "claim_header_id",
        F.col("first_service_date").alias("claim_first_service_date"),
        F.col("last_service_date").alias("claim_last_service_date"),
        "patient_status",
        "date_diff",
        "increment",
        "episode_id",
        F.first("first_service_date").over(we_full).alias(
            "episode_first_service_date"
        ),
        F.last("last_service_date").over(we_full).alias(
            "episode_last_service_date"
        ),
        F.count(F.lit(1)).over(we).alias("count_stays"),
        F.row_number().over(we_ord).alias("stay_id"),
        F.max((F.col("patient_status") == "20").cast("int"))
        .over(we)
        .alias("death_during_stay"),
    )


def pcr_readmission(
    episodes: DataFrame,
    pregnancy_exclusion: DataFrame,
    planned_exclusion: DataFrame,
    id_col: str = "id_mcaid",
    readmission_days: int = 30,
) -> DataFrame:
    """PCR join step (``sp_perf_pcr_join_step.sql:20-143``).

    Index stays = first stay of each episode, excluding: death during
    the stay, same-day admit/discharge, pregnancy/perinatal stays
    (flag aggregated over the WHOLE episode, including transfer legs),
    or a planned first-readmission. ``planned_exclusion`` is read from
    the stay_id=1 claim only (the reference's ``AND a.[stay_id] = 1``
    join condition).

    Readmission = the FIRST index stay whose episode start falls in
    (discharge+1 .. discharge+30) — a forward as-of join per person
    probed at discharge+1 (one shuffle, no range join), with matches
    beyond the window nulled to mirror the reference's bounded LEFT
    JOIN. If that first readmission is planned, the index stay is
    dropped entirely (HEDIS step 5/6).

    Exclusion-flag inputs: ``(claim_header_id, flag)``.
    """
    from claims_data_spark.operators.asof import asof_join

    preg = pregnancy_exclusion.select(
        "claim_header_id", F.col("flag").alias("_preg_flag")
    )
    plan = planned_exclusion.select(
        "claim_header_id", F.col("flag").alias("_plan_flag")
    )
    we = Window.partitionBy(id_col, "episode_id")
    e = (
        episodes.join(F.broadcast(preg), "claim_header_id", "left")
        .join(F.broadcast(plan), "claim_header_id", "left")
        .withColumn(
            "pregnancy_exclusion",
            F.coalesce(F.max("_preg_flag").over(we), F.lit(0)),
        )
        .withColumn(
            "planned_exclusion",
            F.coalesce(
                F.when(F.col("stay_id") == 1, F.col("_plan_flag")), F.lit(0)
            ),
        )
    )
    idx = e.filter(
        (F.col("stay_id") == 1)
        & (F.col("death_during_stay") == 0)
        & (
            F.col("episode_first_service_date")
            != F.col("episode_last_service_date")
        )
        & (F.col("pregnancy_exclusion") == 0)
    ).select(
        id_col,
        "episode_id",
        "episode_first_service_date",
        "episode_last_service_date",
        "planned_exclusion",
    )
    candidates = idx.select(
        id_col,
        F.col("episode_first_service_date").alias(
            "readmission_first_service_date"
        ),
        F.col("episode_last_service_date").alias(
            "readmission_last_service_date"
        ),
        F.col("planned_exclusion").alias("planned_readmission"),
    )
    probed = idx.withColumn(
        "_probe", F.date_add("episode_last_service_date", 1)
    )
    m = asof_join(
        probed,
        candidates,
        [id_col],
        left_ts="_probe",
        right_ts="readmission_first_service_date",
        right_payload=[
            "readmission_first_service_date",
            "readmission_last_service_date",
            "planned_readmission",
        ],
        direction="forward",
    )
    within = F.datediff(
        "readmission_first_service_date", "episode_last_service_date"
    ) <= readmission_days
    m = m.select(
        (
            F.year("episode_first_service_date") * 100
            + F.month("episode_first_service_date")
        ).alias("year_month"),
        id_col,
        "episode_id",
        "episode_first_service_date",
        "episode_last_service_date",
        F.lit(1).alias("inpatient_index_stay"),
        F.when(within, F.col("readmission_first_service_date")).alias(
            "readmission_first_service_date"
        ),
        F.when(within, F.col("readmission_last_service_date")).alias(
            "readmission_last_service_date"
        ),
        F.coalesce(within.cast("int"), F.lit(0)).alias("readmission_flag"),
        F.when(
            within,
            F.datediff(
                "readmission_first_service_date", "episode_last_service_date"
            ),
        ).alias("date_diff"),
        F.when(within, F.col("planned_readmission")).alias(
            "planned_readmission"
        ),
    )
    return m.filter(
        F.col("planned_readmission").isNull()
        | (F.col("planned_readmission") == 0)
    )


# ---------------------------------------------------------------------------
# RDA treatment-penetration measures: TPM / TPO / TPS
# (create_stage.v_perf_tpm_numerator.sql, v_perf_tpm_denominator.sql,
#  v_perf_tpo_*.sql, v_perf_tps_*.sql)
# ---------------------------------------------------------------------------

def rda_value_set_claims(
    domains: dict[str, DataFrame],
    rda: DataFrame,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Match claim-domain tables against the small ``rda_value_set``
    reference once per domain, returning long
    ``(id, claim_header_id, first_service_date, value_set_name,
    code_set, primary_dx)`` rows.

    ``domains`` maps a code column name — ``icdcm_norm`` (needs
    ``icdcm_version``/``icdcm_number`` columns), ``procedure_code``,
    ``ndc``, ``drg_code`` — to its claim table. ``rda`` carries
    ``(value_set_group, value_set_name, code_set, code)``.

    Scale shape: each BIG domain table is scanned ONCE and
    broadcast-joined against the (small) code list — never one join
    per (value set × code set) rule as in the reference's 6-way UNION
    views (``v_perf_tpm_numerator.sql:48-135``). Downstream rule
    algebra (union / intersect / primary-dx restriction) runs on the
    matched subset, which is claims × matching-codes only.
    """
    code_set_for = {
        "icdcm_norm": {9: "ICD9CM", 10: "ICD10CM"},
        "procedure_code": None,  # CPT / HCPCS / ICD9PCS / ICD10PCS
        "ndc": "NDC",
        "drg_code": ("DRG", "MSDRG"),  # RDA uses DRG, HEDIS uses MSDRG
        "rev_code": "UBREV",
    }
    outs = []
    for code_col, df in domains.items():
        if code_col == "icdcm_norm":
            r = rda.filter(F.col("code_set").isin("ICD9CM", "ICD10CM"))
            cond = (F.col("icdcm_norm") == F.col("code")) & (
                (
                    (F.col("icdcm_version") == 9)
                    & (F.col("code_set") == "ICD9CM")
                )
                | (
                    (F.col("icdcm_version") == 10)
                    & (F.col("code_set") == "ICD10CM")
                )
            )
            matched = df.join(F.broadcast(r), cond).select(
                id_col,
                "claim_header_id",
                "first_service_date",
                "value_set_name",
                "code_set",
                (F.col("icdcm_number") == "01").cast("int").alias("primary_dx"),
            )
        else:
            fixed = code_set_for[code_col]
            if fixed is None:
                r = rda.filter(
                    F.col("code_set").isin(
                        "CPT", "HCPCS", "ICD9PCS", "ICD10PCS"
                    )
                )
            elif isinstance(fixed, tuple):
                r = rda.filter(F.col("code_set").isin(*fixed))
            else:
                r = rda.filter(F.col("code_set") == fixed)
            matched = df.join(
                F.broadcast(r), F.col(code_col) == F.col("code")
            ).select(
                id_col,
                "claim_header_id",
                "first_service_date",
                "value_set_name",
                "code_set",
                F.lit(None).cast("int").alias("primary_dx"),
            )
        outs.append(matched)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def tx_pen_claim_sets(
    matched: DataFrame,
    numerator_sets: list[str],
    denominator_sets: list[str],
    proc_with_dx_set: str | None = None,
    dx_set: str | None = None,
    id_col: str = "id_mcaid",
) -> tuple[DataFrame, DataFrame]:
    """(numerator_claims, denominator_claims) from the long match
    table, as distinct ``(id, claim_header_id, first_service_date)``.

    - numerator: any match in ``numerator_sets``; plus, when
      ``proc_with_dx_set`` is given (TPM's
      MH-procedure-with-Dx-value-set,
      ``v_perf_tpm_numerator.sql:75-135``), claims that match it AND
      carry a PRIMARY diagnosis in ``dx_set``.
    - denominator: the numerator UNION any match in
      ``denominator_sets`` (any-position dx).
    """
    key = [id_col, "claim_header_id", "first_service_date"]
    # One aggregation computes every set-membership flag per claim;
    # num/den are filters over the SAME agg subtree, so in any action
    # that consumes both, Spark's ReuseExchange computes the upstream
    # match union once (the earlier union/intersect/distinct chain
    # re-scanned ``matched`` once per set — 4 scans of the biggest
    # join in the measure).
    flag_proc = (
        F.lit(False)
        if proc_with_dx_set is None
        else (F.col("value_set_name") == proc_with_dx_set)
    )
    flag_prim = (
        F.lit(False)
        if dx_set is None
        else ((F.col("value_set_name") == dx_set) & (F.col("primary_dx") == 1))
    )
    flags = matched.groupBy(*key).agg(
        F.max(F.col("value_set_name").isin(numerator_sets)).alias("_num_any"),
        F.max(flag_proc).alias("_proc"),
        F.max(flag_prim).alias("_prim_dx"),
        F.max(F.col("value_set_name").isin(denominator_sets)).alias("_den_any"),
    )
    is_num = F.col("_num_any") | (F.col("_proc") & F.col("_prim_dx"))
    num = flags.filter(is_num).select(*key)
    den = flags.filter(is_num | F.col("_den_any")).select(*key)
    return num, den


def tx_pen_measure(
    num_claims: DataFrame,
    den_claims: DataFrame,
    elig_demo: DataFrame,
    measurement_year: int,
    min_age: int = 6,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Person-level treatment-penetration rate for one measurement
    year (``sp_perf_measures.sql`` TPM batch semantics): denominator =
    members aged ``min_age``+ on Dec 31 with a qualifying need claim
    in the 24-month identification window (measurement year + prior
    year); numerator = a qualifying treatment claim within the
    measurement year. ``elig_demo`` supplies ``(id, dob)``."""
    y0 = f"{measurement_year - 1}-01-01"
    y_start = f"{measurement_year}-01-01"
    y_end = f"{measurement_year}-12-31"
    den_people = (
        den_claims.filter(F.col("first_service_date").between(y0, y_end))
        .select(id_col)
        .distinct()
    )
    num_people = (
        num_claims.filter(
            F.col("first_service_date").between(y_start, y_end)
        )
        .select(id_col)
        .distinct()
        .withColumn("numerator", F.lit(1))
    )
    asof = F.lit(y_end).cast("date")
    aged = elig_demo.select(
        id_col,
        (
            F.year(asof)
            - F.year("dob")
            - F.when(
                F.add_months(
                    "dob", (F.year(asof) - F.year("dob")) * 12
                )
                > asof,
                1,
            ).otherwise(0)
        ).alias("age"),
    ).filter(F.col("age") >= min_age)
    return (
        den_people.join(aged, id_col)
        .join(num_people, id_col, "left")
        .select(
            F.lit(measurement_year).alias("measurement_year"),
            id_col,
            "age",
            F.coalesce("numerator", F.lit(0)).alias("numerator"),
            F.lit(1).alias("denominator"),
        )
    )


# ---------------------------------------------------------------------------
# AH: acute hospital utilization
# (create_stage.v_perf_ah_inpatient_direct_transfer.sql,
#  v_perf_ah_observation_stay.sql, v_perf_ah_inpatient_numerator.sql,
#  v_perf_ah_medicine_surgery.sql, v_perf_ah_inpatient_exclusion.sql)
# ---------------------------------------------------------------------------

def ah_observation_stays(
    obs_claims: DataFrame,
    inpatient_claims: DataFrame,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Observation stays that did NOT become inpatient stays
    (``v_perf_ah_observation_stay.sql``): drop an observation claim
    when (a) the same claim_header_id is also an inpatient claim, or
    (b) the person has an inpatient admission on the observation's
    last service date or the day after (HEDIS "observation resulting
    in an acute inpatient stay").

    (b) is a forward as-of probe per person (earliest inpatient
    admission >= obs last date, flag datediff <= 1) — one shuffle, no
    range join. (a) is a broadcast-able anti join on the claim id.
    """
    probed = _flag_within(
        obs_claims,
        inpatient_claims.select(
            id_col, F.col("first_service_date").alias("_ipt_admit")
        ),
        id_col,
        F.col("last_service_date"),
        "_ipt_admit",
        1,
        "_became_inpatient",
    ).filter(F.col("_became_inpatient") == 0).drop("_became_inpatient")
    return probed.join(
        inpatient_claims.select("claim_header_id"),
        "claim_header_id",
        "left_anti",
    )


def ah_discharges(
    episodes: DataFrame,
    observation_stays: DataFrame,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """AH numerator discharge set
    (``v_perf_ah_inpatient_numerator.sql``): index acute-inpatient
    episodes (first stay of each episode, no in-hospital death) UNION
    surviving observation stays, tagged by ``observation_stay``."""
    idx = episodes.filter(
        (F.col("stay_id") == 1) & (F.col("death_during_stay") == 0)
    ).select(
        id_col,
        "claim_header_id",
        F.col("episode_first_service_date").alias("first_service_date"),
        F.col("episode_last_service_date").alias("last_service_date"),
        F.lit(0).alias("observation_stay"),
    )
    obs = observation_stays.filter(
        F.coalesce(F.col("patient_status") != "20", F.lit(True))
    ).select(
        id_col,
        "claim_header_id",
        "first_service_date",
        "last_service_date",
        F.lit(1).alias("observation_stay"),
    )
    return idx.unionByName(obs).distinct()


def ah_classify_discharges(
    discharges: DataFrame,
    matched: DataFrame,
    medicine_sets: list[str],
    surgery_sets: list[str],
    exclusion_sets: list[str],
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Attach medicine / surgery / exclusion flags to each discharge
    from the long value-set match table
    (``v_perf_ah_medicine_surgery.sql`` +
    ``v_perf_ah_inpatient_exclusion.sql``): per-claim MAX of each
    set-membership, one aggregate over the (small) matched subset,
    broadcast back onto the discharge set. Excluded discharges
    (maternity / newborn / IPU-exclusion DRGs or dx) are dropped;
    ``medicine_surgery`` is 'surgery' when any surgery set matches,
    else 'medicine' when matched, else 'unclassified'."""
    flags = matched.groupBy("claim_header_id").agg(
        F.max(
            F.col("value_set_name").isin(medicine_sets).cast("int")
        ).alias("_medicine"),
        F.max(
            F.col("value_set_name").isin(surgery_sets).cast("int")
        ).alias("_surgery"),
        F.max(
            F.col("value_set_name").isin(exclusion_sets).cast("int")
        ).alias("_excluded"),
    )
    out = discharges.join(flags, "claim_header_id", "left").filter(
        F.coalesce(F.col("_excluded"), F.lit(0)) == 0
    )
    return out.select(
        *discharges.columns,
        F.when(F.col("_surgery") == 1, "surgery")
        .when(F.col("_medicine") == 1, "medicine")
        .otherwise("unclassified")
        .alias("medicine_surgery"),
    )


def mh_aod_ed_flags(
    header: DataFrame,
    dx_value_sets: DataFrame,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """ED-episode behavioral-health flags
    (``create_stage.v_mcaid_mh_aod_ed.sql``): for each ED episode
    (``ed_pophealth_id``), pivot MAX(flag) of primary-diagnosis
    membership in the 'Mental Illness' and 'AOD Abuse and Dependence'
    HEDIS sets into ``mental_illness`` / ``aod_abuse_dependence``
    columns.

    ``dx_value_sets``: (value_set_name, code) for ICD-10 primary-dx
    codes. The pivot is a conditional aggregation over the
    (episode × value-set) matches — one broadcast join + one groupBy
    on the episode id, no PIVOT-operator shuffle beyond the single
    aggregate exchange.
    """
    matches = (
        header.filter(F.col("ed_pophealth_id").isNotNull())
        .filter(F.col("icdcm_version") == 10)
        .join(
            F.broadcast(
                dx_value_sets.select(
                    "value_set_name",
                    F.col("code").alias("primary_diagnosis"),
                )
            ),
            "primary_diagnosis",
        )
    )
    return matches.groupBy(id_col, "ed_pophealth_id").agg(
        F.max(
            (F.col("value_set_name") == "Mental Illness").cast("int")
        ).alias("mental_illness"),
        F.max(
            (F.col("value_set_name") == "AOD Abuse and Dependence").cast(
                "int"
            )
        ).alias("aod_abuse_dependence"),
    )


# ---------------------------------------------------------------------------
# ED visit numerator view (create_stage.v_perf_ed_visit_num.sql):
# claim-type-gated ED visits via POS 23, ED revenue codes, or ED CPT.
# ---------------------------------------------------------------------------

ED_VISIT_CLAIM_TYPES = ("3", "26", "34")
ED_VISIT_REV_CODES = ("0450", "0451", "0452", "0456", "0459")
ED_VISIT_PX_CODES = ("99281", "99282", "99283", "99284", "99285", "99288")


def ed_visit_num(
    header: DataFrame,
    line: DataFrame | None = None,
    procedure: DataFrame | None = None,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """All-ED-visit numerator rows, one per qualifying claim
    (``v_perf_ed_visit_num.sql``): professional/outpatient claim types
    with POS 23 on the header, an ED revenue code on any line, or an
    ED E&M procedure code. The three branches UNION-distinct on the
    claim grain; line/procedure gates are semi joins so the header is
    scanned once per branch with no fan-out.
    """
    base = header.filter(
        F.col("clm_type_mcaid_id").cast("string").isin(*ED_VISIT_CLAIM_TYPES)
    )
    sel = [
        (F.year("first_service_date") * 100
         + F.month("first_service_date")).cast("int").alias("year_month"),
        id_col, "claim_header_id", "first_service_date",
        "last_service_date",
        F.lit(1).alias("ed_visit_num"),
    ]
    parts = []
    if "place_of_service_code" in header.columns:
        parts.append(
            base.filter(F.col("place_of_service_code") == "23").select(*sel)
        )
    if line is not None:
        parts.append(
            base.join(
                line.filter(
                    F.col("rev_code").isin(*ED_VISIT_REV_CODES)
                ).select("claim_header_id"),
                "claim_header_id",
                "left_semi",
            ).select(*sel)
        )
    if procedure is not None:
        parts.append(
            base.join(
                procedure.filter(
                    F.col("procedure_code").isin(*ED_VISIT_PX_CODES)
                ).select("claim_header_id"),
                "claim_header_id",
                "left_semi",
            ).select(*sel)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


# ---------------------------------------------------------------------------
# HEDIS value-set claim gates (create_stage.v_perf_cap_ambulatory_visit
# .sql, v_mcaid_perf_hospice_member_month.sql): claims matched against
# a named HEDIS value set across code systems.
# ---------------------------------------------------------------------------


def hedis_value_set_claims(
    value_set_name: str,
    hedis: DataFrame,
    procedure: DataFrame | None = None,
    icdcm: DataFrame | None = None,
    line: DataFrame | None = None,
    header: DataFrame | None = None,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Distinct claims hitting ``value_set_name`` in any supplied code
    domain (``v_perf_cap_ambulatory_visit.sql:21-75`` — CPT/HCPCS
    procedures, ICD-10-CM diagnoses; ``v_mcaid_perf_hospice_member_
    month.sql:40-80`` adds UBTOB bill types and UBREV revenue codes).
    One broadcast join per domain against the small code list — never
    a join per (value set x code system) rule.
    """
    hed = hedis.filter(F.col("value_set_name") == value_set_name)
    sel = lambda df: df.select(  # noqa: E731
        id_col, "claim_header_id", "first_service_date",
        "last_service_date",
    )
    parts = []
    if procedure is not None:
        codes = hed.filter(
            F.col("code_system").isin("CPT", "HCPCS")
        ).select(F.col("code").alias("procedure_code")).distinct()
        parts.append(sel(procedure.join(F.broadcast(codes),
                                        "procedure_code")))
    if icdcm is not None:
        codes = hed.filter(F.col("code_system") == "ICD10CM").select(
            F.col("code").alias("icdcm_norm")
        ).distinct()
        parts.append(
            sel(
                icdcm.filter(F.col("icdcm_version") == 10).join(
                    F.broadcast(codes), "icdcm_norm"
                )
            )
        )
    if line is not None:
        codes = hed.filter(F.col("code_system") == "UBREV").select(
            F.col("code").alias("rev_code")
        ).distinct()
        parts.append(sel(line.join(F.broadcast(codes), "rev_code")))
    if header is not None:
        codes = hed.filter(F.col("code_system") == "UBTOB").select(
            F.col("code").alias("type_of_bill_code")
        ).distinct()
        parts.append(sel(header.join(F.broadcast(codes),
                                     "type_of_bill_code")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def hospice_member_months(
    header: DataFrame,
    line: DataFrame,
    hedis: DataFrame,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Member-months with any hospice claim — the HEDIS measure
    exclusion grain (``v_mcaid_perf_hospice_member_month.sql``)."""
    claims = hedis_value_set_claims(
        "Hospice", hedis, line=line, header=header, id_col=id_col
    )
    return claims.select(
        (F.year("first_service_date") * 100
         + F.month("first_service_date")).cast("int").alias("year_month"),
        id_col,
    ).distinct()


# ---------------------------------------------------------------------------
# Prevention Quality Indicators over ED events
# (create_stage.v_mcaid_pqi_ed.sql): per-indicator flags from
# primary-diagnosis value sets minus dx/px exclusion sets, pivoted to
# the ED-event grain with a composite.
# ---------------------------------------------------------------------------

# Representative instantiation of the view's indicator branches.
# include = primary diagnosis in any listed AHRQ value set;
# exclusions drop the CLAIM when it also hits the listed dx
# (ICD-10-CM) or px (ICD-10-PCS / CPT) value sets; drg excludes on the
# header's derived DRG code (the MDC 14 pregnancy exclusion).
PQI_ED_CONFIGS = [
    {"group": "PQI 01", "include": ["ACDIASD"]},
    {"group": "PQI 03", "include": ["ACDIALD"]},
    {"group": "PQI 05", "include": ["ACCOPDD", "ACSASTD"],
     "exclude_dx": ["RESPAN"]},
    {"group": "PQI 08", "include": ["MRTCHFD"], "exclude_px": ["ACSCARP"]},
    {"group": "PQI 11", "include": ["ACSBACD"],
     "exclude_dx": ["ACSBA2D", "IMMUNID"], "exclude_px": ["IMMUNIP"]},
    {"group": "PQI 12", "include": ["ACSUTID"],
     "exclude_dx": ["KIDNEY", "IMMUNID"], "exclude_px": ["IMMUNIP"]},
    {"group": "PQI 14", "include": ["ACDIAUD"]},
]


# Inpatient PQIs (``v_mcaid_pqi_inpatient.sql``) add three shapes the
# ED view lacks: a conjunction exclusion (drop the claim only when it
# hits BOTH a dx set and a px set — PQI 07's kidney-disease+dialysis
# rule, `:126-140`), a px∩dx inclusion (PQI 16 requires an
# amputation procedure AND a diabetes diagnosis on the same claim,
# `:383-415`), and the MDC-14 DRG pregnancy exclusion.
PQI_INPATIENT_CONFIGS = [
    {"group": "PQI 01", "include": ["ACDIASD"]},
    {"group": "PQI 03", "include": ["ACDIALD"]},
    {"group": "PQI 05", "include": ["ACCOPDD", "ACSASTD"],
     "exclude_dx": ["RESPAN"]},
    {"group": "PQI 07", "include": ["ACSHYPD"], "exclude_px": ["ACSCARP"],
     "exclude_dx_and_px": (["ACSHY2D"], ["DIALY2P"])},
    {"group": "PQI 08", "include": ["MRTCHFD"], "exclude_px": ["ACSCARP"]},
    {"group": "PQI 11", "include": ["ACSBACD"],
     "exclude_dx": ["ACSBA2D", "IMMUNID"], "exclude_px": ["IMMUNIP"]},
    {"group": "PQI 12", "include": ["ACSUTID"],
     "exclude_dx": ["KIDNEY", "IMMUNID"], "exclude_px": ["IMMUNIP"]},
    {"group": "PQI 14", "include": ["ACDIAUD"]},
    {"group": "PQI 15", "include": ["ACSASTD"]},
    {"group": "PQI 16", "include_px_and_dx": (["ACSLEAP"], ["ACSLEAD"]),
     "exclude_dx": ["ACLEA2D"], "exclude_drg": ["MDC 14"]},
]

# Admission-source codes marking a transfer from another facility —
# those discharges are not counted (``v_mcaid_pqi_inpatient.sql:33``).
PQI_TRANSFER_SOURCES = ("4", "5", "6", "A", "B", "C", "D", "E", "F")


def _pqi_events(
    base: DataFrame,
    event_col: str,
    icdcm: DataFrame,
    procedure: DataFrame,
    value_sets: DataFrame,
    configs: list[dict],
) -> DataFrame:
    """Shared PQI engine: per-indicator claim flags at the given
    event grain.  Exclusion claim-sets are built ONCE per referenced
    value-set tuple from the long dx/px tables (broadcast code join +
    distinct claim ids) and applied as anti joins — the reference's
    repeated ``claim_header_id NOT IN (SELECT ...)`` subqueries
    share them."""
    vs = value_sets

    def codes(names):
        return vs.filter(F.col("value_set_name").isin(*names)).select(
            "code"
        ).distinct()

    # shared exclusion claim-id frames, one per distinct set tuple
    dx_excl_cache: dict[tuple, DataFrame] = {}
    px_excl_cache: dict[tuple, DataFrame] = {}

    def dx_claims(names):
        key = tuple(sorted(names))
        if key not in dx_excl_cache:
            dx_excl_cache[key] = (
                icdcm.filter(F.col("icdcm_version") == 10)
                .join(
                    F.broadcast(
                        codes(names).withColumnRenamed("code", "icdcm_norm")
                    ),
                    "icdcm_norm",
                )
                .select("claim_header_id")
                .distinct()
            )
        return dx_excl_cache[key]

    def px_claims(names):
        key = tuple(sorted(names))
        if key not in px_excl_cache:
            px_excl_cache[key] = (
                procedure.join(
                    F.broadcast(
                        codes(names).withColumnRenamed(
                            "code", "procedure_code"
                        )
                    ),
                    "procedure_code",
                )
                .select("claim_header_id")
                .distinct()
            )
        return px_excl_cache[key]

    parts = []
    for cfg in configs:
        if cfg.get("include_px_and_dx"):
            px_names, dx_names = cfg["include_px_and_dx"]
            inc_ids = px_claims(px_names).intersect(dx_claims(dx_names))
            inc = base.join(inc_ids, "claim_header_id")
        else:
            inc = base.join(
                F.broadcast(
                    codes(cfg["include"]).withColumnRenamed(
                        "code", "primary_diagnosis"
                    )
                ),
                "primary_diagnosis",
            )
        if cfg.get("exclude_dx"):
            inc = inc.join(
                dx_claims(cfg["exclude_dx"]), "claim_header_id",
                "left_anti",
            )
        if cfg.get("exclude_px"):
            inc = inc.join(
                px_claims(cfg["exclude_px"]), "claim_header_id",
                "left_anti",
            )
        if cfg.get("exclude_dx_and_px"):
            dx_names, px_names = cfg["exclude_dx_and_px"]
            both = dx_claims(dx_names).intersect(px_claims(px_names))
            inc = inc.join(both, "claim_header_id", "left_anti")
        if cfg.get("exclude_drg") and "drvd_drg_code" in base.columns:
            drg = codes(cfg["exclude_drg"]).withColumnRenamed(
                "code", "drvd_drg_code"
            )
            excl = base.join(F.broadcast(drg), "drvd_drg_code").select(
                "claim_header_id"
            ).distinct()
            inc = inc.join(excl, "claim_header_id", "left_anti")
        parts.append(
            inc.select(
                F.lit(cfg["group"]).alias("value_set_group"),
                "claim_header_id",
                event_col,
                F.lit(1).alias("flag"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def pqi_ed_events(
    header: DataFrame,
    icdcm: DataFrame,
    procedure: DataFrame,
    value_sets: DataFrame,
    configs: list[dict] | None = None,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Long (value_set_group, claim_header_id, ed_pophealth_id, flag)
    rows for ED-based PQIs (``v_mcaid_pqi_ed.sql``)."""
    configs = PQI_ED_CONFIGS if configs is None else configs
    ed = header.filter(F.col("ed_pophealth_id").isNotNull())
    return _pqi_events(
        ed, "ed_pophealth_id", icdcm, procedure, value_sets, configs
    )


def pqi_inpatient_events(
    header: DataFrame,
    icdcm: DataFrame,
    procedure: DataFrame,
    value_sets: DataFrame,
    configs: list[dict] | None = None,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Long (value_set_group, claim_header_id, inpatient_id, flag)
    rows for inpatient-discharge PQIs
    (``v_mcaid_pqi_inpatient.sql``): valid non-transfer inpatient
    claims (``admsn_source`` not in the facility-transfer codes)
    flagged per indicator, collapsed to the stay grain by
    :func:`pqi_composite`."""
    configs = PQI_INPATIENT_CONFIGS if configs is None else configs
    base = header.filter(F.col("inpatient_id").isNotNull())
    if "admsn_source" in header.columns:
        base = base.filter(
            F.col("admsn_source").isNull()
            | ~F.col("admsn_source").isin(*PQI_TRANSFER_SOURCES)
        )
    return _pqi_events(
        base, "inpatient_id", icdcm, procedure, value_sets, configs
    )


def pqi_composite(
    events: DataFrame,
    groups: list[str] | None = None,
    event_col: str = "ed_pophealth_id",
) -> DataFrame:
    """Pivot PQI flags to one row per event (ED visit or inpatient
    stay) with a composite any-PQI flag (``v_mcaid_pqi_ed.sql`` /
    ``v_mcaid_pqi_inpatient.sql`` tail: PIVOT MAX(flag) + ISNULL +
    CASE-sum composite). Conditional aggregates instead of PIVOT:
    one pass, no column explosion."""
    groups = groups or [c["group"] for c in PQI_ED_CONFIGS]
    aggs = [
        F.coalesce(
            F.max(F.when(F.col("value_set_group") == g, F.col("flag"))),
            F.lit(0),
        ).alias("pqi_" + g.split()[-1])
        for g in groups
    ]
    flat = events.groupBy(event_col).agg(*aggs)
    any_pqi = None
    for g in groups:
        c = F.col("pqi_" + g.split()[-1])
        any_pqi = c if any_pqi is None else (any_pqi + c)
    return flat.withColumn(
        "pqi_composite", (any_pqi >= 1).cast("int")
    )


def build_enroll_provider(
    elig_member_month: DataFrame,
    ym_min: int,
    ym_max: int,
    id_col: str = "id_mcaid",
) -> DataFrame:
    """Quarterly MCO-vs-FFS enrollment attribution
    (``sp_mcaid_perf_enroll_provider.sql``): per (member, coverage
    arm) the trailing-12-month covered-month count at each quarter
    end, keeping the dominant arm per member-quarter.

    ``elig_member_month`` carries (id, year_month, mco_or_ffs) rows —
    the reference's FFS/MC recode of COVERAGE_TYPE_IND. The dense
    grid + rolling frame reuse the enroll-denom machinery (one grid
    broadcast, one (id, arm)-partitioned window); the reference's
    row_number tie-break (coverage desc, current-month flag desc)
    adds the arm itself as the final deterministic key.
    """
    monthly = elig_member_month.groupBy(
        id_col, "mco_or_ffs", "year_month"
    ).agg(F.lit(1).alias("flag"))
    # start the grid 11 months early so the first in-window quarter end
    # sees a full trailing frame (the reference's @look_back_date:
    # yyyymm arithmetic, December wraps within the year)
    back = ym_min - 11 if ym_min % 100 == 12 else ym_min - 99
    dense = densify_months(
        monthly, [id_col, "mco_or_ffs"], "year_month",
        back, ym_max, fill={"flag": 0},
    )
    rolled = rolling_month_agg(
        dense, [id_col, "mco_or_ffs"], "year_month",
        {"coverage_months_t_12_m": ("flag", -11, 0)},
    )
    qtr = rolled.filter(
        (F.col("year_month") % 100).isin(3, 6, 9, 12)
        & (F.col("year_month") >= ym_min)
        & (F.col("coverage_months_t_12_m") >= 1)
    )
    w = Window.partitionBy(id_col, "year_month").orderBy(
        F.col("coverage_months_t_12_m").desc(),
        F.col("flag").desc(),
        "mco_or_ffs",
    )
    return (
        qtr.withColumn("_tb", F.row_number().over(w))
        .filter(F.col("_tb") == 1)
        .select(
            "year_month",
            ((F.col("year_month") % 100) / 3).cast("int").alias(
                "end_quarter"
            ),
            id_col, "mco_or_ffs", "coverage_months_t_12_m",
        )
    )

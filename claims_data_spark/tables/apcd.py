"""APCD (All-Payer Claims Database) eligibility timeline (reference:
``load_stage.apcd_elig_timevar.R:20-104`` — covgrp derivation from
nullable eligibility-id columns, then gaps-and-islands idiom B).

The member-month detail carries nine nullable eligibility-id columns
(med/rx/dental × medicaid/medicare/commercial). ``covgrp`` classifies
each month into one of 9 coverage groups; the empirical ``dual_flag``
marks months with both Medicaid and Medicare medical coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claims_data_spark.functions.datetime import yyyymm_to_date
from claims_data_spark.operators.intervals import collapse_islands


def _nn(col: str):
    return F.col(col).isNotNull()


def _any_payer(df: DataFrame, payer: str):
    """Any of the med/rx/dental eligibility ids for a payer non-null
    (guarded on column presence — extracts vary in which id columns
    they carry)."""
    cols = [
        c
        for c in (
            f"med_{payer}_eligibility_id",
            f"rx_{payer}_eligibility_id",
            f"dental_{payer}_eligibility_id",
        )
        if c in df.columns
    ]
    cond = F.lit(False)
    for c in cols:
        cond = cond | F.col(c).isNotNull()
    return cond


def derive_covgrp(df: DataFrame) -> DataFrame:
    """Add ``covgrp`` (0-8) + ``dual_flag`` per the reference's case
    cascade (``load_stage.apcd_elig_timevar.R:30-66``): covgrp from
    MEDICAL coverage by payer combination (0 = none); the empirical
    ``dual_flag`` from ANY (med/rx/dental) Medicaid id together with
    ANY Medicare id (``:29-33``)."""
    med_mcaid = _nn("med_medicaid_eligibility_id")
    med_mcare = _nn("med_medicare_eligibility_id")
    med_comm = _nn("med_commercial_eligibility_id")
    covgrp = (
        F.when(med_mcaid & med_mcare & med_comm, 7)
        .when(med_mcaid & med_mcare, 4)
        .when(med_mcaid & med_comm, 5)
        .when(med_mcare & med_comm, 6)
        .when(med_mcaid, 1)
        .when(med_mcare, 2)
        .when(med_comm, 3)
        .when(_nn("rx_medicaid_eligibility_id") | _nn("dental_medicaid_eligibility_id"), 8)
        .otherwise(0)
    )
    return df.withColumn("covgrp", covgrp).withColumn(
        "dual_flag",
        (_any_payer(df, "medicaid") & _any_payer(df, "medicare")).cast("int"),
    )


def build_apcd_elig_timevar(member_month: DataFrame) -> DataFrame:
    """member-month rows -> contiguous-coverage intervals per
    (member, covgrp, dual_flag, zip).

    The reference collapses with idiom B (months-since-epoch minus
    row_number, ``:83-104``); ``collapse_islands`` produces identical
    islands with one cumulative window (SURVEY.md §2.5 W3).
    """
    with_grp = derive_covgrp(member_month).filter(F.col("covgrp") != 0)
    months = with_grp.select(
        F.col("internal_member_id").alias("id_apcd"),
        yyyymm_to_date("year_month").alias("from_date"),
        F.last_day(yyyymm_to_date("year_month")).alias("to_date"),
        "covgrp",
        "dual_flag",
        F.col("zip_code").alias("geo_zip"),
    )
    return collapse_islands(
        months,
        ["id_apcd"],
        "from_date",
        "to_date",
        group_cols=["covgrp", "dual_flag", "geo_zip"],
        max_gap_days=1,
    ).withColumnRenamed("island_days", "cov_time_day")


# ---------------------------------------------------------------------------
# APCD claim-side analytic tables
# (reference: ``load_stage.apcd_claim_header.R:1-1251``)
# ---------------------------------------------------------------------------

# OnPoint service-type flags carried through when present (``:38-63``)
SERVICE_FLAGS = [
    "cardiac_imaging_and_tests_flag", "chiropractic_flag", "consultations_flag",
    "covid19_flag", "dialysis_flag", "durable_medical_equip_flag",
    "echography_flag", "endoscopic_procedure_flag",
    "evaluation_and_management_flag", "health_home_utilization_flag",
    "hospice_utilization_flag", "imaging_advanced_flag",
    "imaging_standard_flag", "inpatient_acute_flag",
    "inpatient_nonacute_flag", "lab_and_pathology_flag",
    "oncology_and_chemotherapy_flag", "physical_therapy_rehab_flag",
    "preventive_screenings_flag", "preventive_vaccinations_flag",
    "preventive_visits_flag", "psychiatric_visits_flag",
    "surgery_and_anesthesia_flag", "telehealth_flag",
]

# primary + secondary claim statuses (``:126,451``)
PRIMARY_SECONDARY_STATUS = [-1, -2, 1, 5, 2, 6]

# inpatient / swing-bed / free-standing-ambulatory settings excluded
# from the Oregon primary-care definition (``:452``)
PC_EXCLUDED_SETTINGS = ["1.1.1", "1.1.14", "1.1.2", "2.3.8", "2.3.2", "1.2.8"]


def _null_if_sentinel(col, sentinels=("-1", "-2")):
    c = F.col(col).cast("string")
    return F.when(c.isin(*sentinels), F.lit(None)).otherwise(c)


def build_apcd_claim_header(
    header: DataFrame,
    line: DataFrame,
    icdcm: DataFrame,
    procedure: DataFrame,
    ref_claim_status: DataFrame | None = None,
    ref_xwalk: DataFrame | None = None,
    ref_icdcm: DataFrame | None = None,
    ref_pc_oregon: DataFrame | None = None,
    provider: DataFrame | None = None,
    ref_provider_npi: DataFrame | None = None,
    ref_provider_master: DataFrame | None = None,
) -> DataFrame:
    """APCD claim_header analytic table
    (``load_stage.apcd_claim_header.R:74-1105``).

    Spark-first plan: every per-claim concept (line rollup, ED px
    flag, primary dx, PC flags, BH flags) is one groupBy on
    claim_header_id, so all intermediate frames share the same shuffle
    key and the final assembly is a chain of co-partitioned left
    joins; reference tables broadcast. Utilization event ids
    (pc_visit_id / inpatient_id / ed_perform_id / ed_pophealth_id)
    mint together in one range-partitioned pass over the claim rows
    (``dense_id.dense_event_ids_inline``), not the reference's
    single-partition DENSE_RANK (``:536-560,1012-1018``).
    """
    # STEP 1: header projection; drop denied/orphaned claims (``:148``)
    hdr = header.filter(
        (F.col("denied_header_flag") == "N")
        & (F.col("orphaned_header_flag") == "N")
    )
    flags = [c for c in SERVICE_FLAGS if c in header.columns]
    # claim_type_apcd_id concatenation is NULL-propagating like the
    # reference's '+' (``:111-115``): a -1/-2 place-of-setting nulls
    # the whole concatenated id
    claim_type_apcd_id = F.concat(
        F.col("claim_type_id").cast("string"), F.lit("."),
        F.col("type_of_setting_id").cast("string"), F.lit("."),
        _null_if_sentinel("place_of_setting_id"),
    )
    hdr = hdr.select(
        F.col("internal_member_id").alias("id_apcd"),
        F.col("medical_claim_header_id").alias("claim_header_id"),
        F.when(F.col("product_code_id").isin(-1, -2), None)
        .otherwise(F.col("product_code_id")).alias("product_code_id"),
        F.col("first_service_dt").alias("first_service_date"),
        F.col("last_service_dt").alias("last_service_date"),
        F.col("first_paid_dt").alias("first_paid_date"),
        F.col("last_paid_dt").alias("last_paid_date"),
        F.col("charge_amt"),
        _null_if_sentinel("type_of_bill_code").alias("type_of_bill_code"),
        claim_type_apcd_id.alias("claim_type_apcd_id"),
        (F.col("emergency_room_flag") == "Y").cast("int").alias("ed_perform_temp"),
        F.col("header_status"),
        F.col("claim_type_id").cast("string").alias("_ct"),
        F.col("type_of_setting_id").cast("string").alias("_ts"),
        _null_if_sentinel("place_of_setting_id").alias("_ps"),
        *flags,
    )
    if ref_claim_status is not None:
        hdr = hdr.join(
            F.broadcast(
                ref_claim_status.select(
                    F.col("claim_status_code").alias("header_status"),
                    "claim_status_id",
                )
            ),
            "header_status",
            "left",
        )
    else:
        hdr = hdr.withColumn("claim_status_id", F.lit(None).cast("long"))
    hdr = hdr.drop("header_status")

    # line rollup: discharge date + ED place/revenue flags (``:134-140``)
    # exact-set membership, not anchored rlike: the regex engine costs
    # several× a literal IN-set compare and this predicate runs on
    # every line row (profiled as the dominant share of the line-agg
    # stage); the code sets are tiny and closed
    line_agg = line.groupBy("claim_header_id").agg(
        F.max("discharge_date").alias("discharge_date"),
        F.max((F.col("place_of_service_code") == "23").cast("int")).alias("ed_pos_temp"),
        F.max(
            F.col("revenue_code").isin(
                "0450", "0451", "0452", "0456", "0459", "0981"
            ).cast("int")
        ).alias("ed_revenue_code_temp"),
    )

    # STEP 2: ED procedure-code flag (``:169-183``)
    ed_px = procedure.groupBy("claim_header_id").agg(
        F.max(
            F.col("procedure_code").isin(
                "99281", "99282", "99283", "99284", "99285", "99291"
            ).cast("int")
        ).alias("ed_procedure_code_temp")
    )

    # STEP 4: primary diagnosis — reference takes independent MINs when
    # >1 primary per header (``:283-289``)
    icd1 = icdcm.filter(F.col("icdcm_number") == "01").groupBy("claim_header_id").agg(
        F.min("icdcm_norm").alias("primary_diagnosis"),
        F.min("icdcm_version").alias("icdcm_version"),
    )

    # STEP 3: Oregon primary-care visit flags (``:188-258``)
    pc = None
    if ref_pc_oregon is not None:
        pc_px_codes = ref_pc_oregon.filter(
            F.col("code_system").isin("cpt", "hcpcs")
        ).select(F.col("code").alias("procedure_code"))
        pc_px = (
            procedure.join(F.broadcast(pc_px_codes), "procedure_code")
            .select("claim_header_id").distinct()
            .withColumn("pc_procedure_temp", F.lit(1))
        )
        pc_dx_codes = ref_pc_oregon.filter(
            F.col("code_system") == "icd10cm"
        ).select(F.col("code").alias("icdcm_norm"))
        pc_dx = (
            icdcm.filter(F.col("icdcm_version") == 10)
            .join(F.broadcast(pc_dx_codes), "icdcm_norm")
            .select("claim_header_id").distinct()
            .withColumn("pc_zcode_temp", F.lit(1))
        )
        pc = pc_px.join(pc_dx, "claim_header_id", "full")
        if (
            provider is not None
            and ref_provider_npi is not None
            and ref_provider_master is not None
        ):
            tax_codes = ref_pc_oregon.filter(
                F.col("code_system") == "provider_taxonomy"
            ).select(F.col("code").alias("_tax"))
            pc_tax = (
                provider.filter(F.col("provider_type").isin("rendering", "attending"))
                .join(F.broadcast(ref_provider_npi), "provider_id_apcd")
                .join(F.broadcast(ref_provider_master), "npi")
                .join(
                    F.broadcast(tax_codes),
                    (F.col("primary_taxonomy") == F.col("_tax"))
                    | (F.col("secondary_taxonomy") == F.col("_tax")),
                )
                .select("claim_header_id").distinct()
                .withColumn("pc_taxonomy_temp", F.lit(1))
            )
            pc = pc.join(pc_tax, "claim_header_id", "full")
        else:
            pc = pc.withColumn("pc_taxonomy_temp", F.lit(None).cast("int"))

    # STEP 5/6: assemble + kc claim-type crosswalk + CCS columns.
    # MERGE hints on every rollup join: the rollup sides are CLAIM-
    # GRAIN aggregates (same cardinality as the header, ~1:1), not
    # dimension tables — under the session's 64 MB threshold the
    # planner would broadcast them, paying a driver-side hashed-
    # relation build per rollup (measured 1.76 s vs 0.98 s at sf1 for
    # the line+px pair alone). Sort-merge instead REUSES the exchange
    # each groupBy already emitted on claim_header_id: the header pays
    # one exchange and every subsequent join is co-partitioned; at
    # warehouse scale SMJ is also the spill-safe choice. Reference
    # tables (status, xwalk) stay broadcast — those are true dims.
    out = (
        hdr.join(line_agg.hint("MERGE"), "claim_header_id", "left")
        .join(ed_px.hint("MERGE"), "claim_header_id", "left")
        .join(icd1.hint("MERGE"), "claim_header_id", "left")
    )
    if pc is not None:
        out = out.join(pc.hint("MERGE"), "claim_header_id", "left")
    else:
        out = out.withColumns({
            c: F.lit(None).cast("int")
            for c in ("pc_procedure_temp", "pc_zcode_temp", "pc_taxonomy_temp")
        })

    if ref_xwalk is not None:
        xw = ref_xwalk
        if "source_desc" in xw.columns:
            xw = xw.filter(F.col("source_desc") == "apcd")
        out = out.join(
            F.broadcast(
                xw.select(
                    F.col("source_clm_type_id").cast("string").alias(
                        "claim_type_apcd_id"
                    ),
                    F.col("kc_clm_type_id").alias("claim_type_id"),
                )
            ),
            "claim_type_apcd_id",
            "left",
        )
    else:
        out = out.withColumn("claim_type_id", F.lit(None).cast("int"))

    if ref_icdcm is not None:
        ccs_cols = [
            c for c in (
                "ccs_superlevel_desc", "ccs_broad_desc", "ccs_broad_code",
                "ccs_midlevel_desc", "ccs_detail_desc", "ccs_detail_code",
            ) if c in ref_icdcm.columns
        ]
        if ccs_cols:
            out = out.join(
                F.broadcast(
                    ref_icdcm.select(
                        F.col("icdcm").alias("primary_diagnosis"),
                        F.col("icdcm_version"),
                        *ccs_cols,
                    )
                ),
                ["primary_diagnosis", "icdcm_version"],
                "left",
            )

    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    kc = F.col("claim_type_id")
    # ONE withColumns call, not six chained withColumn: every DataFrame
    # transformation runs eager analysis over the (already deep)
    # assembled plan, so a chain here costs O(chain * plan-size) driver
    # time before the first task launches — measurable seconds at this
    # plan depth.
    out = out.withColumns({
        "ed_perform": ((F.col("ed_perform_temp") == 1) & (kc == 4)).cast("int"),
        # Yale ED definition (``:432-444``)
        "ed_yale_carrier": (
            (kc == 5)
            & (
                ((z("ed_procedure_code_temp") == 1) & (z("ed_pos_temp") == 1))
                | (z("ed_revenue_code_temp") == 1)
            )
        ).cast("int"),
        "ed_yale_opt": (
            (kc == 4)
            & (
                (z("ed_revenue_code_temp") == 1)
                | (z("ed_pos_temp") == 1)
                | (z("ed_procedure_code_temp") == 1)
            )
        ).cast("int"),
        "ed_yale_ipt": (
            (kc == 1)
            & (
                (z("ed_revenue_code_temp") == 1)
                | (z("ed_pos_temp") == 1)
                | (z("ed_procedure_code_temp") == 1)
            )
        ).cast("int"),
        # inpatient stay (``:125-129``)
        "inpatient": (
            (F.col("_ct") == "1") & (F.col("_ts") == "1")
            & (F.col("_ps") == "1")
            & F.col("claim_status_id").isin(*PRIMARY_SECONDARY_STATUS)
            & F.col("discharge_date").isNotNull()
        ).cast("int"),
        # Oregon primary-care visit (``:448-455``)
        "pc_visit": (
            ((z("pc_procedure_temp") == 1) | (z("pc_zcode_temp") == 1))
            & (z("pc_taxonomy_temp") == 1)
            & ~F.coalesce(
                F.col("claim_type_apcd_id").isin(*PC_EXCLUDED_SETTINGS),
                F.lit(False),
            )
            & F.col("claim_status_id").isin(*PRIMARY_SECONDARY_STATUS)
        ).cast("int"),
    }).drop("_ct", "_ts", "_ps")

    # STEP 8: BH flags (``:586-600``)
    if ref_icdcm is not None and "mh_any" in ref_icdcm.columns:
        bh_ref = ref_icdcm.select(
            F.col("icdcm").alias("icdcm_norm"), "icdcm_version",
            "mh_any", "sud_any",
        )
        bh = (
            icdcm.join(F.broadcast(bh_ref), ["icdcm_norm", "icdcm_version"])
            .groupBy("claim_header_id")
            .agg(
                F.max(
                    ((F.col("icdcm_number") == "01") & (F.col("mh_any") == 1)).cast("int")
                ).alias("mh_primary"),
                F.max(F.col("mh_any")).alias("mh_any"),
                F.max(
                    ((F.col("icdcm_number") == "01") & (F.col("sud_any") == 1)).cast("int")
                ).alias("sud_primary"),
                F.max(F.col("sud_any")).alias("sud_any"),
            )
        )
        out = out.join(bh.hint("MERGE"), "claim_header_id", "left").withColumns({
            c: F.coalesce(F.col(c), F.lit(0))
            for c in ("mh_primary", "mh_any", "sud_primary", "sud_any")
        })

    # STEP 9: injury nature/cause surveillance columns
    if ref_icdcm is not None and "intent" in ref_icdcm.columns:
        out = out.join(
            apcd_injury_flags(icdcm, ref_icdcm).hint("MERGE"),
            "claim_header_id", "left",
        ).withColumns({
            c: F.coalesce(F.col(c), F.lit(0))
            for c in ("injury_nature_narrow", "injury_nature_broad")
        })

    # STEP 7 + 10: utilization event ids via scalable dense ranking.
    # Only the NARROW event-minting projection (claim id, person,
    # service date, the five participation flags) is stabilized — it
    # feeds the minting exchange and the reassembly, and materializing
    # anything wider pays for columns most consumers never read. Eager
    # checkpoint, not lazy persist: AQE otherwise launches the minting
    # exchange and the join exchanges as CONCURRENT leaf stages that
    # race to compute the same un-materialized cache partitions
    # (measured as three identical full-cost jobs at sf1). The
    # truncation ALSO bounds driver-side analysis: every .schema/
    # .withColumns downstream of an un-truncated assembly re-analyzes
    # the whole ~40-join tree (measured seconds of pure py4j/analysis
    # per build — see SCALE.md round-5 notes). The projection's pruned
    # plan skips the primary-dx aggregate entirely (left-join
    # elimination against the icd1 rollup).
    from claims_data_spark.operators.dense_id import dense_event_ids_inline

    narrow = out.select(
        "claim_header_id", "id_apcd", "first_service_date",
        "ed_yale_carrier", "ed_yale_opt", "ed_yale_ipt",
        "pc_visit", "inpatient", "ed_perform",
    ).localCheckpoint(eager=True)

    # All four id families — pc_visit / inpatient / ed_perform ranked
    # by (person, service_date), plus the Yale 1-day ED episode id
    # (``:984-1018``) — mint in ONE range exchange + ONE vectorized
    # pass that attaches the ids straight to the claim rows (see
    # dense_event_ids_inline): no tagged explode, no keys mapping, no
    # per-claim fold-back join.
    with_ids = dense_event_ids_inline(
        narrow, "id_apcd", "first_service_date",
        families=[
            ("pc_visit", "pc_visit_id"),
            ("inpatient", "inpatient_id"),
            ("ed_perform", "ed_perform_id"),
        ],
        episode_families=[(
            ["ed_yale_carrier", "ed_yale_opt", "ed_yale_ipt"],
            "ed_pophealth_id", 1,
        )],
    )
    # Reassembly: serve the event/person/date/flag/id columns from the
    # checkpointed side and LEFT-join the remaining assembly columns
    # back. The dropDuplicates on the join key is a semantic no-op
    # (claim_header_id is the header table's primary key) but it makes
    # the extras side PROVABLY unique to Catalyst, so a consumer that
    # references no extras column gets the whole branch — header
    # re-scan included — eliminated from its plan instead of merely
    # column-pruned. Wide consumers ride the dedup aggregate on the
    # exchange the join needs anyway. Column order is unchanged.
    id_cols = [
        "pc_visit_id", "inpatient_id", "ed_perform_id", "ed_pophealth_id",
    ]
    cols_order = out.columns
    out_extras = out.drop(
        *[c for c in narrow.columns if c != "claim_header_id"]
    ).dropDuplicates(["claim_header_id"])
    return (
        with_ids.join(out_extras, "claim_header_id", "left")
        .select(*cols_order, *id_cols)
    )


def _injury_nature_match(code: F.Column, version: F.Column) -> F.Column:
    """CDC injury-hospitalization surveillance inclusion predicate
    (``load_stage.apcd_claim_header.R:633-668``; 2019 NHSR report).

    ICD-9-CM: 800-9949 range plus 9955x and 99580-99585, excluding
    9093x/9095x. ICD-10-CM: S-codes and the T/O9A/M97 ranges, with
    initial-encounter 7th character A/B/C or absent. Pure string
    predicates -> whole-stage codegen, evaluated on the DISTINCT code
    dimension, never the fact table.
    """
    c7 = F.substring(code, 7, 1)
    c6 = F.substring(code, 6, 1)
    c5 = F.substring(code, 5, 1)
    init_enc = c7.isin("A", "B", "C", "")
    v9 = (version == 9) & (
        (
            code.substr(1, 3).between("800", "994")
            | code.rlike("^9955")
            | code.between("99580", "99585")
        )
        & ~code.rlike("^9093")
        & ~code.rlike("^9095")
    )
    v10 = (version == 10) & init_enc & (
        code.rlike("^S")
        | (code.between("T07", "T3499XS") & code.rlike("^T(0[7-9]|[12][0-9]|3[0-4])"))
        | (
            code.between("T36", "T50996S")
            & code.rlike("^T(3[6-9]|4[0-9]|50)")
            & c6.isin("1", "2", "3", "4")
        )
        | (code.rlike("^T3[679]9") & c5.isin("1", "2", "3", "4"))
        | (code.rlike("^T4(14|27)") & c5.isin("1", "2", "3", "4"))
        | (code.rlike("^T4[3579]9") & c5.isin("1", "2", "3", "4"))
        | (code.between("T51", "T6594XS") & code.rlike("^T(5[1-9]|6[0-5])"))
        | (code.between("T66", "T7692XS") & code.rlike("^T(6[6-9]|7[0-6])"))
        | code.rlike("^T79")
        | (code.between("O9A2", "O9A53") & code.rlike("^O9A[2-5]"))
        | code.rlike("^T8404")
        | code.rlike("^M97")
    )
    return v9 | v10


def apcd_injury_flags(icdcm: DataFrame, ref_icdcm: DataFrame) -> DataFrame:
    """Per-claim injury columns (``:604-952``): narrow/broad nature
    flags, rank-1 nature-of-injury code, and the rank-1 external-cause
    code with intent/mechanism via the LIKE-prefix join against the
    e-code reference (``:703-768``)."""
    from pyspark.sql import Window

    from claims_data_spark.plans.prefix_join import prefix_join

    nature = icdcm.filter(
        _injury_nature_match(F.col("icdcm_norm"), F.col("icdcm_version"))
    ).select("claim_header_id", "icdcm_norm", "icdcm_version", "icdcm_number")

    w = Window.partitionBy("claim_header_id").orderBy("icdcm_number")
    nature_ranked = nature.withColumn("_rn", F.row_number().over(w))
    per_claim = nature_ranked.groupBy("claim_header_id").agg(
        F.max((F.col("icdcm_number") == "01").cast("int")).alias(
            "injury_nature_narrow"
        ),
        F.lit(1).alias("injury_nature_broad"),
        F.min(F.when(F.col("_rn") == 1, F.col("icdcm_norm"))).alias(
            "injury_nature_icdcm"
        ),
    )

    ecode_ref = ref_icdcm.filter(F.col("intent").isNotNull()).select(
        F.col("icdcm").alias("pfx"), "intent", "mechanism"
    )
    cause = prefix_join(
        nature.select("claim_header_id", "icdcm_number", "icdcm_norm"),
        ecode_ref,
        fact_code="icdcm_norm",
        ref_prefix="pfx",
    )
    cause_1 = (
        cause.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "claim_header_id",
            F.col("icdcm_norm").alias("injury_ecode"),
            F.col("intent").alias("injury_intent"),
            F.col("mechanism").alias("injury_mechanism"),
        )
    )
    return per_claim.join(cause_1, "claim_header_id", "left")


def qa_apcd_claim_header(
    stage: DataFrame,
    raw_header: DataFrame,
    elig_demo: DataFrame | None = None,
    elig_timevar: DataFrame | None = None,
) -> list:
    """The reference's table-level QA invariant suite
    (``load_stage.apcd_claim_header.R:1112-1251`` — SURVEY §5 calls
    these the primary operator-correctness oracles), re-expressed as
    ONE fused aggregate over the table plus one count of the live raw
    headers:

    - claim_header_id distinct (res1/res2)
    - stage rowcount == raw non-denied/orphaned rowcount (res3)
    - members exist in elig_demo / elig_timevar (res4/res5)
    - no null claim_type_id / claim_type_apcd_id (res6)
    - inpatient stays all carry a discharge date (res7)
    - each event id maps to one person (res8a-d)
    - ed_pophealth_id is dense (res9a/b)
    - ed_perform implies ed_pophealth (res10)
    - within an ed_pophealth episode, consecutive visits are <= 1 day
      apart (res11)
    """
    from pyspark.sql import Window

    from claims_data_spark.qa import (
        InParent,
        fused_table_qa,
        one_person,
        row_count_vs_raw,
    )

    w = Window.partitionBy("id_apcd", "ed_pophealth_id").orderBy(
        "first_service_date"
    )
    work = stage.withColumn(
        "_lag_fsd",
        F.when(
            F.col("ed_pophealth_id").isNotNull(),
            F.lag("first_service_date").over(w),
        ),
    )
    checks = {
        "claim-type-matched": F.col("claim_type_id").isNull()
        | F.col("claim_type_apcd_id").isNull(),
        "ipt-has-discharge": F.col("inpatient_id").isNotNull()
        & F.col("discharge_date").isNull(),
        "ed-perform-implies-pophealth": F.col("ed_perform_id").isNotNull()
        & F.col("ed_pophealth_id").isNull(),
        "ed-pophealth-1day-window": F.col("_lag_fsd").isNotNull()
        & (F.abs(F.datediff("first_service_date", "_lag_fsd")) > 1),
        # one-person for the other three id families (res8a-c)
        **{
            f"one-person({ev})": one_person(ev, "id_apcd")
            for ev in ("pc_visit_id", "inpatient_id", "ed_perform_id")
        },
        "stage-matches-raw-count": row_count_vs_raw("stage"),
    }
    if elig_demo is not None:
        checks["members-in-elig-demo"] = InParent(elig_demo, "id_apcd")
    if elig_timevar is not None:
        checks["members-in-elig-timevar"] = InParent(elig_timevar, "id_apcd")
    return fused_table_qa(
        work,
        unique_keys=["claim_header_id"],
        event_ids=["ed_pophealth_id"],
        person_id="id_apcd",
        checks=checks,
        raw=raw_header.filter(
            (F.col("denied_header_flag") == "N")
            & (F.col("orphaned_header_flag") == "N")
        ),
    )


# ---------------------------------------------------------------------------
# APCD claim children (load_stage.apcd_claim_line.R,
# load_stage.apcd_claim_icdcm_header.R, load_stage.apcd_claim_procedure.R,
# load_stage.apcd_claim_provider.R)
# ---------------------------------------------------------------------------

def _live_claim_ids(header: DataFrame) -> DataFrame:
    """Non-denied, non-orphaned claim ids — every child table excludes
    the same headers the analytic header drops."""
    return header.filter(
        (F.col("denied_header_flag") == "N")
        & (F.col("orphaned_header_flag") == "N")
    ).select(
        F.col("medical_claim_header_id").alias("claim_header_id")
    ).distinct()


def build_apcd_claim_line(line_raw: DataFrame, header: DataFrame) -> DataFrame:
    """Line-grain projection with the nonsensical-discharge-date
    correction (``load_stage.apcd_claim_line.R:30-35``): a discharge
    before the admission (or, absent an admission, before the first
    service) falls back to the last service date."""
    fixed_discharge = (
        F.when(
            F.col("discharge_dt") < F.col("admission_dt"),
            F.col("last_service_dt"),
        )
        .when(
            F.col("admission_dt").isNull()
            & (F.col("discharge_dt") < F.col("first_service_dt")),
            F.col("last_service_dt"),
        )
        .otherwise(F.col("discharge_dt"))
    )
    return (
        line_raw.join(_live_claim_ids(header), "claim_header_id", "left_semi")
        .select(
            "id_apcd", "claim_header_id", "claim_line_id", "line_counter",
            F.col("first_service_dt").alias("first_service_date"),
            F.col("last_service_dt").alias("last_service_date"),
            "charge_amt", "revenue_code", "place_of_service_code",
            F.col("admission_dt").alias("admission_date"),
            fixed_discharge.alias("discharge_date"),
            "discharge_status_code", "admission_point_of_origin_code",
            "admission_type",
        )
        .distinct()
    )


def build_apcd_claim_icdcm_header(
    icdcm_raw: DataFrame, header: DataFrame
) -> DataFrame:
    """Diagnosis-grain projection (``load_stage.apcd_claim_icdcm_header.R``)."""
    return icdcm_raw.join(
        _live_claim_ids(header), "claim_header_id", "left_semi"
    ).select(
        "id_apcd", "claim_header_id",
        F.col("first_service_dt").alias("first_service_date"),
        F.col("last_service_dt").alias("last_service_date"),
        "icdcm_raw", "icdcm_norm", "icdcm_version", "icdcm_number",
    )


def build_apcd_claim_procedure(
    procedure_raw: DataFrame, header: DataFrame
) -> DataFrame:
    """Procedure-grain projection (``load_stage.apcd_claim_procedure.R``)."""
    return procedure_raw.join(
        _live_claim_ids(header), "claim_header_id", "left_semi"
    ).select(
        "id_apcd", "claim_header_id",
        F.col("first_service_dt").alias("first_service_date"),
        F.col("last_service_dt").alias("last_service_date"),
        "procedure_code", "modifier_code",
    )


def build_apcd_claim_provider(provider_raw: DataFrame) -> DataFrame:
    """Provider-role projection (``load_stage.apcd_claim_provider.R`` —
    no denied-claim filter in the reference)."""
    return provider_raw.select(
        "id_apcd", "claim_header_id",
        F.col("first_service_dt").alias("first_service_date"),
        F.col("last_service_dt").alias("last_service_date"),
        "provider_id_apcd", "provider_id_raw_apcd", "provider_type",
    )


def qa_apcd_child(
    child: DataFrame,
    elig_demo: DataFrame | None = None,
    elig_timevar: DataFrame | None = None,
    not_null_col: str | None = None,
) -> list:
    """The children's shared QA: key payload column never null;
    members referenced in elig tables — one fused aggregate."""
    from claims_data_spark.qa import InParent, fused_table_qa

    checks = {}
    if not_null_col is not None:
        checks[f"{not_null_col}-not-null"] = F.col(not_null_col).isNull()
    if elig_demo is not None:
        checks["members-in-elig-demo"] = InParent(elig_demo, "id_apcd")
    if elig_timevar is not None:
        checks["members-in-elig-timevar"] = InParent(elig_timevar, "id_apcd")
    return fused_table_qa(child, checks=checks)


# ---------------------------------------------------------------------------
# APCD elig_demo (load_stage.apcd_elig_demo.R:21-260): DOB estimated
# from age transitions in member_month, gender ever/recent from the
# month grain, race from the eligibility file + ethnicity-race map.
# ---------------------------------------------------------------------------


def _recent(pair_value, valid, order):
    """Reference idiom ``last_value(... order by case-when-null)``:
    the value at the max ``order`` among ``valid`` rows (T-SQL sorts
    NULL keys first, so last_value lands on the max valid key; ties
    break on the value itself which the reference includes as a
    secondary sort)."""
    return F.max(F.when(valid, F.struct(order.alias("o"),
                                        pair_value.alias("v"))))["v"]


def build_apcd_elig_demo(
    member_month: DataFrame,
    eligibility: DataFrame,
    ref_ethnicity_race_map: DataFrame | None = None,
) -> DataFrame:
    """One row per member: estimated DOB, gender, race/ethnicity
    (``load_stage.apcd_elig_demo.R:21-260``).

    DOB (``:26-45``): when age increments between contiguous months
    (month diff 1, or 89 for the Dec->Jan yyyymm arithmetic), the
    transition month minus (age+1) years IS the birth month; otherwise
    fall back to last-recorded-age estimate (over-estimates age, so
    one month is added). Both become per-person MAX + COALESCE.

    Race (``:86-235``): race_id1/2 direct, race_id3/4 via the
    ethnicity->race broadcast map, Latino from latino_id or ethnicity
    codes, per-eligibility-row mutually-exclusive labels (z_Multiple
    sorts last so the reference's last_value tiebreak is stable), then
    ONE person-level groupBy replaces temp5-temp7 + the final join
    chain. Two shuffles total (one per source grain) instead of the
    reference's eight temp tables.
    """
    from pyspark.sql import Window

    ym = F.col("year_month").cast("int")
    w = Window.partitionBy("internal_member_id").orderBy(ym)
    age = F.col("age").cast("int")
    mm = member_month.select(
        "internal_member_id", ym.alias("ym"), age.alias("age"),
        "gender_code",
        F.when(
            (age - F.lag(age).over(w) == 1)
            & ((ym - F.lag(ym).over(w)).isin(1, 89)),
            yyyymm_to_date(ym - F.lag((age + 1) * 100).over(w)),
        ).alias("dob_1"),
        F.when(
            F.lead(age).over(w).isNull(),
            F.add_months(yyyymm_to_date(ym - (age + 1) * 100), 1),
        ).alias("dob_2"),
    )
    g = F.col("gender_code")
    mm_final = mm.groupBy(
        F.col("internal_member_id").alias("id_apcd")
    ).agg(
        F.coalesce(F.max("dob_1"), F.max("dob_2")).alias("dob"),
        (F.min("age") == 90).cast("int").alias("ninety_only"),
        F.max(F.when(g == "F", 1).when(g == "U", None).otherwise(0))
        .alias("gender_female"),
        F.max(F.when(g == "M", 1).when(g == "U", None).otherwise(0))
        .alias("gender_male"),
        F.min(F.when(g == "U", 1).otherwise(0)).alias("_gender_unk"),
        _recent(g, g.isNotNull() & (g != "U"), F.col("ym"))
        .alias("_g_recent"),
    ).select(
        "id_apcd", "dob", "ninety_only",
        F.when(
            (F.col("gender_female") == 1) & (F.col("gender_male") == 1),
            "Multiple",
        )
        .when(F.col("gender_female") == 1, "Female")
        .when(F.col("gender_male") == 1, "Male")
        .when(F.col("_gender_unk") == 1, "Unknown")
        .alias("gender_me"),
        F.when(F.col("_g_recent") == "F", "Female")
        .when(F.col("_g_recent") == "M", "Male")
        .when(F.col("_g_recent") == "U", "Unknown")
        .alias("gender_recent"),
        "gender_female", "gender_male",
    )

    # race per eligibility row
    def clean_race(c):
        r = F.col(c).cast("int")
        return F.when(r.isin(1, 2, 3, 4, 5), r).otherwise(0)

    el = eligibility.select(
        F.col("internal_member_id").alias("id_apcd"),
        F.col("eligibility_end_dt").cast("date").alias("end_dt"),
        clean_race("race_id1").alias("r1"),
        clean_race("race_id2").alias("r2"),
        F.col("latino_id").cast("int").alias("latino_id"),
        F.col("ethnicity_id1").alias("ethnicity_id1"),
        F.col("ethnicity_id2").alias("ethnicity_id2"),
    )
    if ref_ethnicity_race_map is not None:
        emap = ref_ethnicity_race_map.select(
            "ethnicity_id", F.col("race_id").cast("int").alias("eth_race_id")
        )
        for n in (1, 2):
            el = el.join(
                F.broadcast(
                    emap.withColumnRenamed("ethnicity_id", f"ethnicity_id{n}")
                    .withColumnRenamed("eth_race_id", f"r{n + 2}")
                ),
                f"ethnicity_id{n}",
                "left",
            )
        el = el.withColumn("r3", F.coalesce("r3", F.lit(0))).withColumn(
            "r4", F.coalesce("r4", F.lit(0))
        )
    else:
        el = el.withColumn("r3", F.lit(0)).withColumn("r4", F.lit(0))

    def any_id(v):
        return (
            (F.col("r1") == v) | (F.col("r2") == v)
            | (F.col("r3") == v) | (F.col("r4") == v)
        ).cast("int")

    row = el.select(
        "id_apcd", "end_dt",
        any_id(1).alias("race_aian"),
        any_id(2).alias("race_asian"),
        any_id(3).alias("race_black"),
        (
            (F.col("latino_id") == 1) | (F.col("r3") == 8)
            | (F.col("r4") == 8)
        ).cast("int").alias("race_latino"),
        any_id(4).alias("race_nhpi"),
        any_id(5).alias("race_white"),
        (
            (F.col("r1") == 0) & (F.col("r2") == 0)
            & F.col("latino_id").isin(0, 2) & (F.col("r3") == 0)
            & (F.col("r4") == 0)
        ).cast("int").alias("race_unknown"),
    )

    def me_label(flags):
        total = sum(F.col(c) for c in flags)
        out = F.when(total > 1, "z_Multiple")
        labels = {
            "race_aian": "AI/AN", "race_asian": "Asian",
            "race_black": "Black", "race_latino": "Latino",
            "race_nhpi": "NH/PI", "race_white": "White",
        }
        for c in flags:
            others = [o for o in flags if o != c]
            cond = (F.col(c) == 1)
            for o in others:
                cond = cond & (F.col(o) == 0)
            out = out.when(cond, labels[c])
        return out.when(F.col("race_unknown") == 1, "Unknown")

    eth_flags = ["race_aian", "race_asian", "race_black", "race_latino",
                 "race_nhpi", "race_white"]
    race_flags = [c for c in eth_flags if c != "race_latino"]
    labeled = row.select(
        "*",
        me_label(eth_flags).alias("race_eth_me"),
        F.coalesce(me_label(race_flags), F.lit("Unknown")).alias("race_me"),
    )

    valid = F.col("race_unknown") == 0
    unz = lambda c: F.when(  # noqa: E731
        c == "z_Multiple", "Multiple"
    ).otherwise(c)
    elig_final = labeled.groupBy("id_apcd").agg(
        F.max("race_aian").alias("race_aian"),
        F.max("race_asian").alias("race_asian"),
        F.max("race_black").alias("race_black"),
        F.max("race_latino").alias("race_latino"),
        F.max("race_nhpi").alias("race_nhpi"),
        F.max("race_white").alias("race_white"),
        F.min("race_unknown").alias("race_unknown"),
        F.max(F.when(F.col("race_eth_me") != "Unknown",
                     F.col("race_eth_me"))).alias("_eth_best"),
        F.max(F.when(F.col("race_me") != "Unknown", F.col("race_me")))
        .alias("_race_best"),
        F.coalesce(
            _recent(
                F.col("race_eth_me"), valid,
                F.struct(F.col("end_dt"), F.col("race_eth_me")),
            ),
            F.max("race_eth_me"),
        ).alias("_eth_recent"),
        F.coalesce(
            _recent(
                F.col("race_me"), valid,
                F.struct(F.col("end_dt"), F.col("race_me")),
            ),
            F.max("race_me"),
        ).alias("_race_recent"),
    ).select(
        "id_apcd",
        F.when(
            F.col("race_aian") + F.col("race_asian") + F.col("race_black")
            + F.col("race_latino") + F.col("race_nhpi")
            + F.col("race_white") > 1,
            "Multiple",
        ).otherwise(unz(F.col("_eth_best"))).alias("race_eth_me"),
        F.when(
            F.col("race_aian") + F.col("race_asian") + F.col("race_black")
            + F.col("race_nhpi") + F.col("race_white") > 1,
            "Multiple",
        ).otherwise(unz(F.col("_race_best"))).alias("race_me"),
        unz(F.col("_eth_recent")).alias("race_eth_recent"),
        unz(F.col("_race_recent")).alias("race_recent"),
        "race_aian", "race_asian", "race_black", "race_latino",
        "race_nhpi", "race_white", "race_unknown",
    )

    return mm_final.join(elig_final, "id_apcd", "left")


# ---------------------------------------------------------------------------
# APCD elig_timevar, full reference shape (load_stage.apcd_elig_timevar.R:
# 25-140): per-domain covgrps (medical / pharmacy / dental), payer
# binary flags, county/ACH geography, contiguous flag.
# ---------------------------------------------------------------------------


def _domain_covgrp(prefix: str, any_col: str) -> F.Column:
    """The reference's 9-way payer-combination cascade (``:34-70``),
    one domain (med/rx/dental): 1-7 from which payer eligibility ids
    are present, 8 = covered but unknown market, 0 = none."""
    mcaid = _nn(f"{prefix}_medicaid_eligibility_id")
    mcare = _nn(f"{prefix}_medicare_eligibility_id")
    comm = _nn(f"{prefix}_commercial_eligibility_id")
    return (
        F.when(mcaid & ~comm & ~mcare, 1)
        .when(~mcaid & ~comm & mcare, 2)
        .when(~mcaid & comm & ~mcare, 3)
        .when(mcaid & ~comm & mcare, 4)
        .when(mcaid & comm & ~mcare, 5)
        .when(~mcaid & comm & mcare, 6)
        .when(mcaid & comm & mcare, 7)
        .when(_nn(any_col), 8)
        .otherwise(0)
    )


def build_apcd_elig_timevar_full(
    member_month: DataFrame,
    ref_zip_group: DataFrame | None = None,
    ref_county_code: DataFrame | None = None,
) -> DataFrame:
    """Full reference timevar: contiguous periods per (member,
    med/pharm/dental covgrp, dual, ZIP) with payer flags and
    geography (``load_stage.apcd_elig_timevar.R:25-140``).

    Same island collapse as the simplified builder; the payer binary
    flags derive from the covgrp AFTER collapse (cheaper: 3 small
    CASEs on collapsed rows, not 12 on every member-month), exactly
    the reference's Step 4. Geography refs broadcast.
    """
    months = member_month.select(
        F.col("internal_member_id").alias("id_apcd"),
        yyyymm_to_date("year_month").alias("from_date"),
        F.last_day(yyyymm_to_date("year_month")).alias("to_date"),
        F.col("zip_code").alias("geo_zip"),
        _domain_covgrp("med", "medical_eligibility_id").alias("med_covgrp"),
        _domain_covgrp("rx", "pharmacy_eligibility_id").alias(
            "pharm_covgrp"
        ),
        _domain_covgrp("dental", "dental_eligibility_id").alias(
            "dental_covgrp"
        ),
        (
            _any_payer(member_month, "medicaid")
            & _any_payer(member_month, "medicare")
        ).cast("int").alias("dual"),
    )
    grp = ["med_covgrp", "pharm_covgrp", "dental_covgrp", "dual", "geo_zip"]
    islands = collapse_islands(
        months, ["id_apcd"], "from_date", "to_date",
        group_cols=grp, max_gap_days=1,
    ).withColumnRenamed("island_days", "cov_time_day")

    from pyspark.sql import Window

    w = Window.partitionBy("id_apcd").orderBy("from_date")
    flag = lambda c, vals: F.col(c).isin(*vals).cast("int")  # noqa: E731
    out = islands.select(
        "id_apcd", "from_date", "to_date",
        F.when(
            F.datediff(F.col("from_date"), F.lag("to_date").over(w)) == 1, 1
        ).otherwise(0).alias("contiguous"),
        "med_covgrp", "pharm_covgrp", "dental_covgrp",
        flag("med_covgrp", (1, 4, 5, 7)).alias("med_medicaid"),
        flag("med_covgrp", (2, 4, 6, 7)).alias("med_medicare"),
        flag("med_covgrp", (3, 5, 6, 7)).alias("med_commercial"),
        (F.col("med_covgrp") == 8).cast("int").alias("med_unknown"),
        flag("pharm_covgrp", (1, 4, 5, 7)).alias("pharm_medicaid"),
        flag("pharm_covgrp", (2, 4, 6, 7)).alias("pharm_medicare"),
        flag("pharm_covgrp", (3, 5, 6, 7)).alias("pharm_commercial"),
        (F.col("pharm_covgrp") == 8).cast("int").alias("pharm_unknown"),
        flag("dental_covgrp", (1, 4, 5, 7)).alias("dental_medicaid"),
        flag("dental_covgrp", (2, 4, 6, 7)).alias("dental_medicare"),
        flag("dental_covgrp", (3, 5, 6, 7)).alias("dental_commercial"),
        (F.col("dental_covgrp") == 8).cast("int").alias("dental_unknown"),
        "dual", "geo_zip", "cov_time_day",
    )
    if ref_zip_group is not None:
        out = _attach_apcd_geo(out, ref_zip_group, ref_county_code)
    return out


def _attach_apcd_geo(
    out: DataFrame,
    ref_zip_group: DataFrame,
    ref_county_code: DataFrame | None,
) -> DataFrame:
    """ZIP -> county / ACH / WA / KC geography columns shared by the
    APCD timevar and elig_month builders
    (``load_stage.apcd_elig_month.R:120-135``). Refs broadcast."""
    county = ref_zip_group.filter(
        F.col("zip_group_type_desc") == "County"
    ).select(
        F.col("zip_code").alias("geo_zip"),
        F.col("zip_group_desc").alias("geo_county"),
    ).distinct()
    ach = ref_zip_group.filter(
        F.col("zip_group_type_desc").startswith("Acc")
    ).select(
        F.col("zip_code").alias("geo_zip"),
        F.col("zip_group_code").alias("geo_ach_code"),
        F.col("zip_group_desc").alias("geo_ach"),
    ).distinct()
    out = (
        out.join(F.broadcast(county), "geo_zip", "left")
        .join(F.broadcast(ach), "geo_zip", "left")
    )
    if ref_county_code is not None:
        out = out.join(
            F.broadcast(
                ref_county_code.select(
                    F.col("geo_county_name").alias("geo_county"),
                    F.col("geo_county_code_fips").alias(
                        "geo_county_code"
                    ),
                ).distinct()
            ),
            "geo_county",
            "left",
        )
    else:
        out = out.withColumn(
            "geo_county_code", F.lit(None).cast("string")
        )
    return out.withColumn(
        "geo_wa", F.col("geo_county").isNotNull().cast("int")
    ).withColumn(
        "geo_kc", (F.col("geo_county") == "King").cast("int")
    )


def build_apcd_elig_month(
    member_month: DataFrame,
    ref_zip_group: DataFrame | None = None,
    ref_county_code: DataFrame | None = None,
) -> DataFrame:
    """APCD member-month eligibility table
    (``load_stage.apcd_elig_month.R:37-136``): one row per
    member-month straight off ``member_month_detail`` — NO island
    collapse — with from/to = month bounds, med/pharm/dental covgrps
    (9-way payer cascade), the 12 payer binary flags, the empirical
    dual flag, ZIP geography, and ``cov_time_day``.

    Narrow projection + per-row CASEs only: at 100 TB this is a
    map-only stage (zero shuffles; geo refs broadcast), so it scales
    with input bytes. The mcaid variant (``build_elig_month``)
    densifies from intervals instead — the APCD source is already
    month-grain, so exploding would be wasted work.
    """
    from_date = yyyymm_to_date("year_month")
    out = member_month.select(
        F.col("internal_member_id").alias("id_apcd"),
        from_date.alias("from_date"),
        F.last_day(from_date).alias("to_date"),
        F.col("year_month").cast("int").alias("year_month"),
        (
            F.year(from_date) * 10
            + F.floor((F.month(from_date) - 1) / 3) + 1
        ).cast("int").alias("year_quarter"),
        F.year(from_date).cast("int").alias("year"),
        _domain_covgrp("med", "medical_eligibility_id").alias("med_covgrp"),
        _domain_covgrp("rx", "pharmacy_eligibility_id").alias("pharm_covgrp"),
        _domain_covgrp("dental", "dental_eligibility_id").alias(
            "dental_covgrp"
        ),
        (
            _any_payer(member_month, "medicaid")
            & _any_payer(member_month, "medicare")
        ).cast("int").alias("dual"),
        F.col("zip_code").alias("geo_zip"),
    )
    flag = lambda c, vals: F.col(c).isin(*vals).cast("int")  # noqa: E731
    out = out.select(
        "id_apcd", "from_date", "to_date", "year_month", "year_quarter",
        "year", "med_covgrp", "pharm_covgrp", "dental_covgrp",
        flag("med_covgrp", (1, 4, 5, 7)).alias("med_medicaid"),
        flag("med_covgrp", (2, 4, 6, 7)).alias("med_medicare"),
        flag("med_covgrp", (3, 5, 6, 7)).alias("med_commercial"),
        (F.col("med_covgrp") == 8).cast("int").alias("med_unknown"),
        flag("pharm_covgrp", (1, 4, 5, 7)).alias("pharm_medicaid"),
        flag("pharm_covgrp", (2, 4, 6, 7)).alias("pharm_medicare"),
        flag("pharm_covgrp", (3, 5, 6, 7)).alias("pharm_commercial"),
        (F.col("pharm_covgrp") == 8).cast("int").alias("pharm_unknown"),
        flag("dental_covgrp", (1, 4, 5, 7)).alias("dental_medicaid"),
        flag("dental_covgrp", (2, 4, 6, 7)).alias("dental_medicare"),
        flag("dental_covgrp", (3, 5, 6, 7)).alias("dental_commercial"),
        (F.col("dental_covgrp") == 8).cast("int").alias("dental_unknown"),
        "dual", "geo_zip",
        (F.datediff("to_date", "from_date") + 1).alias("cov_time_day"),
    )
    if ref_zip_group is not None:
        out = _attach_apcd_geo(out, ref_zip_group, ref_county_code)
    return out


# ---------------------------------------------------------------------------
# APCD person-level rollup, one row per member for a date range
# (load_stage.apcd_elig_plr.R:39-363)
# ---------------------------------------------------------------------------

def _plr_cov_flags() -> dict:
    """Coverage-bucket predicates (built lazily: Column construction
    needs an active session in classic mode)."""
    return {
        "med_total": F.col("med_covgrp") != 0,
        "med_medicaid": F.col("med_medicaid") == 1,
        "med_medicare": F.col("med_medicare") == 1,
        "med_commercial": F.col("med_commercial") == 1,
        "pharm_total": F.col("pharm_covgrp") != 0,
        "pharm_medicaid": F.col("pharm_medicaid") == 1,
        "pharm_medicare": F.col("pharm_medicare") == 1,
        "pharm_commercial": F.col("pharm_commercial") == 1,
        "dual": (
            (F.col("med_medicaid") == 1) | (F.col("pharm_medicaid") == 1)
        ) & ((F.col("med_medicare") == 1) | (F.col("pharm_medicare") == 1)),
    }


def _plr_assemble(
    tv: DataFrame,
    elig_demo: DataFrame,
    keys: list,
    ref_zip_group: DataFrame | None,
) -> DataFrame:
    """Shared PLR assembly over a timevar frame that carries per-row
    window bounds ``_start``/``_end`` (constant per reporting period).
    ``keys`` is the output grain — ``["id_apcd"]`` for the classic
    single-period build, ``["plr_year", "id_apcd"]`` for the one-pass
    multi-year build. The bounds ride the group keys (functionally
    determined by the period), so every aggregate below is computed
    per (period, person) in the SAME shuffles a single period uses.
    """
    from pyspark.sql import Window

    gk = [*keys, "_start", "_end"]
    range_days = F.datediff(F.col("_end"), F.col("_start")) + 1
    ov = (
        F.datediff(F.least(F.col("to_date"), F.col("_end")),
                   F.greatest(F.col("from_date"), F.col("_start"))) + 1
    )

    def pct(c):
        return F.round(c * 100.0 / range_days, 1)

    # ONE timevar-grain shuffle, then WINDOWS instead of self-joins:
    # every rollup the PLR needs — per-person coverage sums, the
    # max-person-time ZIP pick, and person-days inside the winner's
    # ACH — decomposes over the (person, zip) grain, and at that grain
    # all three are window aggregates under the SAME person-clustered
    # exchange (the (person, ach) partition is satisfied by person
    # clustering). Filtering to the rank-1 row then yields one row
    # per person carrying everything, with zero join-backs. The old
    # shape aggregated the timevar three separate times and joined the
    # branches — column pruning made the three aggregate subplans
    # non-identical, so not even AQE exchange reuse could deduplicate
    # them (measured: 3 scans, 13 exchanges, 18 jobs; now 2 scans and
    # the suite's cascade drops to single digits).
    cov_flags = _plr_cov_flags()
    if ref_zip_group is not None:
        county = ref_zip_group.filter(
            F.col("zip_group_type_desc") == "County"
        ).select(
            F.col("zip_code").alias("geo_zip"),
            F.col("zip_group_desc").alias("geo_county"),
        ).distinct()
        ach_map = ref_zip_group.filter(
            F.col("zip_group_type_desc").startswith("Acc")
        ).select(
            F.col("zip_code").alias("geo_zip"),
            F.col("zip_group_desc").alias("geo_ach"),
        ).distinct()
    zip_grain = tv.groupBy(*gk, "geo_zip").agg(
        *[
            F.sum(F.when(cond, ov).otherwise(0)).alias(f"{name}_covd")
            for name, cond in cov_flags.items()
        ],
        F.sum(ov).alias("_zip_ov"),
    )
    if ref_zip_group is not None:
        # ACH is a function of ZIP: attach it BEFORE the windows so
        # ACH person-days are a window sum, not a join-back
        zip_grain = zip_grain.join(F.broadcast(ach_map), "geo_zip", "left")
    else:
        zip_grain = zip_grain.withColumn(
            "geo_ach", F.lit(None).cast("string")
        )

    w_gk = Window.partitionBy(*gk)
    w_ach = Window.partitionBy(*gk, "geo_ach")
    # reference adds +1 to the summed days before ranking (:225)
    zw = Window.partitionBy(*gk).orderBy(
        (F.col("_zip_ov") + 1).desc(), F.col("geo_zip")
    )
    pct_cols = [
        "med_total", "dual", "med_medicaid", "med_medicare",
        "med_commercial", "pharm_total", "pharm_medicaid",
        "pharm_medicare", "pharm_commercial",
    ]
    picked = (
        zip_grain.withColumns({
            **{
                f"{n}_covd": F.sum(F.col(f"{n}_covd")).over(w_gk)
                for n in cov_flags
            },
            # person-days in the row's own ACH; NULL when the zip maps
            # to no ACH (matches the old null-unsafe join-back)
            "geo_ach_covd": F.when(
                F.col("geo_ach").isNotNull(),
                F.sum(F.col("_zip_ov")).over(w_ach),
            ).cast("long"),
            "_zipr": F.row_number().over(zw),
        })
        .filter(F.col("_zipr") == 1)
    )
    merged = picked.select(
        *gk, "geo_zip", "geo_ach", "geo_ach_covd",
        *[F.col(f"{n}_covd") for n in cov_flags],
        *[pct(F.col(f"{n}_covd")).alias(f"{n}_covper") for n in pct_cols],
        (F.col("dual_covd") > 0).cast("int").alias("dual_flag"),
    )
    if ref_zip_group is not None:
        merged = merged.join(F.broadcast(county), "geo_zip", "left")
    else:
        merged = merged.withColumn(
            "geo_county", F.lit(None).cast("string")
        )

    demo = elig_demo.select(
        "id_apcd", "dob",
        F.col("ninety_only"),
        "gender_me", "gender_recent", "gender_female", "gender_male",
        "race_eth_me", "race_me", "race_eth_recent", "race_recent",
        "race_aian", "race_asian", "race_black", "race_latino",
        "race_nhpi", "race_white", "race_unknown",
    )
    merged = merged.join(demo, "id_apcd", "left")
    # age is as-of the period END, so it is computed after the demo
    # join where _end is in scope (caps at 90; ninety_only pins there)
    age_raw = F.floor((F.datediff(F.col("_end"), F.col("dob")) + 1) / 365.25)
    age = (
        F.when((age_raw >= 90) | (F.col("ninety_only") == 1), 90)
        .when(age_raw >= 0, age_raw)
        .when(age_raw == -1, 0)
    )
    merged = merged.withColumn("age", age)
    a = F.col("age")
    wa = F.col("geo_county").isNotNull()
    return merged.select(
        *keys,
        wa.cast("int").alias("geo_wa"),
        (
            wa & (
                (F.col("med_medicaid_covd") >= 1)
                | (F.col("pharm_medicaid_covd") >= 1)
            )
        ).cast("int").alias("overall_mcaid"),
        (wa & (F.col("med_medicaid_covd") >= 1)).cast("int").alias(
            "overall_mcaid_med"
        ),
        (wa & (F.col("pharm_medicaid_covd") >= 1)).cast("int").alias(
            "overall_mcaid_pharm"
        ),
        (wa & (F.col("med_total_covper") >= 50.0)).cast("int").alias(
            "medical_coverage_6mo"
        ),
        (wa & (F.col("med_total_covper") >= 58.3)).cast("int").alias(
            "medical_coverage_7mo"
        ),
        (wa & (F.col("med_total_covper") >= 91.7)).cast("int").alias(
            "medical_coverage_11mo"
        ),
        "geo_zip", "geo_county", "geo_ach", "geo_ach_covd",
        pct(F.col("geo_ach_covd")).alias("geo_ach_covper"),
        "age",
        F.when((a >= 0) & (a < 5), "0-4")
        .when((a >= 5) & (a < 12), "5-11")
        .when((a >= 12) & (a < 18), "12-17")
        .when((a >= 18) & (a < 25), "18-24")
        .when((a >= 25) & (a < 45), "25-44")
        .when((a >= 45) & (a < 65), "45-64")
        .when((a >= 65) | (F.col("ninety_only") == 1), "65 and over")
        .alias("age_grp7"),
        "gender_me", "gender_recent", "gender_female", "gender_male",
        "race_eth_me", "race_me", "race_eth_recent", "race_recent",
        "race_aian", "race_asian", "race_black", "race_latino",
        "race_nhpi", "race_white", "race_unknown",
        "med_total_covd", "med_total_covper",
        "dual_covd", "dual_covper", "dual_flag",
        "med_medicaid_covd", "med_medicare_covd", "med_commercial_covd",
        "med_medicaid_covper", "med_medicare_covper",
        "med_commercial_covper",
        "pharm_total_covd", "pharm_total_covper",
        "pharm_medicaid_covd", "pharm_medicare_covd",
        "pharm_commercial_covd", "pharm_medicaid_covper",
        "pharm_medicare_covper", "pharm_commercial_covper",
    )


def build_apcd_elig_plr(
    timevar: DataFrame,
    elig_demo: DataFrame,
    from_date: str,
    to_date: str,
    ref_zip_group: DataFrame | None = None,
) -> DataFrame:
    """Person-level coverage/demographic rollup for [from_date,
    to_date] (``load_stage.apcd_elig_plr.R:39-363``).

    The reference's four repeated CASE blocks per coverage bucket are
    one clipped-overlap expression
    ``datediff(least(to,end), greatest(from,start)) + 1`` times each
    bucket's flag — summed in ONE groupBy(id). ZIP assignment takes
    the max person-time ZIP (ties break to the lower ZIP, matching
    the reference's row_number sort ``:225``; note the reference's
    ``sum(covd) + 1`` duration quirk is reproduced); ACH person-days
    aggregate in the same pass keyed by (id, ach) and join back on
    the winner. Age caps at 90 (ninety_only members pin there).

    All coverage-cohort flags (overall_mcaid, medical_coverage_6/7/
    11mo) are computed for WA residents only, per ``:358-365``.
    """
    start = F.lit(from_date).cast("date")
    end = F.lit(to_date).cast("date")
    tv = timevar.filter(
        (F.col("from_date") <= end) & (F.col("to_date") >= start)
    ).withColumns({"_start": start, "_end": end})
    return _plr_assemble(tv, elig_demo, ["id_apcd"], ref_zip_group)


def build_apcd_elig_plr_multi(
    timevar: DataFrame,
    elig_demo: DataFrame,
    years: list,
    ref_zip_group: DataFrame | None = None,
) -> DataFrame:
    """ALL reporting years in ONE pass — the Spark-first replacement
    for the reference master's eleven unrolled per-year
    ``load_stage.apcd_elig_plr_f`` calls
    (``07_apcd_create_analytic_tables.R`` Table 3): a broadcast year
    dimension range-joins the timevar intervals (each interval lands
    in every year it overlaps — bounded fan-out, max interval length
    / 1 year copies), and the whole PLR assembly then groups by
    (plr_year, id_apcd) in the SAME number of shuffles a single year
    costs. At warehouse scale this turns 11 full timevar scans into
    one.
    """
    spark = timevar.sparkSession
    dim = spark.createDataFrame(
        [(int(y), f"{y}-01-01", f"{y}-12-31") for y in years],
        "plr_year int, _start string, _end string",
    ).withColumns({
        "_start": F.col("_start").cast("date"),
        "_end": F.col("_end").cast("date"),
    })
    tv = timevar.join(
        F.broadcast(dim),
        (F.col("from_date") <= F.col("_end"))
        & (F.col("to_date") >= F.col("_start")),
    )
    return _plr_assemble(
        tv, elig_demo, ["plr_year", "id_apcd"], ref_zip_group
    )

"""Claim-header analytic table (reference:
``load_stage.mcaid_claim_header.R`` — the ~80 min, 15-step build).

Shape: project raw lines to header grain, pre-aggregate one flag table
per concept at the claim grain (the reference's staged temp tables,
kept deliberately: each flag is a partial aggregate that map-side
combines), then one multi-way left join on ``claim_header_id``
(``:1020-1038``). ED episodes get globally dense ids via the one-pass
range-partitioned ranking — not the reference's single-partition
DENSE_RANK.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claims_data_spark.functions.strings import tsql_like
from claims_data_spark.plans.prefix_join import prefix_join

ED_REV_PATTERN = "045[01269]"      # load_stage.mcaid_claim_header.R:242
ED_PX_PATTERN = "9928[123458]"     # :285 (99281-99285 + 99288)
ED_CLAIM_TYPES = (3, 26, 34)       # :410-411
PC_EXCLUDE_TYPES = (19, 31, 33)    # :419
TELEHEALTH_POS = ("02", "10")      # :422,424


def _headers(raw: DataFrame, ref_xwalk: DataFrame | None) -> DataFrame:
    """Header-grain typed projection: billing-NPI rule (P11), HHMM ->
    time string (P1), claim-type crosswalk (J16 broadcast)."""
    w = Window.partitionBy("TCN").orderBy("CLM_LINE_TCN")
    hdr = (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("MBR_H_SID").alias("id_mcaid"),
            F.col("TCN").alias("claim_header_id"),
            F.col("CLM_TYPE_CID").alias("clm_type_cid"),
            F.col("FROM_SRVC_DATE").alias("first_service_date"),
            F.col("TO_SRVC_DATE").alias("last_service_date"),
            F.col("PRIMARY_DIAGNOSIS_CODE").alias("primary_diagnosis"),
            F.col("FCLTY_TYPE_CODE").alias("place_of_service_code"),
            F.col("TYPE_OF_BILL").alias("type_of_bill_code"),
            # P11: CASE claim_status WHEN 71 THEN blng WHEN 83 THEN coalesce(npi, blng)
            F.when(F.col("CLAIM_STATUS") == 71, F.col("BLNG_NATIONAL_PRVDR_IDNTFR"))
            .when(
                F.col("CLAIM_STATUS") == 83,
                F.coalesce("NPI", "BLNG_NATIONAL_PRVDR_IDNTFR"),
            )
            .alias("billing_provider_npi"),
            # P1: timefromparts(ADMSN_HOUR/100, ADMSN_HOUR%100, 0,0,0)
            F.when(
                F.col("ADMSN_HOUR").isNotNull(),
                F.format_string(
                    "%02d:%02d:00",
                    (F.col("ADMSN_HOUR") / 100).cast("int"),
                    F.col("ADMSN_HOUR") % 100,
                ),
            ).alias("admsn_time"),
            F.col("ADMSN_DATE").alias("admission_date"),
            F.col("DSCHRG_DATE").alias("discharge_date"),
            F.col("PATIENT_STATUS_LKPCD").alias("patient_status_code"),
        )
    )
    if ref_xwalk is not None:
        hdr = hdr.join(
            F.broadcast(
                ref_xwalk.withColumnRenamed("source_clm_type_id", "clm_type_cid")
            ),
            "clm_type_cid",
            "left",
        ).withColumnRenamed("kc_clm_type_id", "claim_type_id")
    return hdr


def _line_flags(raw: DataFrame) -> DataFrame:
    """Per-claim conditional-aggregate flags from lines (A2/R3):
    ED revenue codes, ED procedure codes, line counts."""
    return raw.groupBy(F.col("TCN").alias("claim_header_id")).agg(
        F.max(
            F.when(tsql_like(F.col("REVENUE_CODE"), ED_REV_PATTERN), 1).otherwise(0)
        ).alias("ed_rev_flag"),
        F.max(
            F.when(
                tsql_like(F.coalesce("PRCDR_CODE_1", "LINE_PRCDR_CODE"), ED_PX_PATTERN),
                1,
            ).otherwise(0)
        ).alias("ed_px_flag"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def _hedis_inpatient(raw: DataFrame, ref_hedis: DataFrame) -> DataFrame:
    """HEDIS inpatient stays: 'Inpatient Stay' rev-code claims EXCEPT
    nonacute (UBREV ∪ UBTOB) — the anti-join form of the reference's
    EXCEPT (``load_stage.mcaid_claim_header.R:321-354``)."""
    ip_rev = ref_hedis.filter(
        (F.col("value_set_name") == "Inpatient Stay")
        & (F.col("code_system") == "UBREV")
    ).select(F.col("code").alias("REVENUE_CODE"))
    nonacute_rev = ref_hedis.filter(
        (F.col("value_set_name") == "Nonacute Inpatient Stay")
        & (F.col("code_system") == "UBREV")
    ).select(F.col("code").alias("REVENUE_CODE"))
    # zero-pad 3-char type_of_bill (':353')
    tob = F.when(
        F.length("TYPE_OF_BILL") == 3, F.concat(F.lit("0"), F.col("TYPE_OF_BILL"))
    ).otherwise(F.col("TYPE_OF_BILL"))
    nonacute_tob = ref_hedis.filter(
        (F.col("value_set_name") == "Nonacute Inpatient Stay")
        & (F.col("code_system") == "UBTOB")
    ).select(F.col("code").alias("_tob"))

    candidates = raw.join(F.broadcast(ip_rev), "REVENUE_CODE").select(
        F.col("TCN").alias("claim_header_id")
    ).distinct()
    excluded = (
        raw.join(F.broadcast(nonacute_rev), "REVENUE_CODE")
        .select(F.col("TCN").alias("claim_header_id"))
        .unionByName(
            raw.withColumn("_tob", tob)
            .join(F.broadcast(nonacute_tob), "_tob")
            .select(F.col("TCN").alias("claim_header_id"))
        )
        .distinct()
    )
    return (
        candidates.select("claim_header_id")
        .join(excluded, "claim_header_id", "left_anti")
        .withColumn("inpatient_flag", F.lit(1))
    )


def _telehealth(raw: DataFrame, ref_telehealth: DataFrame) -> DataFrame:
    """Telehealth flag — the reference's 8-disjunct OR join
    (``:296-309``) rewritten as an unpivot of ref modifier columns to
    rows + plain equi-joins (SURVEY.md J10 preferred form)."""
    mod_cols = [
        "modifier_cr", "modifier_95", "modifier_gt", "modifier_g0",
        "modifier_gq", "modifier_fq", "modifier_93",
    ]
    ref_long = ref_telehealth.select(
        "code",
        "modifier_flag",
        F.explode(
            F.array(*[F.col(c) for c in mod_cols])
        ).alias("ref_modifier"),
    ).filter(F.col("ref_modifier").isNotNull())

    px = raw.select(
        F.col("TCN").alias("claim_header_id"),
        F.coalesce("PRCDR_CODE_1", "LINE_PRCDR_CODE").alias("px"),
        F.col("MDFR_CODE1").alias("m1"),
        F.col("MDFR_CODE2").alias("m2"),
        F.col("FCLTY_TYPE_CODE").alias("pos"),
    )
    # disjunct 1: code requires a modifier and one matches
    need_mod = px.join(
        F.broadcast(ref_long), px.px == ref_long.code
    ).filter(
        (F.col("m1") == F.col("ref_modifier")) | (F.col("m2") == F.col("ref_modifier"))
    ).select("claim_header_id")
    # disjunct 2: code requires no modifier
    no_mod = px.join(
        F.broadcast(
            ref_telehealth.filter(F.col("modifier_flag") == 0).select("code")
        ),
        px.px == F.col("code"),
    ).select("claim_header_id")
    # disjunct 3: bare-modifier ref row matches a claim modifier
    bare = px.join(
        F.broadcast(
            ref_telehealth.filter(F.col("modifier_flag").isNull()).select(
                F.col("code").alias("_bare")
            )
        ),
        (F.col("m1") == F.col("_bare")) | (F.col("m2") == F.col("_bare")),
    ).select("claim_header_id")
    # disjunct 4: telehealth place of service
    pos = px.filter(F.col("pos").isin(*TELEHEALTH_POS)).select("claim_header_id")
    return (
        need_mod.unionByName(no_mod).unionByName(bare).unionByName(pos)
        .distinct()
        .withColumn("telehealth_flag", F.lit(1))
    )


def _injury_ecodes(icdcm: DataFrame, ref_icdcm: DataFrame) -> DataFrame:
    """First-ranked external-cause code per claim via the LIKE-prefix
    join (``:556-614``): dx codes matched to truncated e-code prefixes,
    intent/mechanism attached, rank 1 per claim by icdcm_number (W8)."""
    ecode_ref = ref_icdcm.filter(F.col("intent").isNotNull()).select(
        F.col("icdcm").alias("pfx"), "intent", "mechanism"
    )
    matched = prefix_join(
        icdcm.select("claim_header_id", "icdcm_number", "icdcm_norm"),
        ecode_ref,
        fact_code="icdcm_norm",
        ref_prefix="pfx",
    )
    w = Window.partitionBy("claim_header_id").orderBy("icdcm_number")
    return (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("claim_header_id", "intent", "mechanism")
    )


def _bh_flags(icdcm: DataFrame, ref_icdcm: DataFrame) -> DataFrame:
    """Behavioral-health flags per claim from the ICD master's
    mh_any/sud_any columns (``:469-481``)."""
    ref = ref_icdcm.select(
        F.col("icdcm").alias("icdcm_norm"),
        F.col("icdcm_version"),
        "mh_any",
        "sud_any",
    )
    return (
        icdcm.join(F.broadcast(ref), ["icdcm_norm", "icdcm_version"])
        .groupBy("claim_header_id")
        .agg(F.max("mh_any").alias("mh_flag"), F.max("sud_any").alias("sud_flag"))
    )


def build_claim_header(
    raw: DataFrame,
    icdcm: DataFrame,
    ref_xwalk: DataFrame | None = None,
    ref_hedis: DataFrame | None = None,
    ref_telehealth: DataFrame | None = None,
    ref_icdcm: DataFrame | None = None,
) -> DataFrame:
    """Assemble the claim_header analytic table: header projection +
    left-joined flag tables + ED definitions + episode ids."""
    hdr = _headers(raw, ref_xwalk)
    out = hdr.join(_line_flags(raw), "claim_header_id", "left")

    if ref_hedis is not None:
        out = out.join(_hedis_inpatient(raw, ref_hedis), "claim_header_id", "left")
    if ref_telehealth is not None:
        out = out.join(_telehealth(raw, ref_telehealth), "claim_header_id", "left")
    if ref_icdcm is not None:
        out = out.join(_injury_ecodes(icdcm, ref_icdcm), "claim_header_id", "left")
        out = out.join(_bh_flags(icdcm, ref_icdcm), "claim_header_id", "left")

    # Yale ED definition: facility (rev/pos) ∪ professional (px), claim
    # types restricted (``:741-805``)
    out = out.withColumn(
        "ed_flag",
        F.when(
            F.col("clm_type_cid").isin(*ED_CLAIM_TYPES)
            & (
                (F.coalesce("ed_rev_flag", F.lit(0)) == 1)
                | (F.coalesce("ed_px_flag", F.lit(0)) == 1)
                | (F.col("place_of_service_code") == "23")
            ),
            1,
        ).otherwise(0),
    )

    # ED episodes: visits ≤1 day apart merge (``:814-879``); dense
    # ed_pophealth_id over (person, episode); ed_perform_id per
    # (person, service date)
    # Both id families in ONE range exchange + ONE vectorized pass
    # over the ED claims only (family ids depend only on FLAGGED keys,
    # so the non-ED claims never enter the minting at all): ed_perform
    # ranks distinct (person, service_date) keys, ed_pophealth ranks
    # the 1-day episode chains — see dense_event_ids_inline. Replaces
    # the tagged union + range sort + per-claim conditional-agg
    # fold-back.
    from claims_data_spark.operators.dense_id import dense_event_ids_inline

    ed = out.filter(F.col("ed_flag") == 1).select(
        "claim_header_id", "id_mcaid", "first_service_date",
        F.lit(1).alias("_edf"),
    )
    per_claim = dense_event_ids_inline(
        ed, "id_mcaid", "first_service_date",
        families=[("_edf", "ed_perform_id")],
        episode_families=[(["_edf"], "ed_pophealth_id", 1)],
    ).select("claim_header_id", "ed_pophealth_id", "ed_perform_id")
    out = out.join(per_claim, "claim_header_id", "left")

    # primary-care visit flag (``:419-424`` shape): professional claims
    # outside excluded types, not ED, not telehealth-POS
    out = out.withColumn(
        "pc_visit_flag",
        F.when(
            (~F.col("clm_type_cid").isin(*PC_EXCLUDE_TYPES))
            & (F.col("ed_flag") == 0)
            & F.col("place_of_service_code").isin("11", "49", "72"),
            1,
        ).otherwise(0),
    )
    flag_cols = [
        "inpatient_flag", "telehealth_flag", "mh_flag", "sud_flag",
    ]
    for c in flag_cols:
        if c in out.columns:
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out.withColumn("last_run", F.current_timestamp())

"""RDA BH value-set assembly (load_ref.rda_value_sets_apde.R)."""

from __future__ import annotations

from claims_data_spark.tables.rda_value_set import (
    build_ref_rda_value_set,
    normalize_value_set_codes,
    qa_rda_value_set,
)

NEW_SCHEMA = (
    "value_set_group string, value_set_name string,"
    " data_source_type string, code_set string, code string, desc string"
)


def _ref_icdcm(spark):
    return spark.createDataFrame(
        [
            # ICD-9 padded code: CCS 5.8 -> mh_mania_bipolar
            ("29600", 9, "5.8", "BIPOLAR I DISORDER"),
            # ICD-10 MBD026 carve-out: F1021 -> sud_alcohol
            ("F1021", 10, "MBD026", "ALCOHOL DEPENDENCE IN REMISSION"),
            # 5.12 prefix rule: 30400 -> sud_opioid
            ("30400", 9, "5.12", "OPIOID DEPENDENCE"),
            # MBD021 desc rule
            ("F1410", 10, "MBD021", "COCAINE ABUSE UNCOMPLICATED"),
            ("F1510", 10, "MBD021", "OTHER STIMULANT ABUSE"),
            # fallback catalog: MBD010 -> mh_other
            ("F99", 10, "MBD010", "MENTAL DISORDER NOS"),
            # NO HARMS description source
            ("X75XXX", 10, None, "Intentional self-harm by explosive"),
        ],
        "icdcm string, icdcm_version int, ccs_detail_code string,"
        " icdcm_description string",
    )


def test_normalize_codes_and_version_split(spark):
    """Step 3: ICDCM version split (digit/E+injury/V -> 9, alpha -> 10),
    ICD-9 trailing-zero pad, NDC leading-zero pad, longest-raw pick."""
    raw = spark.createDataFrame(
        [
            ("mh", "vs1", "diagnosis", "ICDCM", "296", "BIPOLAR"),
            # same code after padding — longest raw form wins the row
            ("mh", "vs1", "diagnosis", "ICDCM", "29600", "BIPOLAR I"),
            ("mh", "vs1", "diagnosis", "ICDCM", "E950", "SUICIDE AND SELF "
             "INFLICTED POISONING"),
            ("mh", "vs1", "diagnosis", "ICDCM", "V6284", "SUICIDAL IDEATION"),
            ("mh", "vs1", "diagnosis", "ICDCM", "F329", "  major   "
             "depressive disorder "),
            ("sud", "vs2", "pharmacy", "NDC", "1234567", "NALTREXONE"),
        ],
        NEW_SCHEMA,
    )
    out = normalize_value_set_codes(raw)
    rows = {(r["code_set"], r["code"]): r for r in out.collect()}
    assert ("ICD9CM", "29600") in rows
    # the 3-digit raw form collapsed into the 5-digit row
    assert sum(1 for k in rows if k[1] == "29600") == 1
    assert ("ICD9CM", "E9500") in rows  # E-code + injury desc -> ICD-9, padded
    assert ("ICD9CM", "V6284") in rows
    assert rows[("ICD10CM", "F329")]["icdcm_version"] == 10
    # desc squished + upcased
    assert rows[("ICD10CM", "F329")]["desc"] == "MAJOR DEPRESSIVE DISORDER"
    assert ("NDC", "00001234567") in rows


def test_full_assembly_subgroups_and_qa(spark):
    raw = spark.createDataFrame(
        [
            ("mh", "vs1", "diagnosis", "ICDCM", "296", "BIPOLAR I"),
            ("sud", "vs1", "diagnosis", "ICDCM", "F1021", "ALCOHOL DEP"),
            ("sud", "vs1", "diagnosis", "ICDCM", "30400", "OPIOID DEP"),
            ("sud", "vs1", "diagnosis", "ICDCM", "F1410", "COCAINE ABUSE"),
            ("sud", "vs1", "diagnosis", "ICDCM", "F1510", "STIMULANT ABUSE"),
            ("mh", "vs1", "diagnosis", "ICDCM", "F99", "MENTAL DISORDER NOS"),
            # pharmacy: curated list match + manual-desc + regex fallback
            ("mh", "vs2", "pharmacy", "NDC", "1111111111", "SERTRALINE HCL"),
            ("mh", "vs2", "pharmacy", "NDC", "2222222222", "AUVELITY"),
            ("sud", "vs2", "pharmacy", "NDC", "3333333333",
             "NALTREXONE MICROSPHERES"),
        ],
        NEW_SCHEMA,
    )
    curated = spark.createDataFrame(
        [("Sertraline HCl", "Antidepressants Rx")],
        "desc_1 string, sub_group_pharmacy string",
    )
    moud = spark.createDataFrame(
        [("H0033", "oral med administration"), ("H0020", "methadone admin")],
        "procedure_code string, desc string",
    )
    out = build_ref_rda_value_set(
        spark, raw, _ref_icdcm(spark), curated, moud_proc=moud
    )
    rows = {(r["code_set"], r["code"]): r for r in out.collect()}
    assert rows[("ICD9CM", "29600")]["sub_group_condition"] == "mh_mania_bipolar"
    assert rows[("ICD10CM", "F1021")]["sub_group_condition"] == "sud_alcohol"
    assert rows[("ICD9CM", "30400")]["sub_group_condition"] == "sud_opioid"
    # MBD021: COCAINE in desc -> sud_cocaine, else sud_other_stimulant
    assert rows[("ICD10CM", "F1410")]["sub_group_condition"] == "sud_cocaine"
    assert (rows[("ICD10CM", "F1510")]["sub_group_condition"]
            == "sud_other_stimulant")
    # fallback catalog
    assert rows[("ICD10CM", "F99")]["sub_group_condition"] == "mh_other"
    # pharmacy pathways: curated, manual map, regex fallback
    assert (rows[("NDC", "01111111111")]["sub_group_pharmacy"]
            == "pharm_antidepressant")
    assert (rows[("NDC", "01111111111")]["sub_group_condition"]
            == "mh_depression")
    assert (rows[("NDC", "02222222222")]["sub_group_condition"]
            == "mh_depression")
    assert (rows[("NDC", "03333333333")]["sub_group_pharmacy"]
            == "pharm_naltrexone_rx")
    # NO HARMS extras carry the reference description when available
    assert rows[("ICD10CM", "X75XXX")]["sub_group_condition"] == "mh_other"
    assert rows[("ICD10CM", "X75XXX")]["desc"] == (
        "INTENTIONAL SELF-HARM BY EXPLOSIVE"
    )
    assert rows[("ICD10CM", "T4792X")]["desc"] is None
    # MOUD procedure append with the primary-dx flag split
    assert rows[("HCPCS", "H0033")]["oud_dx1_flag"] == 1
    assert rows[("HCPCS", "H0020")]["oud_dx1_flag"] == 0
    qa = qa_rda_value_set(out)
    assert qa == {"dup_codes": 0, "bad_icd9_len": 0, "bad_ndc_len": 0,
                  "null_condition": 0}


def test_no_harms_extra_codes_are_driver_local(spark):
    """The 66 added codes are an Arrow-built ``LocalRelation``: scanning
    them runs no Python worker tasks."""
    from claims_data_spark.tables.rda_value_set import (
        NO_HARMS_ICD10_CODES,
        no_harms_extra_codes,
    )

    extra = no_harms_extra_codes(spark)
    assert extra.isLocal()
    assert extra.count() == len(NO_HARMS_ICD10_CODES) == 66

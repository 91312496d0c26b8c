"""Medicare MBSF eligibility tables (load_stage.mcare_elig_demo.R,
load_stage.mcare_elig_timevar.R)."""
import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403

d_ = datetime.date.fromisoformat


def _enrollment_row(bene="B1", year=2016, zip_cd="98101", birth="1950-01-01",
                    death=None, sex="1", race="1", buyin="3", hmo="0",
                    rx="H1234", dual="02", months=range(1, 13)):
    row = {
        "bene_id": bene, "bene_enrollmt_ref_yr": year, "zip_cd": zip_cd,
        "bene_birth_dt": d_(birth) if birth else None,
        "bene_death_dt": d_(death) if death else None,
        "sex_ident_cd": sex, "rti_race_cd": race,
    }
    for m in range(1, 13):
        on = m in months
        row[f"mdcr_entlmt_buyin_ind_{m:02d}"] = buyin if on else "0"
        row[f"hmo_ind_{m:02d}"] = hmo if on else "0"
        row[f"ptd_cntrct_id_{m:02d}"] = rx if on else "N"
        row[f"dual_stus_cd_{m:02d}"] = dual if on else "00"
    return row


def _enrollment_df(spark, rows):
    return spark.createDataFrame([_enrollment_row(**r) for r in rows])


def test_mcare_elig_demo_recent_and_ever(spark):
    from claims_data_spark.tables.mcare_elig import build_mcare_elig_demo

    rows = [
        # B1: race changes 1 -> 5 (Latino) in later year; sex stable
        {"bene": "B1", "year": 2015, "race": "1", "sex": "2"},
        {"bene": "B1", "year": 2017, "race": "5", "sex": "2",
         "death": "2017-06-15"},
        # B2: multiple genders across years
        {"bene": "B2", "year": 2015, "sex": "1", "race": "2"},
        {"bene": "B2", "year": 2016, "sex": "2", "race": "2"},
    ]
    ref = spark.createDataFrame(
        [("98101", 1), ("99999", 0)], "geo_zip string, geo_kc int"
    )
    out = build_mcare_elig_demo(_enrollment_df(spark, rows), ref)
    d = {r["id_mcare"]: r for r in out.collect()}
    assert len(d) == 2
    b1 = d["B1"]
    # ever-flags across years -> Multiple; recent per max year
    assert b1["race_eth_me"] == "Multiple"
    assert b1["race_eth_recent"] == "Latino"
    assert b1["race_recent"] == "White"       # excludes Latino code
    assert b1["race_latino"] == 1 and b1["race_white"] == 1
    assert b1["gender_me"] == "Female"
    assert b1["death_dt"] == d_("2017-06-15")
    assert b1["geo_kc_ever"] == 1
    b2 = d["B2"]
    assert b2["gender_me"] == "Multiple"
    assert b2["gender_recent"] == "Female"    # 2016 beats 2015
    assert b2["race_me"] == "Black" and b2["race_eth_me"] == "Black"


def test_mcare_elig_timevar_islands_and_death(spark):
    from claims_data_spark.tables.mcare_elig import (
        build_mcare_elig_demo, build_mcare_elig_timevar,
    )

    rows = [
        # covered Jan-Mar and May-Jun (gap in April), dies June 15
        {"bene": "B1", "year": 2016, "buyin": "3", "dual": "02",
         "death": "2016-06-15", "months": [1, 2, 3, 5, 6]},
    ]
    enr = _enrollment_df(spark, rows)
    demo = build_mcare_elig_demo(enr)
    out = build_mcare_elig_timevar(enr, demo).orderBy("from_date")
    segs = out.collect()
    assert len(segs) == 2
    a, b = segs
    # island 1: Jan 1 - Mar 31
    assert a["from_date"] == d_("2016-01-01")
    assert a["to_date"] == d_("2016-03-31")
    assert a["part_a"] == 1 and a["part_b"] == 1   # buyin '3' = A+B
    assert a["part_c"] == 0 and a["part_d"] == 1   # hmo '0'; rx 'H...'
    assert a["full_dual"] == 1 and a["partial_dual"] == 0
    assert a["contiguous"] == 0
    assert a["cov_time_day"] == 91
    # island 2 truncated at death date
    assert b["from_date"] == d_("2016-05-01")
    assert b["to_date"] == d_("2016-06-15")
    assert b["contiguous"] == 0   # 1-month gap


def test_mcare_elig_timevar_contiguous_flag_and_no_cov(spark):
    from claims_data_spark.tables.mcare_elig import build_mcare_elig_timevar

    # B1 split across two MBSF rows: part A only Jan-Jun, A+B Jul-Dec
    # (off months carry no-coverage codes and drop out). B2 has zero
    # coverage in every month.
    rows = [
        {"bene": "B1", "year": 2016, "buyin": "1",
         "months": [1, 2, 3, 4, 5, 6]},
        {"bene": "B1", "year": 2016, "buyin": "3",
         "months": [7, 8, 9, 10, 11, 12]},
        {"bene": "B2", "year": 2016, "buyin": "0", "hmo": "0", "rx": "N",
         "dual": "00", "months": [], "death": "2030-01-01"},
    ]
    out = build_mcare_elig_timevar(_enrollment_df(spark, rows))
    segs = sorted(out.collect(), key=lambda r: (r["id_mcare"], r["from_date"]))
    # B2 has zero coverage months -> dropped entirely
    assert all(s["id_mcare"] == "B1" for s in segs)
    # B1: two attribute islands; the second abuts the first -> contiguous=1
    assert len(segs) == 2
    assert segs[0]["part_a"] == 1 and segs[0]["part_b"] == 0
    assert segs[1]["part_a"] == 1 and segs[1]["part_b"] == 1
    assert segs[1]["from_date"] == d_("2016-07-01")
    assert segs[1]["contiguous"] == 1


def test_mcaid_mcare_elig_demo_merge(spark):
    from claims_data_spark.tables.mcare import build_mcaid_mcare_elig_demo

    xwalk = spark.createDataFrame(
        [(1, "M1", "C1"),     # dual
         (2, "M2", None),     # mcaid solo
         (3, None, "C3")],    # mcare solo
        "id_apde int, id_mcaid string, id_mcare string",
    )
    mcaid = spark.createDataFrame(
        [("M1", d_("1980-01-01"), "Female", 1, 0, 0, None, 1, "SPANISH"),
         ("M2", d_("1990-05-05"), "Male", 0, 1, 0, None, 0, "ENGLISH")],
        "id_mcaid string, dob date, gender_me string, race_white int, "
        "race_black int, race_aian int, race_latino int, race_nhpi int, "
        "lang_max string",
    )
    mcare = spark.createDataFrame(
        [("C1", d_("1980-02-02"), None, 1, 0, 0, 0, 0, 0,
          d_("2020-01-01"), 1),
         ("C3", d_("1955-03-03"), "Male", 0, 0, 0, 0, 0, 0, None, 0)],
        "id_mcare string, dob date, gender_me string, race_white int, "
        "race_black int, race_aian int, race_latino int, race_nhpi int, "
        "race_asian_pi int, death_dt date, geo_kc_ever int",
    )
    out = build_mcaid_mcare_elig_demo(xwalk, mcaid, mcare)
    rows = {r["id_apde"]: r for r in out.collect()}
    assert len(rows) == 3
    dual = rows[1]
    # dob prefers Medicare; gender prefers Medicaid (mcare null anyway)
    assert dual["dob"] == d_("1980-02-02")
    assert dual["gender_me"] == "Female"
    # mcaid race_white=1 wins over mcare's for shared col
    assert dual["race_white"] == 1
    # mcare-only columns flow through; mcaid-only lang too
    assert dual["death_dt"] == d_("2020-01-01")
    assert dual["lang_max"] == "SPANISH"
    assert dual["apde_dual"] == 1
    solo_mcaid = rows[2]
    assert solo_mcaid["apde_dual"] == 0
    assert solo_mcaid["death_dt"] is None
    # race_latino NULL -> null-strict race_unk stays 0 despite others 0
    assert rows[2]["race_unk"] == 0
    solo_mcare = rows[3]
    # all mcare race flags 0 and non-null -> race_unk 1
    assert solo_mcare["race_unk"] == 1
    assert solo_mcare["lang_max"] is None


def test_mcare_elig_month_grain(spark):
    """load_stage.mcare_elig_month.R: month-grain rows (no collapse),
    death truncation, zero-coverage months dropped, period vars."""
    from claims_data_spark.tables.mcare_elig import (
        build_mcare_elig_demo, build_mcare_elig_month,
    )

    rows = [
        {"bene": "B1", "year": 2016, "buyin": "3", "dual": "02",
         "death": "2016-06-15", "months": [1, 2, 3, 5, 6]},
    ]
    enr = _enrollment_df(spark, rows)
    demo = build_mcare_elig_demo(enr)
    ref = spark.createDataFrame(
        [("98101", 1)], "geo_zip string, geo_kc int"
    )
    out = build_mcare_elig_month(enr, demo, ref).orderBy("from_date")
    ms = out.collect()
    # one row per COVERED month: 1,2,3,5,6 (April zero-cov dropped;
    # July+ after death dropped)
    assert [r["year_month"] for r in ms] == [
        201601, 201602, 201603, 201605, 201606
    ]
    jan = ms[0]
    assert jan["from_date"] == d_("2016-01-01")
    assert jan["to_date"] == d_("2016-01-31")
    assert jan["cov_time_day"] == 31 and jan["year_quarter"] == 20161
    assert jan["part_a"] == 1 and jan["part_b"] == 1
    assert jan["full_dual"] == 1 and jan["geo_kc"] == 1
    jun = ms[-1]
    # death month truncated to death date
    assert jun["to_date"] == d_("2016-06-15")
    assert jun["cov_time_day"] == 15 and jun["year_quarter"] == 20162


def test_run_mcare_pipeline_end_to_end(spark):
    """02_master_mcare_claims_analytic.R order: elig demo/timevar/month
    off the MBSF stage, children off the per-filetype extracts, the
    harmonized header gated by the event-family invariants, CCW off
    the children."""
    import tests.fixtures as fx
    from claims_data_spark.pipeline import run_mcare_pipeline

    enr = _enrollment_df(spark, [
        {"bene": "B-1", "year": 2024},
        {"bene": "B-2", "year": 2024, "death": "2024-11-30"},
    ])
    # raw CMS inpatient extract feeding the icdcm/procedure children
    base = spark.createDataFrame(
        [("B-1", "CLM1", "2024-01-10", "2024-01-12", None, "E119", "0",
          "E119", "0", "I10", "0", "0TY10Z0", "1234567893")],
        "bene_id string, clm_id string, clm_from_dt string,"
        " clm_thru_dt string, clm_mdcr_non_pmt_rsn_cd string,"
        " prncpal_dgns_cd string, prncpal_dgns_vrsn_cd string,"
        " icd_dgns_cd1 string, icd_dgns_vrsn_cd1 string,"
        " icd_dgns_cd2 string, icd_dgns_vrsn_cd2 string,"
        " icd_prcdr_cd1 string, at_physn_npi string",
    ).withColumns({"clm_from_dt": F.col("clm_from_dt").cast("date"),
                   "clm_thru_dt": F.col("clm_thru_dt").cast("date")})
    detail = spark.createDataFrame(
        [("B-1", "CLM1", "1", "0450", "99284", None, None)],
        "bene_id string, clm_id string, clm_line_num string,"
        " rev_cntr string, hcpcs_cd string, hcpcs_1st_mdfr_cd string,"
        " rev_cntr_ide_ndc_upc_num string",
    )
    refs = dict(
        ref_xwalk=fx.ref_kc_claim_type_xwalk_mcare(spark),
        ref_pc_oregon=fx.ref_pc_visit_oregon(spark),
    )
    result = run_mcare_pipeline(
        enr,
        claim_sources={"inpatient": base},
        line_sources={"inpatient": (base, detail)},
        harmonized_header=fx.raw_mcare_claim_header(spark),
        harmonized_line=fx.raw_mcare_claim_line(spark),
        **refs,
        strict=False,
    )
    # both Python-built references are read more than once (the
    # header's checkpoint and its gate), so the pipeline caches them
    assert all(any(df is r for df in result.cached) for r in refs.values())
    expect = {"mcare_elig_demo", "mcare_elig_timevar", "mcare_elig_month",
              "mcare_claim_icdcm_header", "mcare_claim_line",
              "mcare_claim_procedure", "mcare_claim_provider",
              "mcare_claim_pharm", "mcare_claim_header"}
    assert expect <= set(result.tables)
    # children carved from the raw extract: 25-dx unpivot + ICD-PCS
    dx = {r["icdcm_raw"] for r in
          result.tables["mcare_claim_icdcm_header"].collect()}
    assert {"E119", "I10"} <= dx
    px = {r["procedure_code"] for r in
          result.tables["mcare_claim_procedure"].collect()}
    assert {"99284", "0TY10Z0"} <= px
    # header invariants hold on the harmonized union
    result.unpersist()
    assert result.failures() == []

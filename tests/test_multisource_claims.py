"""Medicare claim_header + the combined mcaid_mcare layer: dual-source
union through the person crosswalk, cross-source event-id re-minting,
and the cross-source Yale ED episode merge
(``load_stage.mcare_claim_header.R``,
``load_stage.mcaid_mcare_claim_header.R``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import tests.fixtures as fx
from claims_data_spark.qa import fused_table_qa
from claims_data_spark.tables.claim_children import build_claim_icdcm_header
from claims_data_spark.tables.claim_header import build_claim_header
from claims_data_spark.tables.mcare import (
    build_mcaid_mcare_claim_header,
    build_mcare_claim_header,
)


@pytest.fixture(scope="module")
def mcare_header(spark):
    return build_mcare_claim_header(
        fx.raw_mcare_claim_header(spark),
        fx.raw_mcare_claim_line(spark),
        fx.raw_mcare_claim_icdcm(spark),
        fx.raw_mcare_claim_procedure(spark),
        ref_xwalk=fx.ref_kc_claim_type_xwalk_mcare(spark),
        ref_pc_oregon=fx.ref_pc_visit_oregon(spark),
        provider=fx.raw_mcare_claim_provider(spark),
        ref_provider_master=fx.ref_kc_provider_master(spark),
    ).cache()


@pytest.fixture(scope="module")
def mcaid_header(spark):
    raw = fx.raw_mcaid_claim(spark)
    icdcm = build_claim_icdcm_header(raw)
    return build_claim_header(
        raw, icdcm,
        ref_xwalk=fx.ref_claim_type_xwalk(spark),
        ref_hedis=fx.ref_hedis(spark),
        ref_telehealth=fx.ref_telehealth(spark),
        ref_icdcm=fx.ref_icdcm_codes(spark),
    ).cache()


@pytest.fixture(scope="module")
def combined(spark, mcaid_header, mcare_header):
    return build_mcaid_mcare_claim_header(
        mcaid_header, mcare_header, fx.xwalk_apde_mcaid_mcare(spark)
    ).cache()


def test_mcare_flags_and_event_ids(mcare_header):
    rows = {r["claim_header_id"]: r for r in mcare_header.collect()}
    assert rows["C-1001"]["ed_yale_opt"] == 1
    assert rows["C-1001"]["ed_perform"] == 1
    assert rows["C-1003"]["inpatient"] == 1 and rows["C-1003"]["inpatient_id"] == 1
    assert rows["C-2001"]["ed_yale_carrier"] == 1
    assert rows["C-2002"]["pc_visit"] == 1 and rows["C-2002"]["pc_visit_id"] == 1
    # 1-day merge within Medicare alone
    assert rows["C-1001"]["ed_pophealth_id"] == rows["C-1002"]["ed_pophealth_id"] == 1
    assert rows["C-2001"]["ed_pophealth_id"] == 2


def test_combined_cross_source_episode_merge(combined):
    rows = {
        (r["source_desc"], r["claim_header_id"]): r for r in combined.collect()
    }
    # id_apde 1 = Medicaid p1 + Medicare M1. ED dates: mcaid 1/5, 1/6,
    # 1/8; mcare 1/6, 1/7 — the Medicare visits BRIDGE the mcaid gap
    # (1/6 -> 1/7 -> 1/8), so all five claims form ONE episode.
    eps = {
        rows[("mcaid", "1")]["ed_pophealth_id"],
        rows[("mcaid", "2")]["ed_pophealth_id"],
        rows[("mcaid", "3")]["ed_pophealth_id"],
        rows[("mcare", "C-1001")]["ed_pophealth_id"],
        rows[("mcare", "C-1002")]["ed_pophealth_id"],
    }
    assert eps == {1}
    assert rows[("mcare", "C-2001")]["ed_pophealth_id"] == 2
    # id_apde carried through the xwalk on both sides
    assert rows[("mcaid", "1")]["id_apde"] == 1
    assert rows[("mcare", "C-1001")]["id_apde"] == 1
    assert rows[("mcare", "C-2001")]["id_apde"] == 4


def test_combined_inpatient_remint_across_sources(combined):
    rows = {
        (r["source_desc"], r["claim_header_id"]): r for r in combined.collect()
    }
    # person 1 has an mcare discharge 2017-02-05 and an mcaid discharge
    # 2017-02-14 -> two distinct dense inpatient ids, ordered by date
    assert rows[("mcare", "C-1003")]["inpatient_id"] == 1
    assert rows[("mcaid", "4")]["inpatient_id"] == 2


def test_combined_event_ids_single_person_across_sources(combined):
    for ev in ("ed_pophealth_id", "inpatient_id", "ed_perform_id", "pc_visit_id"):
        checks = fused_table_qa(combined, event_ids=[ev], person_id="id_apde")
        one_person = [c for c in checks if c[0].startswith("one-person")][0]
        assert one_person[1], (ev, one_person)
    # combined keys stay unique per (source, claim)
    checks = fused_table_qa(
        combined, unique_keys=["source_desc", "claim_header_id"]
    )
    assert checks[0][1], checks


def test_combined_header_qa_gate(combined):
    """pipeline.combined_header_qa: key uniqueness + one-person +
    dense for all four re-minted families in ONE fused action."""
    from claims_data_spark.pipeline import combined_header_qa

    checks = combined_header_qa(combined)
    names = [c[0] for c in checks]
    assert "unique(source_desc,claim_header_id)" in names
    for ev in ("pc_visit_id", "inpatient_id", "ed_perform_id",
               "ed_pophealth_id"):
        assert f"one-person({ev})" in names
        assert f"dense({ev})" in names
    failing = [c for c in checks if not c[1]]
    assert not failing, failing


def test_mcare_header_qa_gate(mcare_header):
    """pipeline.mcare_header_qa: every event-id family the Medicare
    builder mints has uniqueness/density invariants, one action."""
    from claims_data_spark.pipeline import mcare_header_qa

    checks = mcare_header_qa(mcare_header)
    failing = [c for c in checks if not c[1]]
    assert not failing, failing
    assert sum(1 for c in checks if c[0].startswith("dense(")) == 4


def test_mcaid_mcare_union_children(spark):
    from claims_data_spark.tables.mcare import build_mcaid_mcare_union

    xwalk = spark.createDataFrame(
        [(1, "m1", "c1"), (2, "m2", None), (3, None, "c3")],
        "id_apde long, id_mcaid string, id_mcare string",
    )
    mcaid_line = spark.createDataFrame(
        [("m1", 100, 1001, "0450", "RAC1"), ("m2", 200, 2001, "0300", None)],
        "id_mcaid string, claim_header_id long, claim_line_id long, "
        "revenue_code string, rac_code_line string",
    )
    mcare_line = spark.createDataFrame(
        [("c1", "H100", "L1", "0450", "11", "carrier")],
        "id_mcare string, claim_header_id string, claim_line_id string, "
        "revenue_code string, place_of_service_code string, "
        "filetype_mcare string",
    )
    out = build_mcaid_mcare_union(mcaid_line, mcare_line, xwalk)
    rows = sorted(out.collect(), key=lambda r: (r["source_desc"], r["claim_header_id"]))
    assert [r["source_desc"] for r in rows] == ["mcaid", "mcaid", "mcare"]
    by_claim = {r["claim_header_id"]: r for r in rows}
    # ids minted through the xwalk, claim ids stringified
    assert by_claim["100"]["id_apde"] == 1
    assert by_claim["H100"]["id_apde"] == 1
    # source-specific columns null-filled on the other side
    assert by_claim["100"]["place_of_service_code"] is None
    assert by_claim["100"]["filetype_mcare"] is None
    assert by_claim["H100"]["rac_code_line"] is None
    assert by_claim["H100"]["place_of_service_code"] == "11"
    # schemas align: same column set both sides
    assert set(out.columns) >= {
        "id_apde", "source_desc", "claim_header_id", "claim_line_id",
        "revenue_code", "rac_code_line", "place_of_service_code",
        "filetype_mcare",
    }


def test_mcare_claim_line_filetypes(spark):
    import datetime

    from claims_data_spark.tables.mcare import build_mcare_claim_line

    d_ = datetime.date.fromisoformat
    carrier_line = spark.createDataFrame(
        [("B1", "C1", 1, "1", "P"), ("B1", "C2", 1, "11", "P"),
         ("B9", "C3", 1, "11", "P")],
        "bene_id string, clm_id string, line_num int, "
        "line_place_of_srvc_cd string, line_cms_type_srvc_cd string",
    )
    carrier_base = spark.createDataFrame(
        [("C1", "2019-01-01", "2019-01-01", "1"),
         ("C2", "2019-02-01", "2019-02-01", "D"),   # denied
         ("C3", "2019-03-01", "2019-03-01", "1")],
        "clm_id string, clm_from_dt string, clm_thru_dt string, "
        "carr_clm_pmt_dnl_cd string",
    )
    snf_line = spark.createDataFrame(
        [("B1", "S1", 1, "450")],
        "bene_id string, clm_id string, clm_line_num int, rev_cntr string",
    )
    snf_base = spark.createDataFrame(
        [("S1", "2019-04-01", "2019-04-05", None)],
        "clm_id string, clm_from_dt string, clm_thru_dt string, "
        "clm_mdcr_non_pmt_rsn_cd string",
    )
    enroll = spark.createDataFrame([("B1",)], "bene_id string")
    out = build_mcare_claim_line(
        {"carrier": (carrier_line, carrier_base),
         "snf": (snf_line, snf_base)},
        enroll,
    )
    rows = {r["claim_header_id"]: r for r in out.collect()}
    assert set(rows) == {"C1", "S1"}   # C2 denied, C3 not enrolled
    assert rows["C1"]["place_of_service_code"] == "01"   # zero-padded
    assert rows["C1"]["revenue_code"] is None
    assert rows["C1"]["filetype_mcare"] == "carrier"
    assert rows["S1"]["revenue_code"] == "0450"          # 4-char pad
    assert rows["S1"]["first_service_date"] == d_("2019-04-01")
    assert rows["S1"]["type_of_service"] is None


def test_mcare_claim_icdcm_header_unpivot(spark):
    import datetime

    from claims_data_spark.tables.mcare import build_mcare_claim_icdcm_header

    carrier = spark.createDataFrame(
        [("B1", "C1", "2015-01-01", "2015-01-01", "1", "250", "V700", None),
         ("B1", "C2", "2019-01-01", "2019-01-01", "1", "E1165", " ", None)],
        "bene_id string, clm_id string, clm_from_dt string, "
        "clm_thru_dt string, carr_clm_pmt_dnl_cd string, "
        "icd_dgns_cd1 string, icd_dgns_cd2 string, icd_dgns_cd3 string",
    )
    snf = spark.createDataFrame(
        [("B1", "S1", "2019-02-01", "2019-02-03", None, "I10", "A01")],
        "bene_id string, clm_id string, clm_from_dt string, "
        "clm_thru_dt string, clm_mdcr_non_pmt_rsn_cd string, "
        "icd_dgns_cd1 string, admtg_dgns_cd string",
    )
    enroll = spark.createDataFrame([("B1",)], "bene_id string")
    out = build_mcare_claim_icdcm_header(
        {"carrier": carrier, "snf": snf}, enroll
    )
    rows = {(r["claim_header_id"], r["icdcm_number"]): r
            for r in out.collect()}
    # pre-cutover numeric + V codes pad to 5 and version 9
    assert rows[("C1", "01")]["icdcm_norm"] == "25000"
    assert rows[("C1", "01")]["icdcm_version"] == 9
    assert rows[("C1", "02")]["icdcm_norm"] == "V7000"
    assert rows[("C1", "02")]["icdcm_version"] == 9
    # post-cutover E-led code is ICD-10, untouched; blank dx2 dropped
    assert rows[("C2", "01")]["icdcm_norm"] == "E1165"
    assert rows[("C2", "01")]["icdcm_version"] == 10
    assert ("C2", "02") not in rows
    # admitting dx gets the 'admit' label on SNF
    assert rows[("S1", "admit")]["icdcm_raw"] == "A01"
    assert rows[("S1", "01")]["icdcm_norm"] == "I10"
    assert rows[("S1", "01")]["first_service_date"] == \
        datetime.date(2019, 2, 1)


def test_mcare_claim_procedure_fanout(spark):
    from claims_data_spark.tables.mcare import build_mcare_claim_procedure

    carrier_base = spark.createDataFrame(
        [("B1", "C1", "2019-01-01", "2019-01-01", "1")],
        "bene_id string, clm_id string, clm_from_dt string, "
        "clm_thru_dt string, carr_clm_pmt_dnl_cd string",
    )
    carrier_line = spark.createDataFrame(
        [("C1", "99213", "25", "59", "M1A")],
        "clm_id string, hcpcs_cd string, hcpcs_1st_mdfr_cd string, "
        "hcpcs_2nd_mdfr_cd string, betos_cd string",
    )
    snf_base = spark.createDataFrame(
        [("B1", "S1", "2019-02-01", "2019-02-05", None, "0016070", None)],
        "bene_id string, clm_id string, clm_from_dt string, "
        "clm_thru_dt string, clm_mdcr_non_pmt_rsn_cd string, "
        "icd_prcdr_cd1 string, icd_prcdr_cd2 string",
    )
    snf_rev = spark.createDataFrame(
        [("S1", "97110", " ", None, None)],
        "clm_id string, hcpcs_cd string, hcpcs_1st_mdfr_cd string, "
        "hcpcs_2nd_mdfr_cd string, hcpcs_3rd_mdfr_cd string",
    )
    enroll = spark.createDataFrame([("B1",)], "bene_id string")
    out = build_mcare_claim_procedure(
        {"carrier": (carrier_base, carrier_line),
         "snf": (snf_base, snf_rev)},
        enroll,
    )
    got = {(r["procedure_code"], r["modifier_code"]) for r in out.collect()}
    assert got == {
        ("99213", "25"), ("99213", "59"),   # hcpcs fan-out per modifier
        ("M1A", None),                      # betos, no modifier
        ("97110", None),                    # blank modifiers -> single null row
        ("0016070", None),                  # icd-pcs from base file
    }


def test_mcare_claim_provider_roles(spark):
    from claims_data_spark.tables.mcare import build_mcare_claim_provider

    hha = spark.createDataFrame(
        [("B1", "H1", "2019-01-01", "2019-01-02",
          "1234567890", "9999999999", "bad", "98101", "08")],
        "bene_id string, clm_id string, clm_from_dt string, "
        "clm_thru_dt string, billing string, rendering string, "
        "attending string, provider_zip_rendering string, "
        "provider_specialty_rendering string",
    )
    out = build_mcare_claim_provider({"hha": hha})
    rows = {r["provider_type"]: r for r in out.collect()}
    # invalid NPI ('bad') dropped; valid ones cast to bigint
    assert set(rows) == {"billing", "rendering"}
    assert rows["billing"]["provider_npi"] == 1234567890
    # zip/specialty collapse is role-dependent
    assert rows["rendering"]["provider_zip"] == "98101"
    assert rows["rendering"]["provider_specialty"] == "08"
    assert rows["billing"]["provider_zip"] is None
    assert rows["billing"]["provider_specialty"] is None


def test_mcare_claim_pharm_union(spark):
    import datetime

    from claims_data_spark.tables.mcare import build_mcare_claim_pharm

    d_ = datetime.date.fromisoformat
    snf_rev = spark.createDataFrame(
        [("B1", "S1", 1, "12345678901", 2.5, "UN"),
         ("B1", "S1", 2, "A9999", 1.0, "UN"),      # alpha-led: excluded
         ("B1", "S1", 3, None, 1.0, "UN")],        # null ndc: excluded
        "bene_id string, clm_id string, clm_line_num int, "
        "rev_cntr_ide_ndc_upc_num string, rev_cntr_ndc_qty double, "
        "rev_cntr_ndc_qty_qlfr_cd string",
    )
    snf_base = spark.createDataFrame(
        [("S1", "2019-04-05", None)],
        "clm_id string, clm_thru_dt string, clm_mdcr_non_pmt_rsn_cd string",
    )
    pde = spark.createDataFrame(
        [("B1", "P1", "2019-05-01", "01", "5555555555", "777", "0",
          30.0, 30, 1, 10.0, 0.0, 0.0, 0.0, 90.0, 0.0, 100.0,
          "TAB", "Tablet", "10mg", "PH1", "G", "01"),
         ("B9", "P2", "2019-05-01", "01", "5555555555", "777", "0",
          30.0, 30, 1, 10.0, 0.0, 0.0, 0.0, 90.0, 0.0, 100.0,
          "TAB", "Tablet", "10mg", "PH1", "G", "01")],
        "bene_id string, pde_id string, srvc_dt string, "
        "prscrbr_id_qlfyr_cd string, prscrbr_id string, prod_srvc_id "
        "string, cmpnd_cd string, qty_dspnsd_num double, days_suply_num "
        "int, fill_num int, ptnt_pay_amt double, othr_troop_amt double, "
        "lics_amt double, plro_amt double, cvrd_d_plan_pd_amt double, "
        "ncvrd_plan_pd_amt double, tot_rx_cst_amt double, gcdf string, "
        "gcdf_desc string, str string, ncpdp_id string, brnd_gnrc_cd "
        "string, phrmcy_srvc_type_cd string",
    )
    enroll = spark.createDataFrame([("B1",)], "bene_id string")
    out = build_mcare_claim_pharm({"snf": (snf_rev, snf_base)}, pde, enroll)
    rows = {r["claim_header_id"]: r for r in out.collect()}
    # alpha/null NDCs dropped; unenrolled B9 dropped
    assert set(rows) == {"S1", "P1"}
    s = rows["S1"]
    assert s["ndc"] == "12345678901"
    assert s["filetype_mcare"] == "snf"
    assert s["last_service_date"] == d_("2019-04-05")
    assert s["days_suply_num"] is None
    p = rows["P1"]
    assert p["ndc"] == "00000000777"        # 11-char zero pad
    assert p["prscrbr_npi"] == "5555555555"
    assert float(p["tot_rx_cst_amt"]) == 100.0
    assert p["pharmacy_id"] == "PH1"
    assert p["filetype_mcare"] == "pharmacy"


def test_combined_claim_children_union(spark):
    """Combined-layer icdcm_header + procedure
    (load_stage.mcaid_mcare_claim_icdcm_header.R / ..._procedure.R):
    id_apde minted from each side's id, null-fill of the one-sided
    columns, pinned column order, and the reference's row-count QA."""
    from claims_data_spark.tables.mcare import (
        _COMBINED_ICDCM_COLS,
        _COMBINED_PROC_COLS,
        build_mcaid_mcare_claim_icdcm_header,
        build_mcaid_mcare_claim_procedure,
        combined_child_union_qa,
    )

    xwalk = spark.createDataFrame(
        [("A1", 101, "BENE1"), ("A2", 102, None), ("A3", None, "BENE3")],
        "id_apde string, id_mcaid long, id_mcare string",
    )
    mcaid_icdcm = spark.createDataFrame(
        [(101, 5001, "2024-01-03", "2024-01-03", "E11.9", "E119", 10, "01"),
         (102, 5002, "2024-02-01", "2024-02-01", "I10", "I10", 10, "02")],
        "id_mcaid long, claim_header_id long, first_service_date string,"
        " last_service_date string, icdcm_raw string, icdcm_norm string,"
        " icdcm_version int, icdcm_number string",
    )
    mcare_icdcm = spark.createDataFrame(
        [("BENE3", "CLMX", "2024-03-05", "2024-03-05", "F329", "F329", 10,
          "01", "inpatient")],
        "id_mcare string, claim_header_id string,"
        " first_service_date string, last_service_date string,"
        " icdcm_raw string, icdcm_norm string, icdcm_version int,"
        " icdcm_number string, filetype_mcare string",
    )
    out = build_mcaid_mcare_claim_icdcm_header(
        mcaid_icdcm, mcare_icdcm, xwalk
    )
    assert out.columns == _COMBINED_ICDCM_COLS
    rows = {(r["source_desc"], r["claim_header_id"]): r
            for r in out.collect()}
    assert rows[("mcaid", "5001")]["id_apde"] == "A1"
    assert rows[("mcaid", "5001")]["filetype_mcare"] is None
    assert rows[("mcare", "CLMX")]["id_apde"] == "A3"
    assert rows[("mcare", "CLMX")]["filetype_mcare"] == "inpatient"
    assert combined_child_union_qa(out, mcaid_icdcm, mcare_icdcm) == (
        "union-row-count", True, "combined=3 mcaid=2 mcare=1"
    )

    mcaid_px = spark.createDataFrame(
        [(101, 5001, "2024-01-03", "99213", "01", "25")],
        "id_mcaid long, claim_header_id long, first_service_date string,"
        " procedure_code string, procedure_code_number string,"
        " modifier_code string",
    )
    mcare_px = spark.createDataFrame(
        [("BENE3", "CLMX", "2024-03-05", "2024-03-06", "0450", None,
          "inpatient")],
        "id_mcare string, claim_header_id string,"
        " first_service_date string, last_service_date string,"
        " procedure_code string, modifier_code string,"
        " filetype_mcare string",
    )
    pout = build_mcaid_mcare_claim_procedure(mcaid_px, mcare_px, xwalk)
    assert pout.columns == _COMBINED_PROC_COLS
    prow = {r["source_desc"]: r for r in pout.collect()}
    # each side's one-sided columns null-fill on the other side
    assert prow["mcaid"]["filetype_mcare"] is None
    assert prow["mcaid"]["last_service_date"] is None
    assert prow["mcare"]["procedure_code_number"] is None
    assert prow["mcare"]["id_apde"] == "A3"

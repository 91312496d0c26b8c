"""APCD claim_header family: flags, episode ids, injury columns, and
the reference's QA invariant suite
(``load_stage.apcd_claim_header.R:74-1251``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import tests.fixtures as fx
from claims_data_spark.tables.apcd import (
    build_apcd_claim_header,
    qa_apcd_claim_header,
)


@pytest.fixture(scope="module")
def apcd_header(spark):
    return build_apcd_claim_header(
        fx.raw_apcd_claim_header(spark),
        fx.raw_apcd_claim_line(spark),
        fx.raw_apcd_claim_icdcm(spark),
        fx.raw_apcd_claim_procedure(spark),
        ref_claim_status=fx.ref_apcd_claim_status(spark),
        ref_xwalk=fx.ref_kc_claim_type_xwalk_apcd(spark),
        ref_icdcm=fx.ref_icdcm_codes_apcd(spark),
        ref_pc_oregon=fx.ref_pc_visit_oregon(spark),
        provider=fx.raw_apcd_claim_provider(spark),
        ref_provider_npi=fx.ref_apcd_provider_npi(spark),
        ref_provider_master=fx.ref_kc_provider_master(spark),
    )


def test_apcd_header_excludes_denied_and_cleans_sentinels(apcd_header):
    rows = {r["claim_header_id"]: r for r in apcd_header.collect()}
    assert 7 not in rows  # denied
    assert len(rows) == 7
    assert rows[8]["product_code_id"] is None     # -1 sentinel
    assert rows[8]["type_of_bill_code"] is None   # -2 sentinel
    assert rows[1]["claim_type_apcd_id"] == "2.3.1"
    assert rows[1]["claim_type_id"] == 4


def test_apcd_ed_definitions(apcd_header):
    rows = {r["claim_header_id"]: r for r in apcd_header.collect()}
    # facility outpatient: revenue-code path
    assert rows[1]["ed_yale_opt"] == 1 and rows[1]["ed_perform"] == 1
    assert rows[2]["ed_yale_opt"] == 1 and rows[2]["ed_perform"] == 0
    # carrier: needs ED px AND POS 23
    assert rows[5]["ed_yale_carrier"] == 1
    # inpatient stay is not ED here
    assert rows[4]["ed_yale_ipt"] == 0 and rows[4]["inpatient"] == 1


def test_apcd_ed_pophealth_episode_ids(apcd_header):
    rows = {r["claim_header_id"]: r for r in apcd_header.collect()}
    # d0 and d0+1 merge (1-day window); d0+3 starts a new episode
    assert rows[1]["ed_pophealth_id"] == rows[2]["ed_pophealth_id"] == 1
    assert rows[3]["ed_pophealth_id"] == 2
    assert rows[5]["ed_pophealth_id"] == 3
    assert rows[4]["ed_pophealth_id"] is None
    # per-concept event ids
    assert rows[1]["ed_perform_id"] == 1
    assert rows[4]["inpatient_id"] == 1
    assert rows[6]["pc_visit_id"] == 1 and rows[6]["pc_visit"] == 1
    # PC-visit exclusions: no taxonomy/procedure match -> not a pc visit
    assert rows[8]["pc_visit"] == 0


def test_apcd_bh_and_injury(apcd_header):
    rows = {r["claim_header_id"]: r for r in apcd_header.collect()}
    assert rows[5]["mh_primary"] == 1 and rows[5]["mh_any"] == 1
    assert rows[8]["mh_primary"] == 0 and rows[8]["mh_any"] == 1
    # T-poisoning code: CDC nature inclusion + embedded cause prefix
    assert rows[8]["injury_nature_narrow"] == 1
    assert rows[8]["injury_nature_broad"] == 1
    assert rows[8]["injury_nature_icdcm"] == "T402X1A"
    assert rows[8]["injury_intent"] == "unintentional"
    assert rows[8]["injury_mechanism"] == "poisoning"
    assert rows[1]["injury_nature_broad"] == 0


def test_apcd_qa_suite_green(spark, apcd_header):
    elig = spark.createDataFrame([(101,), (102,)], "id_apcd long")
    results = qa_apcd_claim_header(
        apcd_header, fx.raw_apcd_claim_header(spark),
        elig_demo=elig, elig_timevar=elig,
    )
    failures = [(n, d) for n, ok, d in results if not ok]
    assert not failures, failures
    names = {n for n, _, _ in results}
    assert "ed-pophealth-1day-window" in names
    assert "one-person(inpatient_id)" in names
    assert "dense(ed_pophealth_id)" in names


def test_apcd_qa_catches_violations(spark, apcd_header):
    # corrupt: duplicate a header row and strip a discharge date
    bad = apcd_header.unionByName(apcd_header.limit(1)).withColumn(
        "discharge_date", F.lit(None).cast("date")
    )
    results = qa_apcd_claim_header(bad, fx.raw_apcd_claim_header(spark))
    by_name = {n: ok for n, ok, _ in results}
    assert by_name["unique(claim_header_id)"] is False
    assert by_name["ipt-has-discharge"] is False


def test_apcd_claim_children(spark):
    from claims_data_spark.tables.apcd import (
        build_apcd_claim_icdcm_header,
        build_apcd_claim_line,
        build_apcd_claim_procedure,
        build_apcd_claim_provider,
        qa_apcd_child,
    )

    header = fx.raw_apcd_claim_header(spark)
    d_ = fx.d
    line_raw = spark.createDataFrame(
        [
            # normal line on a live claim
            (101, 1, 11, 1, d_("2019-03-01"), d_("2019-03-01"), "0450", "23",
             d_("2019-03-01"), d_("2019-03-01"), "01", "1", "3"),
            # discharge BEFORE admission -> corrected to last service
            (101, 4, 41, 1, d_("2019-05-01"), d_("2019-05-05"), "0100", "21",
             d_("2019-05-02"), d_("2019-05-01"), "01", "1", "3"),
            # line on the denied claim 7 -> dropped
            (102, 7, 71, 1, d_("2019-07-01"), d_("2019-07-01"), None, "11",
             None, None, None, None, None),
        ],
        "id_apcd long, claim_header_id long, claim_line_id long, "
        "line_counter int, first_service_dt date, last_service_dt date, "
        "revenue_code string, place_of_service_code string, "
        "admission_dt date, discharge_dt date, discharge_status_code string, "
        "admission_point_of_origin_code string, admission_type string",
    ).withColumn("charge_amt", F.lit(10.0))
    lines = {r["claim_header_id"]: r
             for r in build_apcd_claim_line(line_raw, header).collect()}
    assert 7 not in lines
    assert lines[4]["discharge_date"] == d_("2019-05-05")  # corrected
    assert lines[1]["discharge_date"] == d_("2019-03-01")

    icdcm_raw = spark.createDataFrame(
        [
            (101, 1, d_("2019-03-01"), d_("2019-03-01"), "250.00", "25000", 9, "01"),
            (102, 7, d_("2019-07-01"), d_("2019-07-01"), "F32.9", "F329", 10, "01"),
        ],
        "id_apcd long, claim_header_id long, first_service_dt date, "
        "last_service_dt date, icdcm_raw string, icdcm_norm string, "
        "icdcm_version int, icdcm_number string",
    )
    icd = build_apcd_claim_icdcm_header(icdcm_raw, header)
    assert [r["claim_header_id"] for r in icd.collect()] == [1]

    px_raw = spark.createDataFrame(
        [(101, 1, d_("2019-03-01"), d_("2019-03-01"), "99284", None)],
        "id_apcd long, claim_header_id long, first_service_dt date, "
        "last_service_dt date, procedure_code string, modifier_code string",
    )
    px = build_apcd_claim_procedure(px_raw, header)
    assert px.count() == 1

    prov_raw = spark.createDataFrame(
        [(101, 1, d_("2019-03-01"), d_("2019-03-01"), 9001, "R9001", "rendering")],
        "id_apcd long, claim_header_id long, first_service_dt date, "
        "last_service_dt date, provider_id_apcd long, "
        "provider_id_raw_apcd string, provider_type string",
    )
    prov = build_apcd_claim_provider(prov_raw)
    assert prov.collect()[0]["provider_type"] == "rendering"

    elig = spark.createDataFrame([(101,), (102,)], "id_apcd long")
    qa = qa_apcd_child(px, elig_demo=elig, elig_timevar=elig,
                       not_null_col="procedure_code")
    assert all(ok for _, ok, _ in qa), qa


def test_run_apcd_pipeline_end_to_end(spark):
    """07_apcd_create_analytic_tables.R order: elig demo/timevar/month
    -> per-year PLR -> claim children -> provider NPI ref -> header
    gated by the eleven-invariant QA suite."""
    from claims_data_spark.pipeline import run_apcd_pipeline

    mm_rows = []
    for member in (101, 102):
        for i, ym in enumerate((201903, 201904, 201905, 201906)):
            mm_rows.append((member, ym, 40 + (1 if i >= 2 else 0), "F",
                            "98101", "E1", None, None, None, None, None,
                            None, None, None, "E1", None, None))
    mm = spark.createDataFrame(
        mm_rows,
        "internal_member_id long, year_month int, age int,"
        " gender_code string, zip_code string,"
        " med_medicaid_eligibility_id string,"
        " med_medicare_eligibility_id string,"
        " med_commercial_eligibility_id string,"
        " rx_medicaid_eligibility_id string,"
        " rx_medicare_eligibility_id string,"
        " rx_commercial_eligibility_id string,"
        " dental_medicaid_eligibility_id string,"
        " dental_medicare_eligibility_id string,"
        " dental_commercial_eligibility_id string,"
        " medical_eligibility_id string, pharmacy_eligibility_id string,"
        " dental_eligibility_id string",
    )
    elig = spark.createDataFrame(
        [(101, "2019-12-31", 5, 0, 0, None, None),
         (102, "2019-12-31", 3, 0, 0, None, None)],
        "internal_member_id long, eligibility_end_dt string, race_id1 int,"
        " race_id2 int, latino_id int, ethnicity_id1 string,"
        " ethnicity_id2 string",
    )
    hdr = fx.raw_apcd_claim_header(spark)
    icdcm_hdr = fx.raw_apcd_claim_icdcm(spark)
    # child-grain raws carry the service dates the stage projections keep
    icdcm_raw = icdcm_hdr.withColumns({
        "icdcm_raw": F.col("icdcm_norm"),
        "first_service_dt": F.lit("2019-03-01").cast("date"),
        "last_service_dt": F.lit("2019-03-01").cast("date"),
    })
    line_raw = spark.createDataFrame(
        [(101, 1, 11, 1, "2019-03-01", "2019-03-01", 100.0, "0450", "23",
          None, "2019-02-28", None, None, None)],
        "id_apcd long, claim_header_id long, claim_line_id long,"
        " line_counter int, first_service_dt string, last_service_dt"
        " string, charge_amt double, revenue_code string,"
        " place_of_service_code string, admission_dt date,"
        " discharge_dt string, discharge_status_code string,"
        " admission_point_of_origin_code string, admission_type string",
    ).withColumns({
        "first_service_dt": F.col("first_service_dt").cast("date"),
        "last_service_dt": F.col("last_service_dt").cast("date"),
        "discharge_dt": F.col("discharge_dt").cast("date"),
    })
    refs = dict(
        ref_claim_status=fx.ref_apcd_claim_status(spark),
        ref_xwalk=fx.ref_kc_claim_type_xwalk_apcd(spark),
    )
    result = run_apcd_pipeline(
        mm,
        eligibility=elig,
        claim_header_raw=hdr,
        claim_line_raw=line_raw.drop("discharge_date")
        .withColumnRenamed("x", "x"),
        claim_icdcm_raw=icdcm_raw,
        claim_procedure_raw=fx.raw_apcd_claim_procedure(spark)
        .withColumns({
            "id_apcd": F.lit(102).cast("long"),
            "first_service_dt": F.lit("2019-04-10").cast("date"),
            "last_service_dt": F.lit("2019-04-10").cast("date"),
            "modifier_code": F.lit(None).cast("string"),
        }),
        **refs,
        plr_years=[2019],
        strict=False,
    )
    # both Python-built references are read more than once (the
    # header's checkpoint and its gate), so the pipeline caches them
    assert all(any(df is r for df in result.cached) for r in refs.values())
    expect = {"apcd_elig_demo", "apcd_elig_timevar", "apcd_elig_month",
              "apcd_elig_plr_2019", "apcd_claim_header",
              "apcd_claim_line", "apcd_claim_icdcm_header",
              "apcd_claim_procedure"}
    assert expect <= set(result.tables)
    # the line builder: discharge before first service falls back
    lrow = result.tables["apcd_claim_line"].collect()[0]
    assert str(lrow["discharge_date"]) == "2019-03-01"
    # header event ids minted; denied claim 7 excluded
    hdr_out = result.tables["apcd_claim_header"]
    ids = {r["claim_header_id"] for r in hdr_out.collect()}
    assert 7 not in ids and 1 in ids
    # QA log materializes with no hard failures on the fused suite
    fails = [f"{t}:{r[0]}" for t, r in result.failures()]
    result.unpersist()
    assert fails == [], fails

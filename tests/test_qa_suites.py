"""Per-table claim-family QA gates (qa.py round-6 additions): each
suite verified on a passing fixture AND a failing case, mirroring the
reference scripts' pass/fail branches."""

from __future__ import annotations

import pytest

from claims_data_spark.qa import (
    InParent,
    fused_table_qa,
    procedure_code_system,
    promotion_qa,
    qa_mcaid_claim_icdcm_header,
    qa_mcaid_claim_line,
    qa_mcaid_claim_pharm,
    qa_mcaid_claim_procedure,
    qa_rows_per_year,
)

ELIG = [("p1",), ("p2",)]


def _elig(spark):
    return spark.createDataFrame(ELIG, "id_mcaid string")


def _by_name(checks):
    return {name: (ok, detail) for name, ok, detail in checks}


def test_qa_claim_line_pass_and_fail(spark):
    good = spark.createDataFrame(
        [("p1", "L1", "0450"), ("p2", "L2", None)],
        "id_mcaid string, claim_line_id string, rev_code string",
    )
    got = _by_name(qa_mcaid_claim_line(good, _elig(spark),
                                       raw_distinct_lines=2))
    assert all(ok for ok, _ in got.values()), got
    # failing: unknown member + 3-char rev code + alpha rev code
    bad = spark.createDataFrame(
        [("zz", "L1", "045"), ("p1", "L2", "04X0")],
        "id_mcaid string, claim_line_id string, rev_code string",
    )
    got = _by_name(qa_mcaid_claim_line(bad, _elig(spark),
                                       raw_distinct_lines=3))
    assert not got["ids-in-elig"][0]
    assert not got["rev_code-format"][0]
    assert not got["distinct-lines-vs-raw"][0]


def test_qa_claim_pharm_ndc_format(spark):
    good = spark.createDataFrame(
        [("p1", "00002080032")], "id_mcaid string, ndc string"
    )
    assert all(ok for ok, _ in _by_name(
        qa_mcaid_claim_pharm(good, _elig(spark))).values())
    bad = spark.createDataFrame(
        [("p1", "0000208003"), ("p2", "0000208003X")],  # short + alpha
        "id_mcaid string, ndc string",
    )
    got = _by_name(qa_mcaid_claim_pharm(bad, _elig(spark)))
    assert not got["ndc-format"][0]
    assert "violations=2" in got["ndc-format"][1]


def test_procedure_code_system_classifier(spark):
    rows = [
        ("99213", "CPT Category I"),
        ("1126F", "CPT Category II"),
        ("0085T", "CPT Category III"),
        ("0001M", "CPT Other"),
        ("G0439", "HCPCS"),
        ("866", "ICD-9-PCS"),
        ("0016070", "ICD-10-PCS"),
        ("WAT??", "UNKNOWN"),
    ]
    df = spark.createDataFrame(rows, "code string, want string")
    got = df.select(
        "want", procedure_code_system(df["code"]).alias("got")
    ).collect()
    for r in got:
        assert r["got"] == r["want"], (r["want"], r["got"])


def test_qa_claim_procedure_unknown_tolerance(spark):
    df = spark.createDataFrame(
        [("p1", "99213"), ("p1", "BAD!!"), ("p2", "ALSO BAD")],
        "id_mcaid string, procedure_code string",
    )
    got = _by_name(qa_mcaid_claim_procedure(df, _elig(spark)))
    assert got["procedure-code-format"][0]  # 2 unknown < default 50
    got = _by_name(
        qa_mcaid_claim_procedure(df, _elig(spark), unknown_limit=2)
    )
    assert not got["procedure-code-format"][0]


ICDCM_SCHEMA = ("id_mcaid string, icdcm_norm string, icdcm_version int,"
                " icdcm_number string")


def test_qa_claim_icdcm_header_all_checks(spark):
    ref = spark.createDataFrame(
        [("E119", 10), ("25000", 9)], "icdcm string, icdcm_version int"
    )
    good = spark.createDataFrame(
        [("p1", "E119", 10, "01"), ("p2", "25000", 9, "admit")],
        ICDCM_SCHEMA,
    )
    got = _by_name(qa_mcaid_claim_icdcm_header(good, _elig(spark), ref))
    assert all(ok for ok, _ in got.values()), got
    bad = spark.createDataFrame(
        [
            ("zz", "E119", 10, "01"),       # not in elig
            ("p1", "2500", 9, "01"),        # icd9 len 4
            ("p1", "E1190Z299", 10, "01"),  # icd10 len 9
            ("p1", "E119", 10, "13"),       # number out of range
        ],
        ICDCM_SCHEMA,
    )
    got = _by_name(qa_mcaid_claim_icdcm_header(
        bad, _elig(spark), ref, unmatched_dx_limit=1
    ))
    assert not got["ids-in-elig"][0]
    assert not got["icd9-length-5"][0]
    assert not got["icd10-length-3-7"][0]
    assert not got["icdcm_number-range"][0]
    assert not got["dx-in-ref"][0]  # 2 unmatched dx >= limit 1


def test_qa_ids_in_elig_single_check(spark):
    """The single-check suites (qa_stage.mcaid_claim_naloxone.R:9-10,
    qa_stage.mcaid_claim_preg_episode.R:9-10): every id appears in the
    elig tables."""
    def ids_in_elig(df):
        return fused_table_qa(
            df, checks={"ids-in-elig": InParent(_elig(spark), "id_mcaid")}
        )[0]

    ok = spark.createDataFrame([("p1", 1)], "id_mcaid string, x int")
    assert ids_in_elig(ok)[1]
    bad = spark.createDataFrame([("nope", 1)], "id_mcaid string, x int")
    name, passed, detail = ids_in_elig(bad)
    assert not passed and "violations=1" in detail


def test_qa_rows_per_year(spark):
    df = spark.createDataFrame(
        [(2019,)] * 3 + [(2020,)] * 2, "claim_year int"
    )
    ok = qa_rows_per_year(df, "claim_year", {2019: 3, 2020: 1})
    assert ok[0][1]
    bad = qa_rows_per_year(df, "claim_year", {2019: 4, 2020: 2})
    assert not bad[0][1] and "2019: 4->3" in bad[0][2]


def test_promotion_qa(spark):
    stage = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    final = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert all(ok for _, ok, _ in promotion_qa(stage, final))
    short = spark.createDataFrame([(1, "a")], "id int, v string")
    got = _by_name(promotion_qa(stage, short))
    assert not got["row-count-match"][0]
    narrow = spark.createDataFrame([(1,), (2,)], "id int")
    got = _by_name(promotion_qa(stage, narrow))
    assert not got["col-count-match"][0]


def test_qa_claim_moud_new_ndc_gate(spark):
    from claims_data_spark.qa import qa_mcaid_claim_moud

    ok = spark.createDataFrame(
        [("p1", "oral"), ("p2", "injection/implant")],
        "id_mcaid string, admin_method string",
    )
    assert all(k for _, k, _ in qa_mcaid_claim_moud(ok, _elig(spark)))
    bad = spark.createDataFrame(
        [("p1", None), ("zz", "oral")],
        "id_mcaid string, admin_method string",
    )
    got = _by_name(qa_mcaid_claim_moud(bad, _elig(spark)))
    assert not got["ids-in-elig"][0]
    assert not got["no-unclassified-moud-codes"][0]


def test_qa_housing_status_trend_and_dups(spark):
    import datetime as dt

    from claims_data_spark.qa import qa_housing_status

    d = dt.date
    steady = spark.createDataFrame(
        [(f"p{i}", d(2020, m, 1)) for m in (1, 2, 3) for i in range(100)],
        "id_mcaid string, from_date date",
    )
    assert all(k for _, k, _ in qa_housing_status(steady))
    # duplicate (id, from_date) + a 50% month jump
    jumpy = spark.createDataFrame(
        [("p1", d(2020, 1, 1)), ("p1", d(2020, 1, 1))]
        + [(f"p{i}", d(2020, 2, 1)) for i in range(30)]
        + [(f"p{i}", d(2020, 3, 1)) for i in range(60)],
        "id_mcaid string, from_date date",
    )
    got = _by_name(qa_housing_status(jumpy))
    assert not got["no-duplicate-id-from-date"][0]
    assert not got["month-trend-under-5.0pct"][0]


def test_qa_mcare_elig_timevar_pass_and_fail(spark):
    import datetime as dt

    from claims_data_spark.qa import qa_mcare_elig_timevar

    d = dt.date.fromisoformat
    mbsf = spark.createDataFrame([("m1",), ("m2",)], "bene_id string")
    good = spark.createDataFrame(
        [("m1", d("2017-01-01"), d("2017-03-31")),
         ("m1", d("2017-05-01"), d("2017-06-30")),
         ("m2", d("2017-01-01"), d("2017-12-31"))],
        "id_mcare string, from_date date, to_date date",
    )
    got = _by_name(qa_mcare_elig_timevar(good, mbsf))
    assert all(ok for ok, _ in got.values()), got
    # failing: duplicate segment, inverted interval, overlap, and a
    # member missing from the MBSF extract
    bad = spark.createDataFrame(
        [("m1", d("2017-01-01"), d("2017-03-31")),
         ("m1", d("2017-01-01"), d("2017-03-31")),
         ("m1", d("2017-02-01"), d("2017-01-01")),
         ("m2", d("2017-01-01"), d("2017-06-30")),
         ("m3", d("2017-01-01"), d("2017-12-31"))],
        "id_mcare string, from_date date, to_date date",
    )
    got = _by_name(qa_mcare_elig_timevar(bad, mbsf))
    assert not got["distinct-ids-match-mbsf"][0]
    assert any(
        not ok for name, (ok, _) in got.items()
        if name != "distinct-ids-match-mbsf"
    ), got


def test_qa_apcd_claim_provider_pass_and_fail(spark):
    from claims_data_spark.qa import qa_apcd_claim_provider

    raw = spark.createDataFrame(
        [("a1", 1, 101, "billing"), ("a2", 2, 102, "rendering")],
        "id_apcd string, claim_header_id long, provider_id_apcd long,"
        " provider_type string",
    )
    demo = spark.createDataFrame([("a1",), ("a2",)], "id_apcd string")
    got = _by_name(qa_apcd_claim_provider(raw, raw, elig_demo=demo))
    assert all(ok for ok, _ in got.values()), got
    # failing: a minted extra row (parity), a NULL provider id, and a
    # member not in elig
    bad = spark.createDataFrame(
        [("a1", 1, 101, "billing"), ("zz", 2, None, "rendering"),
         ("a2", 3, 103, "attending")],
        "id_apcd string, claim_header_id long, provider_id_apcd long,"
        " provider_type string",
    )
    got = _by_name(qa_apcd_claim_provider(bad, raw, elig_demo=demo))
    assert not got["row-parity-with-raw"][0]
    assert not got["provider_id-not-null"][0]
    assert not got["ids-in-elig"][0]


def test_qa_mcaid_mcare_claim_ccw_pass_and_fail(spark):
    import datetime as dt

    from claims_data_spark.qa import qa_mcaid_mcare_claim_ccw

    d = dt.date.fromisoformat
    ccw = spark.createDataFrame(
        [("x1", "ccw_diabetes", d("2017-01-01"), d("2017-06-30"))],
        "id_apde string, ccw_desc string, first_encounter_date date,"
        " last_encounter_date date",
    )
    header = spark.createDataFrame(
        [("x1", "mcare", 1), ("x2", "mcaid", 2)],
        "id_apde string, source_desc string, claim_header_id long",
    )
    xwalk = spark.createDataFrame(
        [("x1", "mc1"), ("x2", None)], "id_apde string, id_mcare string"
    )
    got = _by_name(qa_mcaid_mcare_claim_ccw(
        ccw, header, xwalk, ["ccw_diabetes"]
    ))
    assert all(ok for ok, _ in got.values()), got
    # failing on all three fronts: a configured condition never ran,
    # a NULL-id_apde header claim, and an mcare-source member whose
    # id is missing from the xwalk
    header_bad = spark.createDataFrame(
        [("x1", "mcare", 1), (None, "mcaid", 2), ("x9", "mcare", 3)],
        "id_apde string, source_desc string, claim_header_id long",
    )
    got = _by_name(qa_mcaid_mcare_claim_ccw(
        ccw, header_bad, xwalk, ["ccw_diabetes", "ccw_hypertension"]
    ))
    assert not got["distinct-conditions-match"][0]
    assert not got["header-id_apde-not-null"][0]
    assert not got["mcare-header-ids-in-xwalk"][0]


@pytest.mark.parametrize("raw_rows, empty", [
    ([], "empty: built, raw"),
    ([("p1", 201701)], "empty: built"),
])
def test_timevar_date_range_names_empty_side(spark, raw_rows, empty):
    from claims_data_spark.qa import timevar_golden_qa

    timevar = spark.createDataFrame(
        [], "id_mcaid string, from_date date, to_date date"
    )
    raw = spark.createDataFrame(
        raw_rows, "MBR_H_SID string, CLNDR_YEAR_MNTH int"
    )
    got = _by_name(timevar_golden_qa(timevar, raw))
    assert got["date-range"] == (False, empty)


@pytest.mark.parametrize("rows, ok, detail", [
    # event 1 spans p1 and p2
    ([(1, "p1"), (1, "p2"), (2, "p3")], False, "multi-person-events=1"),
    # one person per event; NULL persons are ignored
    ([(1, "p1"), (1, None), (2, "p2")], True, "multi-person-events=0"),
    # NULL events never span persons, whoever holds them
    ([(None, "p1"), (None, "p2"), (None, None), (3, "p3")], True,
     "multi-person-events=0"),
    ([(None, None), (None, None)], True, "multi-person-events=0"),
])
def test_one_person_verdict(spark, rows, ok, detail):
    header = spark.createDataFrame(rows, "event_id long, id_mcaid string")
    got = _by_name(fused_table_qa(
        header, event_ids=["event_id"], person_id="id_mcaid"
    ))
    assert got["one-person(event_id)"] == (ok, detail)

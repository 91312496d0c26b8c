"""HEDIS follow-up measures FUA/FUM/FUH against hand-computed cases
(``sp_perf_fua_join_step.sql``, ``sp_perf_fuh_join_step.sql``,
``fn_perf_fua_ed_index_visit_exclusion.sql``)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from claims_data_spark.tables.perf import (
    _flags_within_multi,
    ed_followup_measure,
    fuh_measure,
    thin_events_greedy,
)


def d(s):
    return dt.date.fromisoformat(s)


def test_thin_events_greedy_31_day_rule(spark):
    # greedy kept-set: keep 1/1; 1/15 (<31d) drop; 2/10 (<31d after
    # 1/1? 40d -> KEEP since gap from last KEPT 1/1 is 40); 2/20 (<31d
    # after 2/10) drop; 4/1 keep
    rows = [
        ("p", 1, d("2019-01-01")), ("p", 2, d("2019-01-15")),
        ("p", 3, d("2019-02-10")), ("p", 4, d("2019-02-20")),
        ("p", 5, d("2019-04-01")),
        ("q", 6, d("2019-01-05")),
    ]
    ev = spark.createDataFrame(
        rows, "id_mcaid string, claim_header_id long, first_service_date date"
    )
    kept = {
        r["claim_header_id"]
        for r in thin_events_greedy(ev, ["id_mcaid"], "first_service_date").collect()
    }
    assert kept == {1, 3, 5, 6}


def test_fua_same_day_follow_up_counts(spark):
    ed = spark.createDataFrame(
        [
            # visit with same-day follow-up -> 7 and 30 both 1 (FUA
            # windows are same-day inclusive)
            ("a", 1, d("2019-01-10"), d("2019-01-10")),
            # visit with follow-up at +20 days -> 30-day only
            ("b", 2, d("2019-03-01"), d("2019-03-01")),
            # visit with inpatient admission at +5 days -> EXCLUDED
            ("c", 3, d("2019-05-01"), d("2019-05-01")),
            # visit with no follow-up
            ("e", 4, d("2019-06-01"), d("2019-06-01")),
        ],
        "id_mcaid string, claim_header_id long, "
        "first_service_date date, last_service_date date",
    )
    ipt = spark.createDataFrame(
        [("c", d("2019-05-06"))], "id_mcaid string, first_service_date date"
    )
    fu = spark.createDataFrame(
        [("a", d("2019-01-10")), ("b", d("2019-03-21"))],
        "id_mcaid string, service_date date",
    )
    out = {
        r["claim_header_id"]: r
        for r in ed_followup_measure(ed, ipt, fu, "2019-01-01", "2019-12-31").collect()
    }
    assert 3 not in out  # inpatient exclusion
    assert out[1]["follow_up_7_day"] == 1 and out[1]["follow_up_30_day"] == 1
    assert out[2]["follow_up_7_day"] == 0 and out[2]["follow_up_30_day"] == 1
    assert out[4]["follow_up_7_day"] == 0 and out[4]["follow_up_30_day"] == 0



def test_flags_within_multi_rejects_colliding_payload(spark):
    """Two streams carrying the same payload name would merge into one
    carried column: the fused as-of refuses them."""
    index = spark.createDataFrame(
        [("p", d("2019-01-01"))], "id string, probe date"
    )
    stream = spark.createDataFrame(
        [("p", d("2019-01-03"))], "id string, _ts date"
    ).withColumn("_evt", F.col("_ts"))
    with pytest.raises(ValueError, match="_evt"):
        _flags_within_multi(
            index, "id", "probe", [stream, stream],
            [("_evt", 7, "flag_a"), ("_evt", 30, "flag_b")],
        )

def test_fuh_roll_forward_and_day_after_windows(spark):
    idx = spark.createDataFrame(
        [
            # MI discharge 1/10; MH readmission discharged 1/25 within
            # 30d -> roll forward to the 1/25 stay
            ("a", 10, d("2019-01-05"), d("2019-01-10")),
            # clean MI discharge; same-day FU must NOT count for FUH
            ("b", 20, d("2019-03-01"), d("2019-03-04")),
            # MI discharge followed by a nonacute readmit at +10 -> drop
            ("c", 30, d("2019-05-01"), d("2019-05-03")),
        ],
        "id_mcaid string, claim_header_id long, admit_date date, discharge_date date",
    )
    mh = spark.createDataFrame(
        [("a", 11, d("2019-01-20"), d("2019-01-25"))],
        "id_mcaid string, claim_header_id long, admit_date date, discharge_date date",
    )
    readmits = spark.createDataFrame(
        [("c", d("2019-05-13"))], "id_mcaid string, admit_date date"
    )
    fu = spark.createDataFrame(
        [
            ("a", d("2019-01-27"), "N"),   # +2 after rolled discharge 1/25
            ("b", d("2019-03-04"), "N"),   # same day as discharge -> ignored
            ("b", d("2019-03-20"), "Y"),   # TCM: 30-day only
        ],
        "id_mcaid string, service_date date, only_30_day_fu string",
    )
    out = {
        r["claim_header_id"]: r
        for r in fuh_measure(idx, mh, readmits, fu, "2019-01-01", "2019-12-31").collect()
    }
    # roll-forward replaced stay 10 with stay 11
    assert 10 not in out and 11 in out
    assert out[11]["discharge_date"] == d("2019-01-25")
    assert out[11]["follow_up_7_day"] == 1
    # nonacute readmit exclusion
    assert 30 not in out
    # same-day FU ignored; TCM counts only for the 30-day flag
    assert out[20]["follow_up_7_day"] == 0
    assert out[20]["follow_up_30_day"] == 1


def test_pcr_episodes_and_readmission(spark):
    from claims_data_spark.tables.perf import (
        acute_inpatient_episodes,
        pcr_readmission,
    )

    stays = spark.createDataFrame(
        [
            # person a: stay 1 (1/01-1/05) + direct transfer (1/06-1/10)
            # => one episode; readmitted 1/20 (10 days later)
            ("a", 1, d("2019-01-01"), d("2019-01-05"), "01"),
            ("a", 2, d("2019-01-06"), d("2019-01-10"), "01"),
            ("a", 3, d("2019-01-20"), d("2019-01-22"), "01"),
            # person b: death during stay -> excluded as index
            ("b", 4, d("2019-02-01"), d("2019-02-03"), "20"),
            # person c: same-day admit/discharge -> excluded
            ("c", 5, d("2019-03-01"), d("2019-03-01"), "01"),
            # person e: readmission at day 31 -> outside window
            ("e", 6, d("2019-04-01"), d("2019-04-05"), "01"),
            ("e", 7, d("2019-05-06"), d("2019-05-08"), "01"),
        ],
        "id_mcaid string, claim_header_id long, first_service_date date, "
        "last_service_date date, patient_status string",
    )
    ep = acute_inpatient_episodes(stays)
    rows = {r["claim_header_id"]: r for r in ep.collect()}
    assert rows[1]["episode_id"] == 1 and rows[2]["episode_id"] == 1
    assert rows[2]["stay_id"] == 2
    assert rows[1]["episode_last_service_date"] == d("2019-01-10")
    assert rows[3]["episode_id"] == 2
    assert rows[4]["death_during_stay"] == 1

    no_flags = spark.createDataFrame([], "claim_header_id long, flag int")
    out = {
        (r["id_mcaid"], r["episode_id"]): r
        for r in pcr_readmission(ep, no_flags, no_flags).collect()
    }
    # a's first episode readmitted at day 10; the readmission episode
    # itself is an index stay with no further readmission
    assert out[("a", 1)]["readmission_flag"] == 1
    assert out[("a", 1)]["date_diff"] == 10
    assert out[("a", 2)]["readmission_flag"] == 0
    assert ("b", 1) not in out  # death
    assert ("c", 1) not in out  # same-day
    assert out[("e", 1)]["readmission_flag"] == 0  # day 31 > 30
    assert out[("e", 1)]["readmission_first_service_date"] is None
    assert out[("a", 1)]["year_month"] == 201901


def test_pcr_pregnancy_and_planned_exclusions(spark):
    from claims_data_spark.tables.perf import (
        acute_inpatient_episodes,
        pcr_readmission,
    )

    stays = spark.createDataFrame(
        [
            # f: pregnancy flag on the TRANSFER leg still excludes the episode
            ("f", 10, d("2019-01-01"), d("2019-01-04"), "01"),
            ("f", 11, d("2019-01-05"), d("2019-01-08"), "01"),
            # g: index stay whose first readmission is planned -> dropped
            ("g", 20, d("2019-02-01"), d("2019-02-05"), "01"),
            ("g", 21, d("2019-02-20"), d("2019-02-22"), "01"),
        ],
        "id_mcaid string, claim_header_id long, first_service_date date, "
        "last_service_date date, patient_status string",
    )
    ep = acute_inpatient_episodes(stays)
    preg = spark.createDataFrame([(11, 1)], "claim_header_id long, flag int")
    plan = spark.createDataFrame([(21, 1)], "claim_header_id long, flag int")
    out = {
        (r["id_mcaid"], r["episode_id"]): r
        for r in pcr_readmission(ep, preg, plan).collect()
    }
    assert ("f", 1) not in out          # pregnancy, aggregated over episode
    assert ("g", 1) not in out          # first readmission was planned
    # the planned stay itself is still an index stay (planned_exclusion
    # only kills it as a READMISSION target, per the reference CTE)
    assert out[("g", 2)]["readmission_flag"] == 0


def test_tx_pen_value_set_engine(spark):
    from claims_data_spark.tables.perf import (
        rda_value_set_claims,
        tx_pen_claim_sets,
        tx_pen_measure,
    )

    rda = spark.createDataFrame(
        [
            ("MH", "MH-procedure-value-set", "CPT", "90832"),
            ("MH", "MH-procedure-with-Dx-value-set", "CPT", "99213"),
            ("MH", "MH-Dx-value-set", "ICD10CM", "F329"),
            ("MH", "MH-Dx-value-set", "ICD9CM", "296"),
        ],
        "value_set_group string, value_set_name string, code_set string, code string",
    )
    dx = spark.createDataFrame(
        [
            # primary F32.9 (icd10) on claim 2 -> enables 99213 intersect
            ("p1", 2, d("2019-03-01"), "F329", 10, "01"),
            # secondary dx only on claim 3 -> denominator, not numerator
            ("p2", 3, d("2019-04-01"), "F329", 10, "02"),
            # icd9 code matched against version 9 only
            ("p3", 4, d("2014-04-01"), "296", 9, "01"),
            # version mismatch: F329 under version 9 must NOT match
            ("p4", 5, d("2019-05-01"), "F329", 9, "01"),
        ],
        "id_mcaid string, claim_header_id long, first_service_date date, "
        "icdcm_norm string, icdcm_version int, icdcm_number string",
    )
    px = spark.createDataFrame(
        [
            ("p0", 1, d("2019-01-15"), "90832"),  # direct numerator
            ("p1", 2, d("2019-03-01"), "99213"),  # with-dx rule
            ("p2", 3, d("2019-04-01"), "99213"),  # no primary dx -> denom only
        ],
        "id_mcaid string, claim_header_id long, first_service_date date, "
        "procedure_code string",
    )
    matched = rda_value_set_claims(
        {"icdcm_norm": dx, "procedure_code": px}, rda
    )
    num, den = tx_pen_claim_sets(
        matched,
        numerator_sets=["MH-procedure-value-set"],
        denominator_sets=["MH-Dx-value-set"],
        proc_with_dx_set="MH-procedure-with-Dx-value-set",
        dx_set="MH-Dx-value-set",
    )
    num_ids = {r["id_mcaid"] for r in num.collect()}
    den_ids = {r["id_mcaid"] for r in den.collect()}
    assert num_ids == {"p0", "p1"}
    assert den_ids == {"p0", "p1", "p2", "p3"}  # p4 version-mismatch out

    elig = spark.createDataFrame(
        [("p0", d("1990-01-01")), ("p1", d("2016-06-01")),
         ("p2", d("1980-01-01")), ("p3", d("1970-01-01"))],
        "id_mcaid string, dob date",
    )
    m = {r["id_mcaid"]: r for r in
         tx_pen_measure(num, den, elig, 2019).collect()}
    assert m["p0"]["numerator"] == 1
    assert "p1" not in m               # age 3 on 2019-12-31 < 6
    assert m["p2"]["numerator"] == 0   # need but no treatment
    assert "p3" not in m               # claim outside 24-month window


def test_ah_observation_and_discharges(spark):
    from claims_data_spark.tables.perf import (
        acute_inpatient_episodes,
        ah_classify_discharges,
        ah_discharges,
        ah_observation_stays,
    )

    ipt = spark.createDataFrame(
        [
            ("a", 1, d("2019-01-10"), d("2019-01-14"), "01"),
            ("b", 2, d("2019-02-01"), d("2019-02-02"), "01"),
        ],
        "id_mcaid string, claim_header_id long, first_service_date date, "
        "last_service_date date, patient_status string",
    )
    obs = spark.createDataFrame(
        [
            # became inpatient next day -> excluded
            ("a", 10, d("2019-01-09"), d("2019-01-09"), "01"),
            # standalone observation -> kept
            ("a", 11, d("2019-03-01"), d("2019-03-01"), "01"),
            # same claim is an inpatient claim -> excluded
            ("b", 2, d("2019-02-01"), d("2019-02-02"), "01"),
        ],
        "id_mcaid string, claim_header_id long, first_service_date date, "
        "last_service_date date, patient_status string",
    )
    kept = ah_observation_stays(obs, ipt)
    assert {r["claim_header_id"] for r in kept.collect()} == {11}

    ep = acute_inpatient_episodes(ipt)
    dis = ah_discharges(ep, kept)
    rows = {r["claim_header_id"]: r for r in dis.collect()}
    assert rows[11]["observation_stay"] == 1
    assert rows[1]["observation_stay"] == 0 and rows[2]["observation_stay"] == 0

    matched = spark.createDataFrame(
        [
            (1, "Surgery MS-DRG"),
            (2, "Medicine MS-DRG"),
            (2, "Maternity MS-DRG"),   # exclusion wins
        ],
        "claim_header_id long, value_set_name string",
    )
    cls = ah_classify_discharges(
        dis, matched,
        medicine_sets=["Medicine MS-DRG"],
        surgery_sets=["Surgery MS-DRG", "Surgery"],
        exclusion_sets=["Maternity MS-DRG", "Newborns/Neonates MS-DRG",
                        "IPU Exclusions MS-DRG"],
    )
    out = {r["claim_header_id"]: r for r in cls.collect()}
    assert 2 not in out
    assert out[1]["medicine_surgery"] == "surgery"
    assert out[11]["medicine_surgery"] == "unclassified"


def test_mh_aod_ed_flags(spark):
    from claims_data_spark.tables.perf import mh_aod_ed_flags

    hdr = spark.createDataFrame(
        [
            # episode 1: MH primary dx on one claim, AOD on another
            ("a", 1, 10, "F329", 10),
            ("a", 2, 10, "F1020", 10),
            # episode 2: icd-9 row ignored, unmatched dx ignored
            ("a", 3, 11, "29620", 9),
            ("a", 4, 11, "Z000", 10),
            # not an ED episode
            ("b", 5, None, "F329", 10),
        ],
        "id_mcaid string, claim_header_id long, ed_pophealth_id long, "
        "primary_diagnosis string, icdcm_version int",
    )
    vs = spark.createDataFrame(
        [("Mental Illness", "F329"), ("AOD Abuse and Dependence", "F1020")],
        "value_set_name string, code string",
    )
    out = {r["ed_pophealth_id"]: r for r in mh_aod_ed_flags(hdr, vs).collect()}
    assert out[10]["mental_illness"] == 1
    assert out[10]["aod_abuse_dependence"] == 1
    assert 11 not in out  # no qualifying primary dx -> no row
    assert len(out) == 1

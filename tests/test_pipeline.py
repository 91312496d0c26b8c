"""Master pipeline orchestrator: full DAG on the fixtures with QA
gates, and the strict-QA failure mode."""

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from claims_data_spark.pipeline import run_mcaid_pipeline
from tests import fixtures as fx


def _mcaid_refs(spark):
    clean, geocode = fx.ref_address(spark)
    return dict(
        ref_rac=fx.ref_rac_code(spark),
        ref_address=clean,
        ref_geocode=geocode,
        ref_xwalk=fx.ref_claim_type_xwalk(spark),
        ref_hedis=fx.ref_hedis(spark),
        ref_telehealth=fx.ref_telehealth(spark),
        ref_icdcm=fx.ref_icdcm_codes(spark),
        ref_rda=fx.ref_rda_value_sets(spark),
        ccw_config=[r.asDict() for r in fx.ref_ccw_lookup(spark).collect()],
    )


def test_full_pipeline_with_qa(spark):
    result = run_mcaid_pipeline(
        spark,
        fx.raw_mcaid_elig(spark),
        fx.raw_mcaid_claim(spark),
        **_mcaid_refs(spark),
    )
    assert set(result.tables) == {
        "elig_demo", "elig_timevar", "elig_month", "claim_line",
        "claim_icdcm_header", "claim_procedure", "claim_pharm",
        "claim_header", "claim_ccw", "claim_bh",
    }
    assert result.failures() == []
    log = result.qa_log(spark)
    assert log.filter(F.col("qa_result") == "FAIL").count() == 0
    assert log.count() == len(result.qa)
    # downstream tables materialize
    assert result.tables["claim_ccw"].count() > 0
    assert result.tables["claim_bh"].count() > 0
    result.unpersist()


def test_cached_stage_writes_run_one_job_each(spark, tmp_path):
    """The gates fill each stage's cache, so promoting a cached stage is
    one job that scans the cache and leaves one file (AQE coalesces the
    cached plan), instead of re-running the stage's lineage."""
    from claims_data_spark.sources.io import write_table

    result = run_mcaid_pipeline(
        spark, fx.raw_mcaid_elig(spark), fx.raw_mcaid_claim(spark),
        **_mcaid_refs(spark),
    )
    assert result.failures() == []
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        for name in ("elig_demo", "elig_timevar", "claim_line",
                     "claim_icdcm_header", "claim_procedure", "claim_pharm",
                     "claim_header"):
            out = tmp_path / name
            before = dag.numTotalJobs()
            write_table(result.tables[name], str(out))
            assert dag.numTotalJobs() - before == 1, name
            assert len(list(out.glob("*.parquet"))) == 1, name
    finally:
        result.unpersist()


def test_each_reference_row_is_computed_once(spark):
    """Every row of every Python-built reference is evaluated once
    across the builders, the gates and the writes of every table. The
    pipeline caches the references read more than once (ref_icdcm's
    rows were evaluated 6 times when each reader re-scanned the
    caller's frame) and leaves the three that elig_timevar alone reads
    as given."""
    refs = {}
    seen = {}
    for name, df in _mcaid_refs(spark).items():
        if name == "ccw_config":
            refs[name] = df
            continue
        acc = spark.sparkContext.accumulator(0)
        seen[name] = (acc, len(df.collect()))

        def tick(row, acc=acc):
            acc.add(1)
            return row

        refs[name] = spark.createDataFrame(df.rdd.map(tick), df.schema)
    result = run_mcaid_pipeline(
        spark, fx.raw_mcaid_elig(spark), fx.raw_mcaid_claim(spark), **refs
    )
    try:
        assert result.failures() == []
        read_once = {"ref_rac", "ref_address", "ref_geocode"}
        assert {n for n in seen if any(df is refs[n] for df in result.cached)
                } == set(seen) - read_once
        for df in result.tables.values():
            df.write.format("noop").mode("overwrite").save()
    finally:
        result.unpersist()
    assert {n: acc.value for n, (acc, _) in seen.items()} == {
        n: rows for n, (_, rows) in seen.items()
    }


def test_pipeline_strict_qa_raises(spark):
    # duplicate claim-line rows with different dates break line-key
    # uniqueness -> strict gate must stop the load like the reference
    raw_claim = fx.raw_mcaid_claim(spark)
    dup = raw_claim.unionByName(
        raw_claim.limit(1).withColumn("FROM_SRVC_DATE", F.date_add("FROM_SRVC_DATE", 1))
    )
    with pytest.raises(AssertionError, match="QA FAIL claim_line"):
        run_mcaid_pipeline(
            spark, fx.raw_mcaid_elig(spark), dup,
            ref_xwalk=fx.ref_claim_type_xwalk(spark),
        )
    # non-strict: recorded, not raised
    result = run_mcaid_pipeline(
        spark, fx.raw_mcaid_elig(spark), dup,
        ref_xwalk=fx.ref_claim_type_xwalk(spark),
        strict_qa=False,
    )
    result.unpersist()
    assert any(t == "claim_line" for t, _ in result.failures())


def test_run_mcaid_pipeline_one_action_per_gate(spark, monkeypatch):
    """Each of the seven table gates is one aggregate over its table;
    elig_timevar adds one over the raw extract — 8 QA actions. Actions
    the ``build_*`` functions issue themselves are not QA and not counted."""
    import traceback

    from claims_data_spark import qa

    raw_elig, raw_claim = fx.raw_mcaid_elig(spark), fx.raw_mcaid_claim(spark)
    refs = _mcaid_refs(spark)
    actions = []
    cls = type(raw_elig)
    for name in ("collect", "count"):
        def counted(self, *a, _orig=getattr(cls, name), _name=name, **k):
            if any(f.filename == qa.__file__ for f in traceback.extract_stack()):
                actions.append(_name)
            return _orig(self, *a, **k)
        monkeypatch.setattr(cls, name, counted)
    result = run_mcaid_pipeline(spark, raw_elig, raw_claim, **refs)
    monkeypatch.undo()
    result.unpersist()
    assert len(result.qa) == 22 and result.failures() == []
    assert len(actions) == 8, actions


def test_pipeline_records_claim_members_missing_from_elig(spark):
    # p3 has claims but no elig rows: both membership checks must FAIL
    raw_elig = fx.raw_mcaid_elig(spark).filter(F.col("MBR_H_SID") != "p3")
    result = run_mcaid_pipeline(
        spark, raw_elig, fx.raw_mcaid_claim(spark),
        ref_xwalk=fx.ref_claim_type_xwalk(spark),
        strict_qa=False,
    )
    result.unpersist()
    failed = {(t, r[0]) for t, r in result.failures()}
    assert ("claim_line", "ids-in-elig") in failed
    assert ("claim_header", "claim-members-in-elig") in failed


def test_strict_gate_raises_under_python_O():
    """The strict gate raises explicitly, so ``python -O`` (which strips
    ``assert``) cannot turn a FAIL into a silent pass."""
    code = (
        "from claims_data_spark.qa import gate\n"
        "try:\n"
        "    gate([], 't', ('c', False, 'd'), strict=True)\n"
        "except AssertionError as e:\n"
        "    print(e)\n"
        "else:\n"
        "    raise SystemExit('no raise')\n"
    )
    out = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "QA FAIL t: c (d)" in out.stdout


def test_run_mcaid_mcare_pipeline_end_to_end(spark):
    """master_mcaid_mcare_analytic.R order: xwalk -> children with
    union row-count gates -> combined header with event-family gates
    -> combined CCW. p1/M1 share match cols so the minted id_apde
    links them."""
    from claims_data_spark.pipeline import run_mcaid_mcare_pipeline
    from claims_data_spark.tables.claim_children import (
        build_claim_icdcm_header,
        build_claim_procedure,
    )
    from claims_data_spark.tables.claim_header import build_claim_header
    from claims_data_spark.tables.mcare import build_mcare_claim_header

    mcaid_raw = fx.raw_mcaid_claim(spark)
    mcaid_icdcm = build_claim_icdcm_header(mcaid_raw)
    mcaid_tables = {
        "persons": spark.createDataFrame(
            [("p1", "1980-01-01", "H1"), ("p2", "1990-02-02", "H2"),
             ("p3", "1970-03-03", "H3")],
            "id_mcaid string, dob string, name_hash string",
        ),
        "claim_icdcm_header": mcaid_icdcm,
        "claim_procedure": build_claim_procedure(mcaid_raw),
        "claim_header": build_claim_header(
            mcaid_raw, mcaid_icdcm,
            ref_xwalk=fx.ref_claim_type_xwalk(spark),
            ref_hedis=fx.ref_hedis(spark),
            ref_telehealth=fx.ref_telehealth(spark),
            ref_icdcm=fx.ref_icdcm_codes(spark),
        ),
    }
    mcare_tables = {
        "persons": spark.createDataFrame(
            [("M1", "1980-01-01", "H1"), ("M2", "1960-04-04", "H9")],
            "id_mcare string, dob string, name_hash string",
        ),
        # per-source FINAL child shapes (the harmonized long tables the
        # mcare child builders emit; built synthetically here so the
        # test isolates the combined layer)
        "claim_icdcm_header": spark.createDataFrame(
            [("M1", "C-1001", "2024-01-10", "2024-01-10", "F329", "F329",
              10, "01", "inpatient")],
            "id_mcare string, claim_header_id string,"
            " first_service_date string, last_service_date string,"
            " icdcm_raw string, icdcm_norm string, icdcm_version int,"
            " icdcm_number string, filetype_mcare string",
        ),
        "claim_procedure": spark.createDataFrame(
            [("M1", "C-1001", "2024-01-10", "2024-01-10", "99285", "25",
              "inpatient")],
            "id_mcare string, claim_header_id string,"
            " first_service_date string, last_service_date string,"
            " procedure_code string, modifier_code string,"
            " filetype_mcare string",
        ),
        "claim_header": build_mcare_claim_header(
            fx.raw_mcare_claim_header(spark),
            fx.raw_mcare_claim_line(spark),
            fx.raw_mcare_claim_icdcm(spark),
            fx.raw_mcare_claim_procedure(spark),
            ref_xwalk=fx.ref_kc_claim_type_xwalk_mcare(spark),
            ref_pc_oregon=fx.ref_pc_visit_oregon(spark),
        ),
    }
    result = run_mcaid_mcare_pipeline(
        mcaid_tables, mcare_tables,
        ref_icdcm=fx.ref_icdcm_codes(spark),
        ccw_lookup_rows=[r.asDict() for r in
                         fx.ref_ccw_lookup(spark).collect()],
    )
    assert "xwalk_apde_mcaid_mcare_pha" in result.tables
    xw = result.tables["xwalk_apde_mcaid_mcare_pha"]
    linked = {(r["id_mcaid"], r["id_mcare"]) for r in xw.collect()}
    assert ("p1", "M1") in linked  # shared dob+name_hash -> one id_apde
    for t in ("mcaid_mcare_claim_icdcm_header",
              "mcaid_mcare_claim_procedure",
              "mcaid_mcare_claim_header",
              "mcaid_mcare_claim_ccw"):
        assert t in result.tables, t
    assert result.failures() == []
    log = result.qa_log(spark)
    assert log.count() == len(result.qa)
    assert {r["qa_item"] for r in log.filter(
        F.col("table") == "mcaid_mcare_claim_icdcm_header").collect()
    } == {"union-row-count"}
    combined_icdcm = result.tables["mcaid_mcare_claim_icdcm_header"]
    assert combined_icdcm.filter(F.col("id_apde").isNull()).count() == 0
    srcs = {r["source_desc"] for r in
            combined_icdcm.select("source_desc").distinct().collect()}
    assert srcs == {"mcaid", "mcare"}
    result.unpersist()


def test_xwalk_qa_growth_and_uniqueness(spark):
    from claims_data_spark.qa import xwalk_qa

    xw = spark.createDataFrame(
        [(1, "p1", "M1"), (2, "p2", None), (3, None, "M2")],
        "id_apde long, id_mcaid string, id_mcare string",
    )
    res, counts = xwalk_qa(xw)
    assert all(r[1] for r in res)
    assert counts["row_count"] == 3 and counts["distinct_id_mcaid"] == 2
    # a shrunken refresh fails the growth gates
    res2, _ = xwalk_qa(xw, prior={"row_count": 5, "distinct_id_mcare": 1})
    by = {r[0]: r[1] for r in res2}
    assert not by["row_count-not-shrinking"]
    assert by["distinct_id_mcare-not-shrinking"]


def test_refresh_acceptance_qa(spark):
    """qa_stage.apcd_all_tables_quarterly_refresh.sql: row/col
    inventory, pre-cutoff invariance vs archive, per-extract date
    ranges — one result frame."""
    from claims_data_spark.qa import refresh_acceptance_qa

    stage = spark.createDataFrame(
        [(1, "2017-06-01", 100), (2, "2018-03-01", 100),
         (3, "2018-06-01", 101)],
        "claim_id long, first_service_dt string, extract_id int",
    ).withColumn("first_service_dt", F.col("first_service_dt").cast("date"))
    archive = stage.filter(F.col("claim_id") == 1)  # only the pre-cutoff row
    out = refresh_acceptance_qa(
        {"apcd_medical_claim": stage},
        archive_tables={"apcd_medical_claim": archive},
        cutoff_dates={"apcd_medical_claim":
                      ("first_service_dt", "2017-12-31")},
    ).collect()[0]
    assert out["row_count"] == 3 and out["col_count"] == 3
    assert out["pre_cutoff_rows"] == 1
    assert out["pre_cutoff_match"] == "PASS"
    assert "100:[2017-06-01..2018-03-01]" in out["extract_date_ranges"]

    # a refresh that rewrote pre-cutoff history FAILS the gate
    bad_archive = stage.limit(0)
    bad = refresh_acceptance_qa(
        {"apcd_medical_claim": stage},
        archive_tables={"apcd_medical_claim": bad_archive},
        cutoff_dates={"apcd_medical_claim":
                      ("first_service_dt", "2017-12-31")},
    ).collect()[0]
    assert bad["pre_cutoff_match"] == "FAIL"

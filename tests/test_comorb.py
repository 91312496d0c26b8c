"""Comorbidity catalog expansion + scoring
(ref: load_ref.comorb_ref_tables.sql)."""
from __future__ import annotations

from pyspark.sql import functions as F

from claims_data_spark.tables.comorb import (
    _rules_df,
    build_comorb_cond_lookup,
    build_comorb_dx_lookup,
    build_comorb_scores,
    build_comorb_value_set,
)
from claims_data_spark.tables.comorb_catalog import COMORB_COND_LOOKUP


def test_cond_lookup_shape(spark):
    df = build_comorb_cond_lookup(spark)
    assert df.count() == 43
    chf = df.where("short_name = 'CHF'").first()
    assert (chf.elixhauser_wgt, chf.charlson_wgt, chf.gagne_wgt) == (1, 1, 2)
    hiv = df.where("short_name = 'HIVAIDS'").first()
    assert (hiv.elixhauser_wgt, hiv.charlson_wgt, hiv.gagne_wgt) == (1, 6, -1)


def test_static_catalogs_are_driver_local(spark):
    """Both memoized catalogs are Arrow-built ``LocalRelation`` frames:
    scanning them runs no Python worker tasks."""
    assert build_comorb_cond_lookup(spark).isLocal()
    assert _rules_df(spark).isLocal()


def test_value_set_known_codes(spark):
    # hand-picked codes straight out of the published Quan tables
    dx = spark.createDataFrame(
        [
            ("4280", 9),    # CHF (ICD9_3 = '428')
            ("42821", 9),   # CHF
            ("I500", 10),   # CHF (ICD10_3 = 'I50')
            ("4011", 9),    # HypertU (ICD9_3 = '401')
            ("40301", 9),   # HypertC (range 403-405) + RenalFail_El (40301)
            ("C341", 10),   # lung cancer: Tumor_El + Tumor_Ch (C30-C34 ranges)
            ("C780", 10),   # Metastatic (C77-C80)
            ("E1140", 10),  # DiabC (E11.4x)
            ("Z992", 10),   # RenalFail (dialysis status)
            ("XYZ", 10),    # matches nothing
        ],
        "dx string, dx_ver int",
    )
    vs = build_comorb_value_set(spark, dx)
    got = {
        (r.dx, r.short_name)
        for r in vs.select("dx", "short_name").collect()
    }
    assert ("4280", "CHF") in got
    assert ("42821", "CHF") in got
    assert ("I500", "CHF") in got
    assert ("4011", "HypertU") in got
    assert ("40301", "HypertC") in got
    assert ("C341", "Tumor_El") in got and ("C341", "Tumor_Ch") in got
    assert ("C780", "Metastatic") in got
    assert ("Z992", "RenalFail_Ch") in got
    assert not any(d == "XYZ" for d, _ in got)
    # weights ride along
    row = vs.where("dx = '4280' AND short_name = 'CHF'").first()
    assert (row.elixhauser_wgt, row.charlson_wgt, row.gagne_wgt) == (1, 1, 2)
    assert row.flag == 1


def test_dx_lookup_wide_matrix(spark):
    dx = spark.createDataFrame(
        [("4280", 9), ("C780", 10)], "dx string, dx_ver int"
    )
    vs = build_comorb_value_set(spark, dx)
    wide = build_comorb_dx_lookup(vs)
    assert wide.count() == 2
    assert len(wide.columns) == 2 + len(COMORB_COND_LOOKUP)
    chf_row = wide.where("dx = '4280'").first()
    assert chf_row["CHF"] == 1 and chf_row["Metastatic"] == 0


def test_scores_supersession(spark):
    dx_cat = spark.createDataFrame(
        [("C341", 10), ("C780", 10), ("I500", 10), ("E1140", 10), ("E119", 10)],
        "dx string, dx_ver int",
    )
    vs = build_comorb_value_set(spark, dx_cat)
    events = spark.createDataFrame(
        [
            # person A: metastatic + solid tumor + CHF
            ("A", "C341", 10), ("A", "C780", 10), ("A", "I500", 10),
            # person B: solid tumor only
            ("B", "C341", 10),
            # person C: complicated + uncomplicated diabetes
            ("C", "E1140", 10), ("C", "E119", 10),
        ],
        "id_mcaid string, dx string, dx_ver int",
    )
    out = build_comorb_scores(events, vs).collect()
    by_id = {r.id_mcaid: r for r in out}
    a, b, c = by_id["A"], by_id["B"], by_id["C"]
    # A: charlson = CHF(1) + Metastatic(6); Tumor_Ch superseded
    assert a.charlson_score == 7
    # A: elixhauser = CHF(1) + Metastatic(1); Tumor_El superseded
    assert a.elixhauser_score == 2
    # B: charlson = Tumor_Ch alone = 2
    assert b.charlson_score == 2 and b.Metastatic == 0
    # C: charlson DiabC(2) supersedes DiabU(1)
    assert c.charlson_score == 2
    assert c.DiabC_Ch == 1 and c.DiabU_Ch == 1  # flags stay raw


def test_scores_date_window(spark):
    dx_cat = spark.createDataFrame([("I500", 10)], "dx string, dx_ver int")
    vs = build_comorb_value_set(spark, dx_cat)
    events = spark.createDataFrame(
        [("A", "I500", 10, "2019-06-01"), ("B", "I500", 10, "2021-01-01")],
        "id_mcaid string, dx string, dx_ver int, sd string",
    ).selectExpr("id_mcaid", "dx", "dx_ver", "cast(sd as date) as sd")
    out = build_comorb_scores(
        events, vs, date_col="sd", from_date="2019-01-01", to_date="2019-12-31"
    )
    ids = {r.id_mcaid for r in out.collect()}
    assert ids == {"A"}


def test_python_matcher_equals_spark_expansion(spark):
    """The driver-side rule matcher (compile_comorb_masks) must agree
    with the distributed value-set expansion on a catalog mixing
    ICD-9/ICD-10, matching and non-matching codes."""
    from claims_data_spark.tables.comorb import compile_comorb_masks

    codes = [
        ("I500", 10), ("C341", 10), ("C780", 10), ("E1140", 10),
        ("E119", 10), ("J449", 10), ("F329", 10), ("I10", 10),
        ("X000", 10), ("N184", 10), ("42800", 9), ("1960", 9),
        ("25000", 9), ("ZZZZ", 9),
    ]
    dx_cat = spark.createDataFrame(codes, "dx string, dx_ver int")
    vs = build_comorb_value_set(spark, dx_cat)
    want = {
        (r["dx_ver"], r["dx"]): r["m"]
        for r in vs.groupBy("dx_ver", "dx")
        .agg(F.expr("bit_or(cast(1 as bigint) << cond_id)").alias("m"))
        .collect()
    }
    got = compile_comorb_masks(codes)
    assert got == want
    # non-matching codes appear in neither
    assert (10, "X000") not in got and (9, "ZZZZ") not in got


def test_compiled_masks_path_equals_value_set_path(spark):
    """build_comorb_scores(compiled_masks=...) must produce identical
    rows to the value_set DataFrame path."""
    from claims_data_spark.tables.comorb import compile_comorb_masks

    codes = [("I500", 10), ("C341", 10), ("C780", 10), ("E119", 10)]
    dx_cat = spark.createDataFrame(codes, "dx string, dx_ver int")
    vs = build_comorb_value_set(spark, dx_cat)
    events = spark.createDataFrame(
        [("A", "C341", 10), ("A", "C780", 10), ("B", "I500", 10),
         ("B", "E119", 10), ("C", "X000", 10)],
        "id_mcaid string, dx string, dx_ver int",
    )
    via_vs = sorted(
        map(tuple, build_comorb_scores(events, vs).collect())
    )
    via_masks = sorted(
        map(tuple, build_comorb_scores(
            events, None, compiled_masks=compile_comorb_masks(codes)
        ).collect())
    )
    assert via_vs == via_masks
    # person C (no matching dx) dropped on both paths
    assert len(via_vs) == 2

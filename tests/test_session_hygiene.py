"""Engine code leaves the shared session as the caller configured it:
no session-conf writes and no cache entries left behind by the
dense-id builders, the centroid rankers or the combined claim header;
the master pipelines' stage and reference caches are owned by their
result and released by it, also when a strict gate stops the load."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import claims_data_spark
import tests.fixtures as fx
from claims_data_spark.operators.episodes import episode_table
from claims_data_spark.pipeline import run_mcaid_pipeline
from claims_data_spark.tables.mcare import build_mcaid_mcare_claim_header
from claims_data_spark.tables.pregnancy import build_preg_episodes
from claims_data_spark.tables.xwalk import build_xwalk


def d(s):
    return dt.date.fromisoformat(s)


def test_no_session_conf_writes_in_engine():
    """Operators and builders never call ``conf.set(``: a session-wide
    toggle inside an operator races with concurrent queries on the
    same session."""
    pkg = Path(claims_data_spark.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "conf.set(" in line
    ]
    assert offenders == []


def test_dense_id_builders_leave_no_cached_plans(spark):
    """The dense-id callers (collapsed episodes, the person crosswalk,
    placed pregnancy endpoints) register nothing in the session's cache
    manager: a persist with no owner to unpersist it holds executor
    memory for the life of the session."""
    spark.catalog.clearCache()
    events = spark.createDataFrame(
        [(1, d("2020-01-01")), (1, d("2020-01-02")), (1, d("2020-01-04")),
         (2, d("2020-01-01"))],
        "id int, visit date",
    )
    episode_table(events, ["id"], "visit").collect()
    mcaid = spark.createDataFrame(
        [("p1", d("1990-01-01"), "h1"), ("p2", d("1985-02-02"), "h2")],
        "id_mcaid string, dob date, name_hash string",
    )
    mcare = spark.createDataFrame(
        [("M1", d("1990-01-01"), "h1")],
        "id_mcare string, dob date, name_hash string",
    )
    build_xwalk(mcaid, mcare, ["dob", "name_hash"]).collect()
    endpoints = spark.createDataFrame(
        [("w1", d("2018-01-10"), 1, 0, 0, 0, 0, 0, 0),
         ("w2", d("2019-02-01"), 0, 1, 0, 0, 0, 0, 0)],
        "id_mcaid string, last_service_date date, lb int, ect int, ab int, "
        "sa int, sb int, tro int, deliv int",
    )
    build_preg_episodes(endpoints).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_centroid_rankers_leave_no_cached_plans(spark):
    """semantic_dedup and diversity_sample register nothing in the
    session's cache manager: the Arrow ranker's assignment is
    recomputed by each consumer, never persisted without an owner."""
    from claims_data_spark.operators.similarity import (
        diversity_sample,
        semantic_dedup,
    )

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]),
         (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    semantic_dedup(df, centroid_ids=[0, 2], threshold=0.98).collect()
    diversity_sample(
        df, "embedding", "vec_id", [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], 1
    ).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_combined_claim_header_leaves_no_cached_plans(spark):
    """build_mcaid_mcare_claim_header caches nothing: its caller owns
    any cache of the source headers it reads three times."""
    spark.catalog.clearCache()
    mcaid = spark.createDataFrame(
        [("p1", "1", 4, d("2024-01-05"), d("2024-01-05"), 1)],
        "id_mcaid string, claim_header_id string, claim_type_id int, "
        "first_service_date date, last_service_date date, "
        "ed_pophealth_id long",
    )
    mcare = spark.createDataFrame(
        [("M1", "C-1", 4, d("2024-01-06"), d("2024-01-06"), 1)],
        "id_mcare string, claim_header_id string, claim_type_id int, "
        "first_service_date date, last_service_date date, "
        "ed_pophealth_id long",
    )
    rows = build_mcaid_mcare_claim_header(
        mcaid, mcare, fx.xwalk_apde_mcaid_mcare(spark)
    ).collect()
    assert len(rows) == 2
    assert _cache_is_empty(spark)


def test_pipeline_result_releases_its_stage_cache(spark):
    """run_mcaid_pipeline caches its multiply-read stages and the
    reference it is given (7 stages plus ref_xwalk), and the result's
    unpersist() releases every one of them."""
    spark.catalog.clearCache()
    result = run_mcaid_pipeline(
        spark, fx.raw_mcaid_elig(spark), fx.raw_mcaid_claim(spark),
        ref_xwalk=fx.ref_claim_type_xwalk(spark),
    )
    assert result.failures() == []
    assert len(result.cached) == 8 and not _cache_is_empty(spark)
    result.unpersist()
    assert result.cached == [] and _cache_is_empty(spark)


def test_strict_gate_failure_releases_stage_cache(spark):
    """A strict gate that stops the load releases the stages and the
    references cached before it: duplicate claim lines fail
    claim_line's gate after the Python-built ref_xwalk and ref_icdcm,
    elig_demo, elig_timevar and claim_line were cached."""
    spark.catalog.clearCache()
    raw_claim = fx.raw_mcaid_claim(spark)
    dup = raw_claim.unionByName(
        raw_claim.limit(1).withColumn(
            "FROM_SRVC_DATE", F.date_add("FROM_SRVC_DATE", 1)
        )
    )
    with pytest.raises(AssertionError, match="QA FAIL claim_line"):
        run_mcaid_pipeline(
            spark, fx.raw_mcaid_elig(spark), dup,
            ref_xwalk=fx.ref_claim_type_xwalk(spark),
            ref_icdcm=fx.ref_icdcm_codes(spark),
        )
    assert _cache_is_empty(spark)


def test_pipeline_leaves_cached_and_local_references_as_given(spark):
    """A reference the caller already cached and a driver-local one (a
    ``LocalRelation``) are used as given: neither is recorded in the
    result's cache, and both are as the caller left them after
    ``unpersist()``."""
    spark.catalog.clearCache()
    xwalk = fx.ref_claim_type_xwalk(spark).cache()
    hedis = spark.createDataFrame(fx.ref_hedis(spark).toArrow())
    assert hedis.isLocal()
    result = run_mcaid_pipeline(
        spark, fx.raw_mcaid_elig(spark), fx.raw_mcaid_claim(spark),
        ref_xwalk=xwalk, ref_hedis=hedis,
    )
    assert result.failures() == []
    assert not any(df is xwalk or df is hedis for df in result.cached)
    result.unpersist()
    assert xwalk.storageLevel.useMemory
    assert not hedis.storageLevel.useMemory and hedis.isLocal()
    xwalk.unpersist()
    assert _cache_is_empty(spark)


def test_cache_stage_leaves_caller_caches_to_their_owner(spark):
    """A stage the caller already cached is not recorded, so the
    pipeline result's unpersist() cannot release the caller's cache."""
    from claims_data_spark.pipeline import PipelineResult, cache_stage

    spark.catalog.clearCache()
    res = PipelineResult()
    callers = spark.range(3).cache()
    assert cache_stage(callers, res.cached) is callers
    ours = cache_stage(spark.range(4), res.cached)
    assert res.cached == [ours]
    res.unpersist()
    assert callers.storageLevel.useMemory
    assert not ours.storageLevel.useMemory
    callers.unpersist()
    assert _cache_is_empty(spark)

"""Engine code leaves the shared session as the caller configured it:
no session-conf writes and no cache entries left behind by the
dense-id builders or the centroid rankers."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import claims_data_spark
from claims_data_spark.operators.episodes import episode_table
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

"""Operator unit tests: modes, episodes, dense ids, rolling frames,
unpivot, tabulation/suppression, as-of joins, prefix join, dynamic
predicates, scalar functions, schema registry."""

import datetime as dt

from pyspark.sql import functions as F

from claims_data_spark.functions.datetime import (
    tsql_datediff_month,
    yyyymm_add,
)
from claims_data_spark.functions.strings import (
    like_charset_to_regex,
    normalize_icdcm,
    icdcm_version,
)
from claims_data_spark.operators.asof import asof_join
from claims_data_spark.operators.dense_id import dense_global_id
from claims_data_spark.operators.episodes import episode_table
from claims_data_spark.operators.mode import mode_value
from claims_data_spark.operators.rolling import (
    densify_months,
    rolling_month_agg,
    sparse_rolling_month_sum,
)
from claims_data_spark.operators.tabulate import suppress, tabloop, zero_fill
from claims_data_spark.operators.unpivot import unpivot, unpivot_with_fanout
from claims_data_spark.plans.predicates import apply_filters
from claims_data_spark.plans.prefix_join import prefix_join
from claims_data_spark.schema import SchemaRegistry, sql_type_to_spark


def d(s):
    return dt.date.fromisoformat(s)


# --- modes -----------------------------------------------------------------

def test_mode_frequency_and_tiebreak(spark):
    df = spark.createDataFrame(
        [("p1", "EN"), ("p1", "EN"), ("p1", "ES"), ("p2", "ES"), ("p2", "EN")],
        "id string, lang string",
    )
    out = {r["id"]: r["lang"] for r in mode_value(df, ["id"], "lang").collect()}
    assert out == {"p1": "EN", "p2": "EN"}  # p2 ties -> ascending value


def test_mode_weighted(spark):
    df = spark.createDataFrame(
        [("p1", "98101", 10), ("p1", "98101", 10), ("p1", "98052", 300)],
        "id string, zip string, cov_days int",
    )
    out = mode_value(
        df, ["id"], "zip", weight=F.col("cov_days"), keep_weight_as="days"
    ).collect()
    assert out[0]["zip"] == "98052" and out[0]["days"] == 300


# --- episodes + dense ids (FIXTURES.md §14.3) ------------------------------

def test_episode_merging_golden(spark):
    df = spark.createDataFrame(
        [("p", d("2020-01-01")), ("p", d("2020-01-02")), ("p", d("2020-01-04"))],
        "id string, visit date",
    )
    eps = episode_table(df, ["id"], "visit", merge_gap_days=1).orderBy("episode_start")
    rows = eps.collect()
    assert len(rows) == 2
    assert (rows[0]["episode_start"], rows[0]["episode_end"], rows[0]["n_events"]) == (
        d("2020-01-01"), d("2020-01-02"), 2,
    )
    assert rows[1]["episode_start"] == d("2020-01-04")
    assert sorted(r["episode_id"] for r in rows) == [1, 2]


def test_dense_global_id_matches_dense_rank(spark):
    df = spark.createDataFrame(
        [(i % 7, i % 13) for i in range(200)], "a int, b int"
    )
    out = dense_global_id(df, ["a", "b"], out_col="gid")
    expected = df.withColumn(
        "gid_exp",
        F.dense_rank().over(__import__("pyspark").sql.Window.orderBy("a", "b")),
    )
    joined = out.join(expected, ["a", "b"]).filter(F.col("gid") != F.col("gid_exp"))
    assert joined.count() == 0
    # dense: ids are 1..N with no holes
    ids = sorted(r["gid"] for r in out.select("gid").distinct().collect())
    assert ids == list(range(1, len(ids) + 1))


def test_dense_global_id_nulls_strings_batches(spark):
    """The one-pass mint must agree with the un-partitioned
    DENSE_RANK oracle on a key mix with NULLs in both key columns and
    string keys, across tiny Arrow batches (carried key state) and
    multiple range partitions."""
    import random

    from pyspark.sql import Window

    rng = random.Random(11)
    rows = []
    for i in range(300):
        a = rng.choice([None, "x", "y", "zz", ""])
        b = rng.choice([None, 1, 2, 3, 4, 5])
        rows.append((i, a, b))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "13")
    try:
        df = spark.createDataFrame(rows, "rid long, a string, b int")
        out = dense_global_id(
            df, ["a", "b"], out_col="gid", num_partitions=5
        )
        got = {r["rid"]: r["gid"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    expected = df.withColumn(
        "gid_exp", F.dense_rank().over(Window.orderBy("a", "b"))
    )
    want = {r["rid"]: r["gid_exp"] for r in expected.collect()}
    assert got == want
    ids = sorted(set(got.values()))
    assert ids == list(range(1, len(ids) + 1))


def test_dense_global_id_dates(spark):
    """date32 keys go through the epoch-day cast path."""
    from pyspark.sql import Window

    rows = [
        (i, i % 9, d("2020-01-01") + dt.timedelta(days=i % 11))
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "rid long, k int, dte date")
    out = dense_global_id(df, ["k", "dte"], out_col="gid", num_partitions=3)
    expected = df.withColumn(
        "gid_exp", F.dense_rank().over(Window.orderBy("k", "dte"))
    )
    got = {r["rid"]: r["gid"] for r in out.collect()}
    want = {r["rid"]: r["gid_exp"] for r in expected.collect()}
    assert got == want


def test_dense_global_id_float_nan(spark):
    """Float keys with NaN: DENSE_RANK treats NaN as equal to itself
    (one rank group, ordered above every number in Spark), and NULL,
    NaN and 0.0 are three distinct rank groups."""
    from pyspark.sql import Window

    nan = float("nan")
    rows = [
        (0, nan), (1, nan), (2, 1.5), (3, None), (4, 0.0),
        (5, nan), (6, 1.5), (7, None), (8, 0.0), (9, 2.5),
    ]
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        df = spark.createDataFrame(rows, "rid long, v double")
        out = dense_global_id(df, ["v"], out_col="gid", num_partitions=2)
        got = {r["rid"]: r["gid"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    expected = df.withColumn(
        "gid_exp", F.dense_rank().over(Window.orderBy("v"))
    )
    want = {r["rid"]: r["gid_exp"] for r in expected.collect()}
    assert got == want
    # all NaN rows share ONE rank
    assert got[0] == got[1] == got[5]


# --- rolling (FIXTURES.md §14.7) --------------------------------------------

def test_rolling_12m_enrollment(spark):
    # enrolled 7 of the last 12 months at the series edge
    months = [202001 + i for i in range(5)] + [202008 + i for i in range(2)]
    df = spark.createDataFrame([("p", m, 1) for m in months], "id string, ym int, enrolled int")
    dense = densify_months(df, ["id"], "ym", 202001, 202012, fill={"enrolled": 0})
    rolled = rolling_month_agg(dense, ["id"], "ym", {"enr_12m": ("enrolled", -11, 0)})
    end = rolled.filter(F.col("ym") == 202012).collect()[0]
    assert end["enr_12m"] == 7
    assert rolled.count() == 12


def test_sparse_rolling_equals_densified_window(spark):
    """The scatter-gather rolling sum must agree exactly with the
    densify+window idiom on the rows whose rolling sum is non-zero —
    including year boundaries and gap months that receive only
    carried-over contributions."""
    import random

    rng = random.Random(7)
    rows = []
    for pid in ("a", "b", "c"):
        for _ in range(20):
            ym = 201800 + rng.randint(1, 12) + 100 * rng.randint(0, 3)
            rows.append((pid, ym, rng.randint(1, 5)))
    df = spark.createDataFrame(rows, "id string, ym int, v int")
    monthly = df.groupBy("id", "ym").agg(F.sum("v").alias("v"))
    dense = densify_months(monthly, ["id"], "ym", 201801, 202112, fill={"v": 0})
    want = {
        (r["id"], r["ym"]): (r["r12"], r["v"])
        for r in rolling_month_agg(
            dense, ["id"], "ym", {"r12": ("v", -11, 0)}
        ).filter(F.col("r12") > 0).collect()
    }
    got = {
        (r["id"], r["ym"]): (r["r12"], r["cur"])
        for r in sparse_rolling_month_sum(
            df, ["id"], "ym", window_months=12, ym_min=201801, ym_max=202112,
            value=F.col("v"), out_col="r12", current_col="cur",
        ).collect()
    }
    assert got == want


def test_sparse_rolling_single_exchange_plan(spark):
    """Plan shape: the whole operator carries exactly one Exchange (the
    up-front id repartition) — both aggregates reuse it."""
    df = spark.createDataFrame([("a", 202001, 1)], "id string, ym int, v int")
    out = sparse_rolling_month_sum(
        df, ["id"], "ym", window_months=3, ym_min=202001, ym_max=202012,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_yyyymm_add_year_boundary(spark):
    df = spark.createDataFrame([(201911,), (201912,), (202001,)], "ym int")
    out = df.select(yyyymm_add("ym", 2).alias("x")).collect()
    assert [r["x"] for r in out] == [202001, 202002, 202003]


# --- unpivot -----------------------------------------------------------------

def test_unpivot_drops_nulls(spark):
    df = spark.createDataFrame(
        [(1, "A00", None, "B11")], "claim int, dx1 string, dx2 string, dx3 string"
    )
    out = unpivot(df, ["claim"], {"dx1": "01", "dx2": "02", "dx3": "03"},
                  var_name="icdcm_number", value_name="icdcm")
    rows = {(r["icdcm_number"], r["icdcm"]) for r in out.collect()}
    assert rows == {("01", "A00"), ("03", "B11")}


def test_unpivot_label_escaping(spark):
    df = spark.createDataFrame([(1, "A00")], "claim int, dx1 string")
    out = unpivot(df, ["claim"], {"dx1": "patient's dx"},
                  var_name="n", value_name="v").collect()
    assert out[0]["n"] == "patient's dx"


def test_unpivot_modifier_fanout(spark):
    df = spark.createDataFrame(
        [(1, "99213", None, "GT", None), (2, "99214", None, None, None)],
        "claim int, px1 string, m1 string, m2 string, m3 string",
    )
    out = unpivot_with_fanout(
        df, ["claim"], {"px1": "1"}, ["m1", "m2", "m3"],
        var_name="number", value_name="pcode", fanout_name="modifier",
    )
    rows = {(r["claim"], r["pcode"], r["modifier"]) for r in out.collect()}
    assert rows == {(1, "99213", "GT"), (2, "99214", None)}


# --- tabulate ----------------------------------------------------------------

def test_tabloop_and_suppress(spark):
    df = spark.createDataFrame(
        [("F", "HIGH", 10.0), ("F", "LOW", 20.0), ("O", "HIGH", 30.0)],
        "status string, prio string, amt double",
    )
    tab = tabloop(df, [], ["status", "prio"], {"n": ("count", "amt"), "s": ("sum", "amt")})
    got = {(r["group_cat"], r["group"]): (r["n"], r["s"]) for r in tab.collect()}
    assert got[("status", "F")] == (2, 30.0)
    assert got[("prio", "HIGH")] == (2, 40.0)
    sup = suppress(tab, ["n"], lower=1, upper=1)
    vals = {(r["group_cat"], r["group"]): r["n"] for r in sup.collect()}
    assert vals[("status", "O")] is None and vals[("status", "F")] == 2


def test_zero_fill(spark):
    dims = [
        spark.createDataFrame([("F",), ("O",)], "status string"),
        spark.createDataFrame([("HIGH",), ("LOW",)], "prio string"),
    ]
    facts = spark.createDataFrame([("F", "HIGH", 5)], "status string, prio string, n int")
    out = zero_fill(facts, dims, {"n": 0})
    assert out.count() == 4
    assert out.filter((F.col("status") == "O") & (F.col("n") == 0)).count() == 2


# --- as-of join ---------------------------------------------------------------

def test_asof_join_backward(spark):
    left = spark.createDataFrame(
        [("u", d("2020-01-05")), ("u", d("2020-01-01")), ("v", d("2020-01-03"))],
        "id string, ts date",
    )
    right = spark.createDataFrame(
        [("u", d("2020-01-02"), 10.0), ("u", d("2020-01-05"), 20.0), ("w", d("2020-01-01"), 9.0)],
        "id string, rts date, px double",
    )
    out = asof_join(left, right, ["id"], "ts", "rts", ["px"])
    got = {(r["id"], r["ts"]): r["px"] for r in out.collect()}
    # equal timestamps match (right sorts first at ties)
    assert got == {("u", d("2020-01-05")): 20.0, ("u", d("2020-01-01")): None,
                   ("v", d("2020-01-03")): None}


def test_asof_join_null_payload_atomicity(spark):
    # the latest right row's genuinely-NULL field must NOT be patched
    # with a stale value from an older row
    left = spark.createDataFrame([("p", d("2020-01-10"))], "id string, ts date")
    right = spark.createDataFrame(
        [("p", d("2020-01-01"), "A", None), ("p", d("2020-01-05"), None, "C")],
        "id string, rts date, addr string, city string",
    )
    out = asof_join(left, right, ["id"], "ts", "rts", ["addr", "city"]).collect()[0]
    assert (out["addr"], out["city"]) == (None, "C")


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [("u", d("2020-01-05")), ("u", d("2020-01-20")), ("v", d("2020-01-03"))],
        "id string, ts date",
    )
    right = spark.createDataFrame(
        [("u", d("2020-01-05"), 1.0), ("u", d("2020-01-10"), 2.0), ("w", d("2020-01-01"), 9.0)],
        "id string, rts date, px double",
    )
    out = asof_join(left, right, ["id"], "ts", "rts", ["px"], direction="forward")
    got = {(r["id"], r["ts"]): r["px"] for r in out.collect()}
    # same-day tie matches (1.0); next event takes the NEAREST future
    # right row; key with no right rows gets null
    assert got == {
        ("u", d("2020-01-05")): 1.0,
        ("u", d("2020-01-20")): None,
        ("v", d("2020-01-03")): None,
    }
    # nearest-of-several: left at 01-06 must take 01-10, not a later one
    left2 = spark.createDataFrame([("u", d("2020-01-06"))], "id string, ts date")
    right2 = spark.createDataFrame(
        [("u", d("2020-01-10"), 2.0), ("u", d("2020-01-15"), 3.0)],
        "id string, rts date, px double",
    )
    out2 = asof_join(left2, right2, ["id"], "ts", "rts", ["px"], direction="forward")
    assert out2.collect()[0]["px"] == 2.0


# --- prefix join ----------------------------------------------------------------

def test_prefix_join_matches_like(spark):
    fact = spark.createDataFrame(
        [("T369",), ("T379",), ("E9500",), ("A001",)], "code string"
    )
    ref = spark.createDataFrame([("T36",), ("E950",)], "pfx string")
    out = prefix_join(fact, ref, "code", "pfx")
    got = {(r["code"], r["pfx"]) for r in out.collect()}
    assert got == {("T369", "T36"), ("E9500", "E950")}


def test_prefix_join_empty_ref_keeps_schema(spark):
    fact = spark.createDataFrame([("T369",)], "code string")
    empty_ref = spark.createDataFrame([], "pfx string")
    inner = prefix_join(fact, empty_ref, "code", "pfx")
    assert inner.columns == ["code", "pfx"] and inner.count() == 0
    left = prefix_join(fact, empty_ref, "code", "pfx", how="left")
    rows = left.collect()
    assert len(rows) == 1 and rows[0]["pfx"] is None


# --- predicates ------------------------------------------------------------------

def test_dynamic_predicates(spark):
    df = spark.createDataFrame(
        [(1, "F", 10.0), (2, "O", 100.0), (3, "P", 250.0)],
        "k int, status string, amt double",
    )
    out = apply_filters(df, {"status": ["f", "o"], "amt": {"min": 50}, "k": None})
    assert [r["k"] for r in out.collect()] == [2]


# --- scalar functions ---------------------------------------------------------------

def test_tsql_month_diff_boundary(spark):
    df = spark.createDataFrame([(d("2020-01-31"), d("2020-02-01"))], "a date, b date")
    assert df.select(tsql_datediff_month("a", "b").alias("m")).collect()[0]["m"] == 1


def test_like_charset_regex():
    assert like_charset_to_regex("045[01269]") == "^045[01269]$"
    assert like_charset_to_regex("T3[679]9%") == "^T3[679]9.*$"
    assert like_charset_to_regex("A_C") == "^A.C$"


def test_icd_normalization_cutover(spark):
    # FIXTURES.md §14.6: '250' -> '25000'; 'V10' version depends on date
    df = spark.createDataFrame(
        [("250", d("2015-01-01")), ("V10", d("2015-01-01")), ("V10", d("2016-01-01"))],
        "code string, svc date",
    )
    out = df.select(
        normalize_icdcm("code", "svc").alias("norm"),
        icdcm_version("code", "svc").alias("ver"),
    ).collect()
    assert (out[0]["norm"], out[0]["ver"]) == ("25000", 9)
    assert (out[1]["norm"], out[1]["ver"]) == ("V1000", 9)
    assert (out[2]["norm"], out[2]["ver"]) == ("V10", 10)


def test_icd_normalization_never_corrupts_dirty_codes(spark):
    # only length-3/4 codes pad; overlong/short/dotted codes pass
    # through untouched (the reference never truncates or fabricates)
    df = spark.createDataFrame(
        [("V12345", d("2014-06-01")), ("V1", d("2014-06-01")),
         ("250.00", d("2014-06-01")), ("E9501", d("2014-06-01"))],
        "code string, svc date",
    )
    out = df.select(
        normalize_icdcm("code", "svc").alias("norm"),
        icdcm_version("code", "svc").alias("ver"),
    ).collect()
    assert [r["norm"] for r in out] == ["V12345", "V1", "250.00", "E9501"]
    # dotted digit-led code is still ICD-9 (prefix semantics)
    assert out[2]["ver"] == 9


# --- schema registry ------------------------------------------------------------------

def test_schema_registry_roundtrip(spark):
    reg = SchemaRegistry()
    reg.declare("stage.elig", {"id": "varchar(200)", "cov_pct": "numeric(4,1)", "geo_kc": "bit"})
    st = reg.schema("stage.elig")
    assert st["cov_pct"].dataType.simpleString() == "decimal(4,1)"
    assert st["geo_kc"].dataType.simpleString() == "boolean"
    df = spark.createDataFrame([("a", 99.95, 1, "extra")], "id string, cov_pct double, geo_kc int, junk string")
    out = reg.apply(df, "stage.elig")
    assert out.columns == ["id", "cov_pct", "geo_kc"]
    row = out.collect()[0]
    assert str(row["cov_pct"]) in ("99.9", "100.0")  # decimal(4,1) rounding applied


def test_sql_type_mapping():
    assert sql_type_to_spark("TIME(0)").simpleString() == "string"
    assert sql_type_to_spark("numeric(19,3)").simpleString() == "decimal(19,3)"
    assert sql_type_to_spark("tinyint").simpleString() == "tinyint"


def test_longest_common_substring_reference_examples(spark):
    """The T-SQL function's own documented examples
    (longest_common_substring.sql:44-50)."""
    from claims_data_spark.functions.strings import longest_common_substring

    df = spark.createDataFrame(
        [("465932859472109683472", "697834859472135348"),
         ("thisisatest", "testing123testing"),
         ("1234", "1224533324"),
         (None, "xab")],
        "a string, b string",
    )
    rows = df.select(
        longest_common_substring("a", "b").alias("lcs")
    ).collect()
    assert rows[0].lcs.common_string == "8594721"
    assert rows[1].lcs.common_string == "test"
    assert rows[1].lcs.first_char_in_match == 8
    assert rows[1].lcs.first_char_in_string == 1
    assert rows[2].lcs.common_string == "12"
    assert rows[3].lcs is None or rows[3].lcs.match_length is None


def test_split_to_items_drops_empty(spark):
    from claims_data_spark.functions.strings import split_to_items

    df = spark.createDataFrame([("a,b,,c,",), ("",)], "s string")
    out = df.select(F.explode(split_to_items("s", ",")).alias("x")).collect()
    assert [r.x for r in out] == ["a", "b", "c"]


# --- inline event-family dense ids -----------------------------------------


def test_dense_event_ids_inline_matches_window_oracle(spark):
    """Property check for the one-pass fact-grain minting: random
    claim rows with overlapping (person, date) keys and sparse flags,
    verified against the un-partitioned DENSE_RANK oracle (the
    reference semantics) computed per family, and the Yale episode
    oracle (gap-chain over member keys). Arrow batch size is forced
    tiny so the carried state between record batches — key
    continuation, per-family seen flags, episode chain date — is
    exercised across many boundaries."""
    import random

    from pyspark.sql import Window

    from claims_data_spark.operators.dense_id import dense_event_ids_inline

    rng = random.Random(7)
    rows = []
    for i in range(400):
        person = rng.randint(1, 25)
        day = dt.date(2020, 1, 1) + dt.timedelta(days=rng.randint(0, 40))
        rows.append((
            i, person, day,
            rng.randint(0, 1), rng.randint(0, 1),
            rng.randint(0, 1), rng.randint(0, 1),
        ))
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        df = spark.createDataFrame(
            rows, "claim_id long, person long, svc_date date, "
                  "fa int, fb int, ed1 int, ed2 int",
        )
        out = dense_event_ids_inline(
            df, "person", "svc_date",
            families=[("fa", "fa_id"), ("fb", "fb_id")],
            episode_families=[(["ed1", "ed2"], "ep_id", 1)],
            num_partitions=5,
        ).toPandas().set_index("claim_id").sort_index()
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )

    # oracle: dense rank over flagged keys, single window
    for flag, out_col in (("fa", "fa_id"), ("fb", "fb_id")):
        keyed = (
            df.filter(F.col(flag) == 1)
            .select("person", "svc_date").distinct()
            .withColumn(
                "oid",
                F.dense_rank().over(Window.orderBy("person", "svc_date")),
            )
        )
        want = {
            (r["person"], r["svc_date"]): r["oid"]
            for r in keyed.collect()
        }
        for cid, r in out.iterrows():
            src = next(x for x in rows if x[0] == cid)
            fval = src[3] if flag == "fa" else src[4]
            if fval == 1:
                assert r[out_col] == want[(src[1], src[2])], (cid, flag)

    # masked rows are NULL
    import math

    for cid, r in out.iterrows():
        src = next(x for x in rows if x[0] == cid)
        if src[3] == 0:
            assert r["fa_id"] is None or (
                isinstance(r["fa_id"], float) and math.isnan(r["fa_id"])
            )
        if src[5] == 0 and src[6] == 0:
            assert r["ep_id"] is None or (
                isinstance(r["ep_id"], float) and math.isnan(r["ep_id"])
            )

    # episode oracle: member keys chain while consecutive dates <= 1
    # day apart; id = dense index of (person, episode_start)
    member_keys = sorted({
        (p, d) for (_, p, d, _, _, e1, e2) in rows if e1 == 1 or e2 == 1
    })
    ep_of_key = {}
    eid = 0
    prev_p, prev_d = None, None
    for p, d in member_keys:
        if prev_p != p or (d - prev_d).days > 1:
            eid += 1
        ep_of_key[(p, d)] = eid
        prev_p, prev_d = p, d
    for cid, r in out.iterrows():
        src = next(x for x in rows if x[0] == cid)
        if src[5] == 1 or src[6] == 1:
            assert int(r["ep_id"]) == ep_of_key[(src[1], src[2])], cid


def test_dense_event_ids_inline_null_person_sentinel(spark):
    """The documented caller contract for nullable person ids: callers
    coalesce NULLs to a least-value sentinel (the combined
    mcaid+mcare layer uses ''), which must rank exactly like
    DENSE_RANK's NULLS FIRST — all sentinel rows group per date and
    come before every real person."""
    from pyspark.sql import Window

    from claims_data_spark.operators.dense_id import dense_event_ids_inline

    rows = [
        (1, None, dt.date(2020, 1, 5), 1),
        (2, None, dt.date(2020, 1, 5), 1),   # same date -> same key
        (3, None, dt.date(2020, 1, 9), 1),
        (4, "A1", dt.date(2020, 1, 1), 1),
        (5, "B2", dt.date(2020, 1, 1), 0),   # unflagged -> NULL id
    ]
    df = spark.createDataFrame(
        rows, "claim long, person string, d date, f int"
    ).select(
        "claim", F.coalesce("person", F.lit("")).alias("person"), "d", "f"
    )
    out = {r["claim"]: r["fid"] for r in dense_event_ids_inline(
        df, "person", "d", families=[("f", "fid")], num_partitions=3
    ).collect()}
    # oracle: dense rank over flagged keys, nulls-as-'' first
    assert out[1] == out[2] == 1
    assert out[3] == 2
    assert out[4] == 3
    assert out[5] is None


def test_scd2_merge_outcomes(spark):
    """SCD2 merge: change closes + reopens, no-change passes through,
    new key opens, missing key closes under close_missing, history
    rows pass untouched, NULL attributes compare null-safely."""
    from claims_data_spark.operators.scd import scd2_merge

    current = spark.createDataFrame(
        [
            # key, attr, valid_from, valid_to, is_current
            (1, "a", d("2020-01-01"), None, 1),        # will change
            (2, "b", d("2020-01-01"), None, 1),        # unchanged
            (3, None, d("2020-01-01"), None, 1),       # NULL -> NULL: unchanged
            (4, "d", d("2020-01-01"), None, 1),        # missing from snapshot
            (5, None, d("2020-01-01"), None, 1),       # NULL -> value: change
            (1, "a0", d("2019-01-01"), d("2019-12-31"), 0),  # history
        ],
        "k long, attr string, valid_from date, valid_to date, is_current int",
    )
    incoming = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (3, None), (5, "e"), (9, "new")],
        "k long, attr string",
    )
    out = scd2_merge(
        current, incoming, ["k"], ["attr"], "2021-06-15",
        close_missing=True,
    )
    key = lambda t: (t[0], t[1] or "", t[2], t[3], t[4])
    rows = sorted(
        ((r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"]),
          r["is_current"]) for r in out.collect()), key=key,
    )
    assert rows == sorted([
        (1, "a0", "2019-01-01", "2019-12-31", 0),       # history untouched
        (1, "a", "2020-01-01", "2021-06-14", 0),        # closed
        (1, "a2", "2021-06-15", "None", 1),             # reopened
        (2, "b", "2020-01-01", "None", 1),              # unchanged
        (3, None, "2020-01-01", "None", 1),             # null-safe unchanged
        (4, "d", "2020-01-01", "2021-06-14", 0),        # closed (missing)
        (5, None, "2020-01-01", "2021-06-14", 0),       # NULL -> value
        (5, "e", "2021-06-15", "None", 1),
        (9, "new", "2021-06-15", "None", 1),            # brand new key
    ], key=key)
    # idempotence: merging the same snapshot again is a no-op on the
    # current slice (every key unchanged or already closed)
    again = scd2_merge(
        out, incoming, ["k"], ["attr"], "2021-07-01", close_missing=True
    )
    canon = lambda df: sorted(
        ((r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"]),
          r["is_current"]) for r in df.collect()), key=key,
    )
    assert canon(again) == canon(out)


def test_scd2_merge_null_business_key(spark):
    """A NULL business key is a real key (eqNullSafe join): matched
    NULL-key rows must survive the merge, not fall through the when()
    branches (presence is an explicit lit(1) marker, not key
    nullness)."""
    from claims_data_spark.operators.scd import scd2_merge

    current = spark.createDataFrame(
        [(None, "a", d("2020-01-01"), None, 1)],
        "k string, attr string, valid_from date, valid_to date,"
        " is_current int",
    )
    incoming = spark.createDataFrame(
        [(None, "a2")], "k string, attr string"
    )
    out = scd2_merge(current, incoming, ["k"], ["attr"], "2021-06-15")
    rows = sorted(
        (r["attr"], str(r["valid_to"]), r["is_current"])
        for r in out.collect()
    )
    # change detected on the NULL key: close-out + new version
    assert rows == [("a", "2021-06-14", 0), ("a2", "None", 1)]


def test_weighted_sample_exact_k_and_bias(spark):
    """Efraimidis–Spirakis: exactly k rows, deterministic across runs,
    and selection frequency increases with weight (the heavy row wins
    far more often across independent seed draws)."""
    from claims_data_spark.operators.corpus import weighted_sample

    rows = [(i, 1000 if i == 0 else 10) for i in range(40)]
    df = spark.createDataFrame(rows, "rid long, w long")
    out1 = weighted_sample(df, k=5, weight_col="w", id_col="rid")
    out2 = weighted_sample(df, k=5, weight_col="w", id_col="rid")
    got1 = sorted(r["rid"] for r in out1.collect())
    assert got1 == sorted(r["rid"] for r in out2.collect())
    assert len(got1) == 5
    # the 100x-weight row should win across most seeds
    hits = 0
    for s in range(12):
        picked = {r["rid"] for r in weighted_sample(
            df, k=5, weight_col="w", id_col="rid", seed=f"s{s}"
        ).collect()}
        hits += 0 in picked
    assert hits >= 10


def test_weighted_sample_zero_weight_excluded(spark):
    from claims_data_spark.operators.corpus import weighted_sample

    df = spark.createDataFrame(
        [(1, 0), (2, 5), (3, 5)], "rid long, w long"
    )
    got = {r["rid"] for r in weighted_sample(
        df, k=3, weight_col="w", id_col="rid").collect()}
    assert got == {2, 3}


def test_mix_rebalance_proportions_and_drop(spark):
    """Downsample-only rebalancing: strata hit ~target proportions,
    no stratum exceeds its own count, untargeted strata drop."""
    from pyspark.sql import functions as F
    from claims_data_spark.operators.corpus import mix_rebalance

    rows = [(i, "a" if i % 10 < 6 else ("b" if i % 10 < 9 else "x"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "rid long, s string")
    out = mix_rebalance(df, "s", {"a": 0.5, "b": 0.5}, id_col="rid")
    counts = {r["s"]: r["n"] for r in
              out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert "x" not in counts
    # b is the binding stratum (600 rows / 0.5 => T=1200): kept whole
    assert counts["b"] == 600
    # a thins toward 600 (md5 thinning is approximate at n=1200)
    assert 500 <= counts["a"] <= 700
    # rate column present and within (0, 1]
    rates = out.select("keep_rate").distinct().collect()
    assert all(0 < r["keep_rate"] <= 1.0 for r in rates)


def test_mix_rebalance_token_weighted_rates(spark):
    """weight_col switches the mixture unit to per-row weights: the
    binding stratum is the one scarce in WEIGHT, and rates are exactly
    p * T / W (IEEE-exact, checked against hand arithmetic). NULL
    weights count 0 toward the stratum total."""
    from pyspark.sql import functions as F
    from claims_data_spark.operators.corpus import mix_rebalance

    # stratum a: many short docs (100 x 10 chars = 1000); stratum b:
    # few long docs (5 x 100 = 500, plus one NULL-weight doc) — by
    # DOC count a:b is 100:6, by WEIGHT 1000:500
    rows = [(i, "a", 10) for i in range(100)]
    rows += [(1000 + i, "b", 100) for i in range(5)]
    rows += [(2000, "b", None)]
    df = spark.createDataFrame(rows, "rid long, s string, w int")
    out = mix_rebalance(
        df, "s", {"a": 0.5, "b": 0.5}, id_col="rid", weight_col="w"
    )
    rates = {r["s"]: r["keep_rate"] for r in
             out.select("s", "keep_rate").distinct().collect()}
    # T = min(1000/0.5, 500/0.5) = 1000; b keeps all (rate 1.0),
    # a keeps 0.5 * 1000 / 1000 = 0.5
    assert rates["b"] == 1.0
    assert rates["a"] == 0.5
    # the NULL-weight doc still thins at its stratum rate (b=1.0)
    assert out.filter("rid = 2000").count() == 1


def test_mix_rebalance_default_unchanged_by_weight_param(spark):
    """weight_col=None must stay bit-identical to the historical
    doc-count behavior (same rates, same kept ids)."""
    from claims_data_spark.operators.corpus import mix_rebalance

    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "rid long, s string")
    base = mix_rebalance(df, "s", {"a": 0.6, "b": 0.4}, id_col="rid")
    # weight 1 per row == doc counting
    w1 = mix_rebalance(
        df.withColumn("one", F.lit(1)), "s", {"a": 0.6, "b": 0.4},
        id_col="rid", weight_col="one",
    ).drop("one")
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, w1.collect())
    )


def test_domain_cap_two_phase_equivalence(spark):
    """The salted two-phase top-k (skew path) returns EXACTLY the
    single-window result — min-k is decomposable."""
    from pyspark.sql import functions as F
    from claims_data_spark.operators.web import domain_cap

    rows = [(i, f"https://host{i % 7}.org/p/{i}", (i * 37) % 100)
            for i in range(600)]
    df = spark.createDataFrame(rows, "rid long, url string, score long")
    kw = dict(url_col="url", k=9, order_cols=[F.col("score").desc()],
              id_col="rid")
    one = domain_cap(df, **kw)
    two = domain_cap(df, two_phase=True, num_salts=8, **kw)
    cols = ["rid", "host", "domain_rank"]
    assert sorted(map(tuple, one.select(cols).collect())) == \
        sorted(map(tuple, two.select(cols).collect()))
    # cap respected per host
    mx = one.groupBy("host").count().agg(F.max("count")).collect()[0][0]
    assert mx <= 9


def test_domain_cap_blocklist_and_parse(spark):
    from pyspark.sql import functions as F
    from claims_data_spark.operators.web import domain_cap, extract_host

    df = spark.createDataFrame(
        [(1, "https://Bad.org/x", 5), (2, "https://ok.org/y", 5),
         (3, "not a url", 5)],
        "rid long, url string, score long",
    )
    out = domain_cap(df, "url", k=10, order_cols=[F.col("score").desc()],
                     id_col="rid", blocklist=["bad.org"])
    hosts = {r["host"] for r in out.collect()}
    assert "bad.org" not in hosts and "ok.org" in hosts
    # unparseable URL maps to empty host (kept, groupable)
    assert "" in hosts


def test_blocked_link_best_and_all(spark):
    """Hand example: candidates only come from matching blocks, the
    distance gate holds, and keep='best' picks lowest (dist, id)."""
    from claims_data_spark.operators.linkage import blocked_link

    left = spark.createDataFrame(
        [(1, "jonathan smith", "b1"), (2, "jon smith", "b1"),
         (3, "jonathan smith", "b2")],
        "lid long, ltxt string, blk string",
    )
    right = spark.createDataFrame(
        [(10, "jonathon smith", "b1"), (11, "zzzz", "b1")],
        "rid long, rtxt string, blk string",
    )
    best = blocked_link(
        left, right, ["blk"], left_id="lid", right_id="rid",
        left_text="ltxt", right_text="rtxt", max_dist=5,
    ).collect()
    got = {r["rid"]: (r["lid"], r["dist"]) for r in best}
    # rid 10: lid 1 at dist 1 beats lid 2 at dist 5; lid 3 blocked out
    assert got[10] == (1, 1)
    # rid 11: nothing within dist 5
    assert 11 not in got
    allp = blocked_link(
        left, right, ["blk"], left_id="lid", right_id="rid",
        left_text="ltxt", right_text="rtxt", max_dist=5, keep="all",
    ).collect()
    assert {(r["rid"], r["lid"]) for r in allp} == {(10, 1), (10, 2)}
    # similarity normalizes by the longer string
    sims = {(r["rid"], r["lid"]): r["sim"] for r in allp}
    assert abs(sims[(10, 1)] - (1 - 1 / 14)) < 1e-6


def test_wordpiece_tokenize_greedy_semantics(spark):
    """The compiled-regex tokenizer IS greedy longest-match wordpiece:
    longest piece wins at each cursor, unknown chars degrade to
    char tokens, whitespace is dropped, tiling is complete."""
    from pyspark.sql import functions as F
    from claims_data_spark.functions.tokenize import (
        compile_wordpiece_pattern,
        wordpiece_tokens,
    )

    vocab = ["tab", "table", "win", "dow", "ab"]
    df = spark.createDataFrame(
        [("tablewindow",), ("Tab abx!",), ("   ",)], "s string"
    )
    got = [r[0] for r in df.select(
        wordpiece_tokens(F.col("s"), vocab).alias("t")).collect()]
    # longest-first: 'table' beats 'tab'; 'd','o','w' fall back per-char
    assert got[0] == ["table", "win", "dow"]
    # lowercased; whitespace dropped; '!' is an UNK char token
    assert got[1] == ["tab", "ab", "x", "!"]
    assert got[2] == []
    # tiling completeness: concatenation restores the non-space text
    assert "".join(got[1]) == "tababx!"
    # pattern orders by length desc then lexicographic, fallback last
    pat = compile_wordpiece_pattern(vocab)
    assert pat == "(table|dow|tab|win|ab|[\\s\\S])"


def test_linkage_sig_prune_sound_and_exact(spark):
    """The count-signature band must NEVER drop a true match
    (soundness: lev <= k implies sig L1 <= 2k), and the SWAR L1 must
    equal a per-character python recomputation bit-for-bit."""
    import random
    import string as _string

    from pyspark.sql import functions as F

    from claims_data_spark.operators.linkage import (
        _SIG_BUCKETS,
        _char_count_sig,
        _sig_l1,
        blocked_link,
    )

    rng = random.Random(7)
    alpha = _string.ascii_lowercase + _string.digits + "@_ é"

    def mutate(s, edits):
        s = list(s)
        for _ in range(edits):
            op = rng.choice("ids") if s else "i"
            i = rng.randrange(len(s) + (op == "i"))
            if op == "i":
                s.insert(i, rng.choice(alpha))
            elif op == "d" and s:
                s.pop(min(i, len(s) - 1))
            else:
                s[min(i, len(s) - 1)] = rng.choice(alpha)
        return "".join(s)

    rows = []
    for i in range(200):
        base = "".join(rng.choice(alpha) for _ in range(rng.randrange(3, 30)))
        rows.append((i, base, mutate(base, rng.randrange(0, 4))))
    df = spark.createDataFrame(rows, "i long, a string, b string")
    got = df.select(
        "a", "b",
        _sig_l1(
            _char_count_sig(F.col("a")), _char_count_sig(F.col("b"))
        ).alias("l1"),
        F.levenshtein("a", "b").alias("lev"),
    ).collect()

    def py_sig(s):
        return [sum(1 for ch in s if ch in bkt) for bkt in _SIG_BUCKETS]

    for r in got:
        want = sum(
            abs(x - y) for x, y in zip(py_sig(r["a"]), py_sig(r["b"]))
        )
        assert r["l1"] == want, (r["a"], r["b"], r["l1"], want)
        # soundness: an edit moves the L1 by at most 2
        assert r["l1"] <= 2 * r["lev"] or r["lev"] == 0

    # end-to-end: pruned blocked_link finds the same matches as a
    # brute-force distance pass at max_dist=3
    left = spark.createDataFrame(
        [(i, a, "blk") for i, a, _ in rows], "lid long, ltxt string, b string"
    )
    right = spark.createDataFrame(
        [(i + 1000, bb, "blk") for i, _, bb in rows],
        "rid long, rtxt string, b string",
    )
    out = blocked_link(
        left, right, ["b"], left_id="lid", right_id="rid",
        left_text="ltxt", right_text="rtxt", max_dist=3, keep="all",
    )
    got_pairs = {(r["rid"], r["lid"]) for r in out.collect()}
    brute = left.crossJoin(
        right.withColumnRenamed("b", "b2")
    ).withColumn("d", F.levenshtein("ltxt", "rtxt")).filter(F.col("d") <= 3)
    want_pairs = {(r["rid"], r["lid"]) for r in brute.collect()}
    assert got_pairs == want_pairs


def test_tabloop_filter_and_rename_parity(spark):
    """R/tabloop.R:569-612 filter/rename: flag vars keep only the
    group=='1' rows; categorical vars in the keep list keep every
    level; rename title-cases flag names into group and maps each
    family to its dashboard label (overall -> _Overall)."""
    from claims_data_spark.operators.tabulate import tabloop

    df = spark.createDataFrame(
        [
            (1, "18-24", 1, 0, "overall"),
            (2, "25-44", 0, 1, "overall"),
            (3, "18-24", 1, 1, "overall"),
        ],
        "pid long, age_grp7 string, female int, dual_flag int, overall string",
    )
    out = tabloop(
        df, [], ["age_grp7", "female", "dual_flag", "overall"],
        {"n": ("count", "pid")}, filter=True,
    ).collect()
    rows = {(r["group_cat"], r["group"]) for r in out}
    # age_grp7 keeps both levels; flags keep only '1'; overall kept
    assert ("age_grp7", "18-24") in rows and ("age_grp7", "25-44") in rows
    assert ("female", "1") in rows and ("female", "0") not in rows
    assert ("dual_flag", "1") in rows and ("dual_flag", "0") not in rows
    assert ("overall", "overall") in rows

    ren = tabloop(
        df, [], ["age_grp7", "female", "dual_flag", "overall"],
        {"n": ("count", "pid")}, filter=True, rename=True,
    ).collect()
    rrows = {(r["group_cat"], r["group"]) for r in ren}
    assert ("Age", "18-24") in rrows
    assert ("Gender, inclusive", "Female") in rrows
    assert ("Coverage group", "Dual_flag") in rrows   # R toTitleCase form
    assert ("_Overall", "_Overall") in rrows


def test_mix_rebalance_zero_weight_stratum_excluded(spark):
    """ADVICE r07: a TARGETED stratum whose weights are all NULL/zero
    must not poison T (min would be 0 -> whole corpus dropped, or a
    DIVIDE_BY_ZERO crash under ANSI mode). It is excluded from the T
    aggregate and its rows drop at rate 0; the other strata keep
    their normal downsample-only rates."""
    from claims_data_spark.operators.corpus import mix_rebalance

    rows = [(i, "a", 10) for i in range(100)]
    rows += [(1000 + i, "b", 100) for i in range(5)]
    rows += [(2000, "z", None), (2001, "z", 0)]   # targeted, zero weight
    df = spark.createDataFrame(rows, "rid long, s string, w int")
    out = mix_rebalance(
        df, "s", {"a": 0.4, "b": 0.4, "z": 0.2}, id_col="rid",
        weight_col="w",
    )
    rates = {r["s"]: r["keep_rate"] for r in
             out.select("s", "keep_rate").distinct().collect()}
    # T over {a, b} only: min(1000/0.4, 500/0.4) = 1250
    # a: 0.4*1250/1000 = 0.5 ; b: 0.4*1250/500 = 1.0 ; z: dropped
    assert rates["b"] == 1.0
    assert rates["a"] == 0.5
    assert "z" not in rates
    assert out.filter("s = 'z'").count() == 0


def test_tabloop_filter_keeps_double_typed_flags(spark):
    """ADVICE r07: a DOUBLE-typed flag column stacks as '1.0' after
    the string cast; the filter compares numerically (reference
    group == 1), so it must keep those rows — and non-numeric levels
    of kept categoricals must not trip an ANSI cast error."""
    from claims_data_spark.operators.tabulate import tabloop

    df = spark.createDataFrame(
        [(1, "18-24", 1.0), (2, "25-44", 0.0), (3, "18-24", 1.0)],
        "pid long, age_grp7 string, dbl_flag double",
    )
    out = tabloop(
        df, [], ["age_grp7", "dbl_flag"], {"n": ("count", "pid")},
        filter=True,
    ).collect()
    rows = {(r["group_cat"], r["group"]): r["n"] for r in out}
    assert rows[("dbl_flag", "1.0")] == 2
    assert ("dbl_flag", "0.0") not in rows
    assert ("age_grp7", "18-24") in rows and ("age_grp7", "25-44") in rows


def test_tabloop_rename_overall_case_insensitive(spark):
    """ADVICE r07: R/tabloop.R:608 maps 'overall'/'Overall'/'OVERALL'
    to _Overall; the group_cat relabel must match case-insensitively
    like the group-side rename already does."""
    from claims_data_spark.operators.tabulate import tabloop

    df = spark.createDataFrame(
        [(1, "Overall"), (2, "Overall")], "pid long, Overall string",
    )
    ren = tabloop(
        df, [], ["Overall"], {"n": ("count", "pid")}, rename=True,
    ).collect()
    assert {(r["group_cat"], r["group"]) for r in ren} \
        == {("_Overall", "_Overall")}


def test_blocklist_duplicate_phrase_terms_count_once(spark):
    """ADVICE r07: duplicate multi-word terms in the blocklist must
    count once toward the distinct-matched-terms total (single tokens
    were already deduped by array_intersect; phrases were not)."""
    from pyspark.sql import functions as F  # noqa: F401
    from claims_data_spark.functions.text import blocklist_hits

    df = spark.createDataFrame(
        [("x", "this has a bad phrase in it")], "rid string, text string"
    )
    n = df.select(
        blocklist_hits(
            "text", ["bad phrase", "Bad  Phrase", "bad phrase"]
        ).alias("h")
    ).collect()[0]["h"]
    assert n == 1


def test_corpus_pipeline_bench_id_col_required(spark):
    """ADVICE r07: no positional guessing of the benchmark id column —
    a frame without 'bench_id' and no explicit bench_id_col must fail
    loudly, and a wrong explicit name must too."""
    import pytest
    from claims_data_spark.corpus_pipeline import run_corpus_pipeline

    docs = spark.createDataFrame(
        [(1, "some perfectly reasonable document text here", "web")],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame(
        [("benchmark text first", 7)], "text string, qid long"
    )
    with pytest.raises(ValueError, match="bench_id_col is required"):
        run_corpus_pipeline(docs, bench, min_quality=0.0)
    with pytest.raises(ValueError, match="not in benchmark columns"):
        run_corpus_pipeline(
            docs, bench, min_quality=0.0, bench_id_col="nope"
        )

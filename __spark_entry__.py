"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from
SURVEY.md §2 (or an engine extension) against the driver's synthetic
TPC-H-ish tables; ``oracle_sql()`` holds the DuckDB-equivalent ANSI
SQL. Numeric determinism policy: inputs are cast to DECIMAL before
arithmetic on BOTH sides (exact, engine-portable), and only final
results are cast to DOUBLE — so value hashes match bit-for-bit.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the sibling claims_data_spark package importable no matter what
# working directory the driver loads this module from
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from claims_data_spark.functions.datetime import (
    age_years,
    date_to_yyyymm,
    tsql_datediff_month,
)
from claims_data_spark.functions.text import (
    LANG_MARKERS,
    doc_fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count_bpe,
    token_count_ws,
)
from claims_data_spark.operators.asof import join_to_running_min
from claims_data_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_portable,
)
from claims_data_spark.operators.dense_id import dense_global_id
from claims_data_spark.operators.episodes import episode_table
from claims_data_spark.operators.intervals import (
    collapse_islands,
    coverage_stats,
    resegment_overlaps,
)
from claims_data_spark.operators.mode import mode_value
from claims_data_spark.operators.rolling import sparse_rolling_month_sum
from claims_data_spark.operators.similarity import brute_force_topk
from claims_data_spark.operators.tabulate import suppress, tabloop
from claims_data_spark.operators.unpivot import unpivot
from claims_data_spark.plans.predicates import apply_filters
from claims_data_spark.plans.prefix_join import prefix_join
from claims_data_spark.session import spread
from claims_data_spark.sources.calendar import date_dim

DEFAULT_SF = "/root/testdata/sf0.001"


import weakref

_READ_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table handle, memoized per (session, dir, table): the
    reader's driver-side file listing + footer schema read costs
    ~130 ms per call, and the suite makes ~100 of them — a real
    application holds table handles once, so the harness does too.
    The frame is lazy; nothing is materialized here. Keyed WEAKLY by
    the session object: sibling sessions from newSession() share an
    applicationId but must not share frames, and entries die with
    their session instead of lingering forever."""
    per_session = _READ_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        per_session[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Some testdata generations write ``ts`` as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects; read nanos as long
    (runtime-settable legacy conf) and rebuild a microsecond timestamp
    with integer division (`div`, not `/` — long/long in Spark is a
    double and loses precision at 1e18 nanos). Newer generations write
    timestamp[us], which Spark reads natively — detect by dtype."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _ds(c) -> F.Column:
    """Date column -> 'yyyy-MM-dd' string: engine-portable value
    representation for the oracle hash compare."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("string")


def _dec(c, scale=2, prec=12):
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def _dbl(c) -> F.Column:
    return c.cast("double")


# ---------------------------------------------------------------------------
# §2.4 A1/A2 + §2.9 math — TPC-H Q1-shaped pricing summary
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date")
    )
    qty, price = _dec("l_quantity"), _dec("l_extendedprice")
    disc, tax = _dec("l_discount"), _dec("l_tax")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dbl(F.sum(qty)).alias("sum_qty"),
            _dbl(F.sum(price)).alias("sum_base_price"),
            _dbl(F.sum(price * (F.lit(1) - disc))).alias("sum_disc_price"),
            _dbl(F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))).alias("sum_charge"),
            (_dbl(F.sum(qty)) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# §2.2 P1/P2 — typed projection + conditional cleaning
# ---------------------------------------------------------------------------

def q_typed_projection(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.when(
            F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"),
            F.col("c_mktsegment"),
        ).alias("segment_clean"),
        F.lpad(F.col("c_nationkey").cast("string"), 3, "0").alias("nation_code"),
        _dbl(_dec("c_acctbal")).alias("acctbal_2dp"),
    )


SQL_TYPED_PROJECTION = """
SELECT c_custkey AS custkey,
  UPPER(c_name) AS name_upper,
  SUBSTRING(c_name, 1, 8) AS name_prefix,
  CASE WHEN c_mktsegment IN ('AUTOMOBILE','MACHINERY') THEN c_mktsegment END AS segment_clean,
  LPAD(CAST(c_nationkey AS VARCHAR), 3, '0') AS nation_code,
  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal_2dp
FROM customer
"""


# ---------------------------------------------------------------------------
# §2.2 P3/P4 — dynamic predicate assembly
# ---------------------------------------------------------------------------

def q_dynamic_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    spec = {
        "o_orderstatus": ["F", "O"],
        "o_totalprice": {"min": 50000.0, "max": 200000.0},
        "o_orderdate": {"between": ("1996-01-01", "1997-12-31")},
        "o_orderpriority": None,  # inactive param, reference's NULL convention
    }
    return apply_filters(o, spec).select(
        "o_orderkey", "o_custkey", "o_totalprice", _ds("o_orderdate").alias("o_orderdate")
    )


SQL_DYNAMIC_FILTER = """
SELECT o_orderkey, o_custkey, o_totalprice, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
FROM orders
WHERE LOWER(o_orderstatus) IN ('f','o')
  AND o_totalprice >= 50000.0 AND o_totalprice <= 200000.0
  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
"""


# ---------------------------------------------------------------------------
# §2.2 P5 — DISTINCT dedup
# ---------------------------------------------------------------------------

def q_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


SQL_DISTINCT = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


# ---------------------------------------------------------------------------
# §2.2 P6 — dedup with priority rule (min unless sentinel then max)
# ---------------------------------------------------------------------------

def q_dedup_priority(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.when(F.min("o_orderstatus") == "F", F.max("o_orderstatus"))
        .otherwise(F.min("o_orderstatus"))
        .alias("status_pick"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_DEDUP_PRIORITY = """
SELECT o_custkey,
  CASE WHEN MIN(o_orderstatus) = 'F' THEN MAX(o_orderstatus) ELSE MIN(o_orderstatus) END AS status_pick,
  COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# §2.2 P7 — dedup by ordered row_number = 1
# ---------------------------------------------------------------------------

def q_first_order(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            _ds("o_orderdate").alias("first_orderdate"),
        )
    )


SQL_FIRST_ORDER = """
SELECT o_custkey, o_orderkey AS first_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS first_orderdate
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.2 P8 — seeded-random dedup, pinned via md5 (engine-portable)
# ---------------------------------------------------------------------------

def q_dedup_seeded(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("picked_orderkey"))
    )


SQL_DEDUP_SEEDED = """
SELECT o_custkey, o_orderkey AS picked_orderkey
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY MD5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.2 P9 — ICD-CM-style code normalization (rpad + cutover)
# ---------------------------------------------------------------------------

def _synth_code():
    """Derive an ICD-shaped code from l_partkey so every branch of the
    normalizer (numeric 3/4-char, V-, E-prefixed) is exercised."""
    pk = F.col("l_partkey")
    return (
        F.when(pk % 4 == 0, (pk % 900 + 100).cast("string"))
        .when(pk % 4 == 1, (pk % 9000 + 1000).cast("string"))
        .when(pk % 4 == 2, F.concat(F.lit("V"), (pk % 90 + 10).cast("string")))
        .otherwise(F.concat(F.lit("E"), (pk % 900 + 100).cast("string")))
    )


def q_icd_normalize(spark, sf_dir):
    from claims_data_spark.functions.strings import icdcm_version, normalize_icdcm

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "svc_date", F.col("l_shipdate").cast("date")
    ).withColumn("code_raw", _synth_code())
    out = li.select(
        "code_raw",
        normalize_icdcm("code_raw", "svc_date").alias("code_norm"),
        icdcm_version("code_raw", "svc_date").cast("int").alias("icd_version"),
    )
    return out.groupBy("code_norm", "icd_version").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_ICD_NORMALIZE = """
WITH coded AS (
  SELECT CASE
      WHEN l_partkey % 4 = 0 THEN CAST(l_partkey % 900 + 100 AS VARCHAR)
      WHEN l_partkey % 4 = 1 THEN CAST(l_partkey % 9000 + 1000 AS VARCHAR)
      WHEN l_partkey % 4 = 2 THEN 'V' || CAST(l_partkey % 90 + 10 AS VARCHAR)
      ELSE 'E' || CAST(l_partkey % 900 + 100 AS VARCHAR)
    END AS code_raw,
    CAST(l_shipdate AS DATE) AS svc_date
  FROM lineitem
), norm AS (
  SELECT code_raw,
    CASE
      WHEN regexp_full_match(code_raw, '[0-9]{3,4}') THEN rpad(code_raw, 5, '0')
      WHEN regexp_full_match(code_raw, '[VE][0-9]+') AND length(code_raw) BETWEEN 3 AND 4
           AND svc_date < DATE '2015-10-01' THEN rpad(code_raw, 5, '0')
      ELSE code_raw
    END AS code_norm,
    CASE
      WHEN regexp_matches(code_raw, '^[0-9]')
        OR (regexp_matches(code_raw, '^[VE]') AND svc_date < DATE '2015-10-01')
      THEN 9 ELSE 10
    END AS icd_version
  FROM coded
)
SELECT code_norm, icd_version, COUNT(*) AS n FROM norm GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# §2.2 P10 — format classification via length/regex rules
# ---------------------------------------------------------------------------

def q_format_classify(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    pk = F.col("c_custkey")
    ident = (
        F.when(pk % 3 == 0, F.lpad((pk * 7919 % 2000000000 + 1000000000).cast("string"), 10, "1"))
        .when(pk % 3 == 1, F.concat(F.lit("AB"), F.lpad((pk % 10000000).cast("string"), 7, "0")))
        .otherwise(F.concat(F.lit("X"), pk.cast("string")))
    )
    from claims_data_spark.functions.strings import provider_id_format

    classified = c.withColumn("ident", ident).withColumn(
        "id_class", provider_id_format("ident")
    )
    return classified.groupBy("id_class").agg(F.count(F.lit(1)).alias("n"))


SQL_FORMAT_CLASSIFY = """
WITH idents AS (
  SELECT CASE
      WHEN c_custkey % 3 = 0 THEN lpad(CAST(c_custkey * 7919 % 2000000000 + 1000000000 AS VARCHAR), 10, '1')
      WHEN c_custkey % 3 = 1 THEN 'AB' || lpad(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0')
      ELSE 'X' || CAST(c_custkey AS VARCHAR)
    END AS ident
  FROM customer
)
SELECT CASE
    WHEN length(ident) = 10 AND regexp_full_match(ident, '[12][0-9]{9}') THEN 'NPI'
    WHEN regexp_full_match(ident, '[A-Z]{2}[0-9]{7}') THEN 'DEA'
    ELSE 'UNKNOWN'
  END AS id_class, COUNT(*) AS n
FROM idents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# §2.3 J1/J16 — inner equi joins with broadcast dims
# ---------------------------------------------------------------------------

def q_join_revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dbl(F.sum(_dec("o_totalprice"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_JOIN_REVENUE = """
SELECT r_name, n_name,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# §2.3 J2 + §2.8 R3/A2 — multi-way left join of pre-aggregated flag tables
# ---------------------------------------------------------------------------

def q_order_flags(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returns = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_return")
    )
    bigqty = li.groupBy("l_orderkey").agg(
        F.max(F.when(F.col("l_quantity") > 45, 1).otherwise(0)).alias("has_big_line")
    )
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        o.join(returns, o.o_orderkey == returns.l_orderkey, "left").drop("l_orderkey")
        .join(bigqty, o.o_orderkey == bigqty.l_orderkey, "left").drop("l_orderkey")
        .join(counts, o.o_orderkey == counts.l_orderkey, "left").drop("l_orderkey")
        .select(
            "o_orderkey",
            F.coalesce("has_return", F.lit(0)).alias("has_return"),
            F.coalesce("has_big_line", F.lit(0)).alias("has_big_line"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        )
    )


SQL_ORDER_FLAGS = """
SELECT o_orderkey,
  COALESCE(r.has_return, 0) AS has_return,
  COALESCE(b.has_big_line, 0) AS has_big_line,
  COALESCE(c.n_lines, 0) AS n_lines
FROM orders
LEFT JOIN (SELECT l_orderkey, MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return FROM lineitem GROUP BY 1) r ON o_orderkey = r.l_orderkey
LEFT JOIN (SELECT l_orderkey, MAX(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS has_big_line FROM lineitem GROUP BY 1) b ON o_orderkey = b.l_orderkey
LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1) c ON o_orderkey = c.l_orderkey
"""


# ---------------------------------------------------------------------------
# §2.3 J3 — right outer join
# ---------------------------------------------------------------------------

def q_right_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return per_part.join(p, per_part.l_partkey == p.p_partkey, "right").select(
        "p_partkey", F.coalesce("n_lines", F.lit(0)).alias("n_lines")
    )


SQL_RIGHT_JOIN = """
SELECT p_partkey, COALESCE(n_lines, 0) AS n_lines
FROM (SELECT l_partkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1) x
RIGHT JOIN part ON l_partkey = p_partkey
"""


# ---------------------------------------------------------------------------
# §2.3 J4 — full outer join + coalesced keys
# ---------------------------------------------------------------------------

def q_full_outer(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = _t(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


SQL_FULL_OUTER = """
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
  COALESCE(n_customers, 0) AS n_customers,
  COALESCE(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
  ON c_nationkey = s_nationkey
"""


# ---------------------------------------------------------------------------
# §2.3 J5/J6 + §2.4 A10 — cross-join grid densify + zero fill
# ---------------------------------------------------------------------------

def q_grid_zerofill(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    facts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    grid = (
        r.select("r_name").distinct()
        .crossJoin(o.select("o_orderstatus").distinct())
    )
    return grid.join(facts, ["r_name", "o_orderstatus"], "left").fillna(
        {"n_orders": 0}
    )


SQL_GRID_ZEROFILL = """
SELECT g.r_name, g.o_orderstatus, COALESCE(f.n_orders, 0) AS n_orders
FROM (SELECT r_name, o_orderstatus FROM (SELECT DISTINCT r_name FROM region) CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)) g
LEFT JOIN (
  SELECT r_name, o_orderstatus, COUNT(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
) f ON g.r_name = f.r_name AND g.o_orderstatus = f.o_orderstatus
"""


# ---------------------------------------------------------------------------
# §2.3 J11 — semi join
# ---------------------------------------------------------------------------

def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""


# ---------------------------------------------------------------------------
# §2.3 J12 — anti join
# ---------------------------------------------------------------------------

def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# ---------------------------------------------------------------------------
# §2.3 J13 / §2.7 U3 — EXCEPT
# ---------------------------------------------------------------------------

def q_except(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    high = o.filter(F.col("o_totalprice") > 150000).select("o_orderkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return high.exceptAll(urgent).distinct()


SQL_EXCEPT = """
SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
EXCEPT
SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


# ---------------------------------------------------------------------------
# §2.3 J14 — as-of (running-min variant: reference's MOUD rule shape)
# ---------------------------------------------------------------------------

def q_asof_min(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    within = join_to_running_min(
        o, o, key="o_custkey", left_date="o_orderdate",
        right_date="o_orderdate", min_col="first_orderdate",
    ).filter(F.datediff("o_orderdate", "first_orderdate") <= 90)
    return within.select(
        "o_orderkey", "o_custkey",
        F.datediff("o_orderdate", "first_orderdate").cast("long").alias("days_since_first"),
        _ds("first_orderdate").alias("first_orderdate"),
    )


SQL_ASOF_MIN = """
WITH firsts AS (
  SELECT o_custkey AS k, MIN(CAST(o_orderdate AS DATE)) AS first_orderdate FROM orders GROUP BY 1
)
SELECT o_orderkey, o_custkey, CAST(first_orderdate AS VARCHAR) AS first_orderdate,
  DATEDIFF('day', first_orderdate, CAST(o_orderdate AS DATE)) AS days_since_first
FROM orders JOIN firsts ON o_custkey = k
WHERE DATEDIFF('day', first_orderdate, CAST(o_orderdate AS DATE)) <= 90
"""


# ---------------------------------------------------------------------------
# §2.3 J15 — point-in-dimension join to a generated calendar
# ---------------------------------------------------------------------------

def q_calendar_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    cal = date_dim(spark, "1995-01-01", "2001-12-31")
    return o.join(F.broadcast(cal), o.d == cal.date).select(
        "o_orderkey",
        _ds("first_day_month").alias("first_day_month"),
        _ds("last_day_month").alias("last_day_month"),
        F.col("is_weekend").cast("int").alias("is_weekend"),
    )


SQL_CALENDAR_JOIN = """
SELECT o_orderkey,
  CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS VARCHAR) AS first_day_month,
  CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE) AS VARCHAR) AS last_day_month,
  CASE WHEN dayofweek(CAST(o_orderdate AS DATE)) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.3 J9 / §4.1 — LIKE-prefix join rewritten as equi-join
# ---------------------------------------------------------------------------

def q_prefix_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    ref5 = p.filter(F.col("p_size") < 10).select(
        F.substring("p_type", 1, 5).alias("pfx")
    ).distinct()
    ref8 = p.filter(F.col("p_size") > 40).select(
        F.substring("p_type", 1, 8).alias("pfx")
    ).distinct()
    ref = ref5.unionByName(ref8).distinct()
    joined = prefix_join(p, ref, fact_code="p_type", ref_prefix="pfx")
    return joined.groupBy("pfx").agg(F.count(F.lit(1)).alias("n_parts"))


SQL_PREFIX_JOIN = """
WITH ref AS (
  SELECT DISTINCT SUBSTRING(p_type, 1, 5) AS pfx FROM part WHERE p_size < 10
  UNION
  SELECT DISTINCT SUBSTRING(p_type, 1, 8) AS pfx FROM part WHERE p_size > 40
)
SELECT pfx, COUNT(*) AS n_parts
FROM part JOIN ref ON p_type LIKE pfx || '%'
GROUP BY pfx
"""


# ---------------------------------------------------------------------------
# §2.5 W1 — LAG gap between consecutive per-key events
# ---------------------------------------------------------------------------

def q_window_lag(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("long").alias("gap_days"),
    )


SQL_WINDOW_LAG = """
SELECT o_orderkey, o_custkey,
  DATEDIFF('day', LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey), CAST(o_orderdate AS DATE)) AS gap_days
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.5 W2/W3 — gaps-and-islands collapse
# ---------------------------------------------------------------------------

def q_islands(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.col("o_orderdate").cast("date").alias("to_date"),
    )
    islands = collapse_islands(
        o, ["o_custkey"], "from_date", "to_date", max_gap_days=30,
        out_from="island_from", out_to="island_to",
    )
    return islands.select(
        "o_custkey",
        _ds("island_from").alias("island_from"),
        _ds("island_to").alias("island_to"),
        "n_segments",
        F.col("island_days").cast("long").alias("island_days"),
    )


SQL_ISLANDS = """
WITH pts AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders
), flagged AS (
  SELECT o_custkey, d,
    CASE WHEN MAX(d) OVER (PARTITION BY o_custkey ORDER BY d, d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR DATEDIFF('day', MAX(d) OVER (PARTITION BY o_custkey ORDER BY d, d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), d) > 30
         THEN 1 ELSE 0 END AS s
  FROM pts
), grp AS (
  SELECT o_custkey, d,
    SUM(s) OVER (PARTITION BY o_custkey ORDER BY d, d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT o_custkey, CAST(MIN(d) AS VARCHAR) AS island_from, CAST(MAX(d) AS VARCHAR) AS island_to,
  COUNT(*) AS n_segments,
  DATEDIFF('day', MIN(d), MAX(d)) + 1 AS island_days
FROM grp GROUP BY o_custkey, island
"""


# ---------------------------------------------------------------------------
# §2.5 W11 + coverage stats (flagship: claims_elig cov_days/cov_pct shape)
# ---------------------------------------------------------------------------

def q_coverage(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("to_date"),
    )
    return coverage_stats(
        o, ["o_custkey"], "from_date", "to_date",
        win_from="1996-01-01", win_to="1996-12-31",
    ).select(
        "o_custkey",
        "cov_days",
        "cov_pct",
        F.col("pre_gap").cast("long").alias("pre_gap"),
        F.col("post_gap").cast("long").alias("post_gap"),
        F.col("covgap_max").cast("long").alias("covgap_max"),
    )


def q_elig_cohort_filters(spark, sf_dir):
    """Full claims_elig cohort pull exercising the round-9 named-
    parameter families END TO END (api.claims_elig;
    R/claims_elig.R:441-583 demo filters + :788-1280 timevar
    families): coverage stats with cov_min, a demo flag filter
    (female=1 -> gender_female), a timevar FLAG person-time bound
    (dual_min=10 over the raw 'Y'/'N' dual encoding), and a
    modal-value IN filter (cov_type=['mc'], rank = person-time DESC
    then value ASC). Fixture: month-grain non-overlapping timevar
    intervals minted from orders (flags are functions of (person,
    month), so DISTINCT yields one row per covered month), demo from
    customer. The oracle re-derives islands/gaps (the SQL_COVERAGE
    pattern), the dual person-time percent, and the modal cov_type
    in DuckDB."""
    from claims_data_spark.api import claims_elig

    o = _t(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    m = F.date_trunc("month", od).cast("date")
    tv = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        m.alias("from_date"),
        F.last_day(od).alias("to_date"),
        F.when(F.month(od) % 3 == 0, "Y").otherwise("N").alias("dual"),
        F.when((F.col("o_custkey") + F.month(od)) % 2 == 0, "MC")
        .otherwise("FFS")
        .alias("cov_type"),
    ).distinct()
    c = _t(spark, sf_dir, "customer")
    demo = c.select(
        F.col("c_custkey").alias("id_mcaid"),
        F.date_add(
            F.lit("1950-01-01").cast("date"),
            ((F.col("c_custkey") * 7) % 17000).cast("int"),
        ).alias("dob"),
        (F.col("c_custkey") % 2).cast("int").alias("gender_female"),
        (1 - F.col("c_custkey") % 2).cast("int").alias("gender_male"),
    )
    out = claims_elig(
        demo, tv, "1996-01-01", "1996-12-31",
        cov_min=20.0, female=1, dual_min=10, cov_type=["mc"],
    )
    return out.select(
        "id_mcaid",
        F.col("cov_days").cast("long").alias("cov_days"),
        "cov_pct",
        F.col("covgap_max").cast("long").alias("covgap_max"),
        "dual_pct",
    )


SQL_ELIG_COHORT_FILTERS = """
WITH tv AS (
  SELECT DISTINCT o_custkey AS id,
    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS f,
    last_day(CAST(o_orderdate AS DATE)) AS t,
    CASE WHEN month(CAST(o_orderdate AS DATE)) % 3 = 0 THEN 1 ELSE 0 END
      AS dual,
    CASE WHEN (o_custkey + month(CAST(o_orderdate AS DATE))) % 2 = 0
         THEN 'MC' ELSE 'FFS' END AS cov_type
  FROM orders
), ov AS (
  SELECT *,
    DATEDIFF('day', GREATEST(f, DATE '1996-01-01'),
                    LEAST(t, DATE '1996-12-31')) + 1 AS part_days
  FROM tv WHERE f <= DATE '1996-12-31' AND t >= DATE '1996-01-01'
), flagged AS (
  SELECT id, f, t,
    CASE WHEN MAX(t) OVER (PARTITION BY id ORDER BY f, t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR DATEDIFF('day', MAX(t) OVER (PARTITION BY id ORDER BY f, t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), f) > 0
         THEN 1 ELSE 0 END AS s
  FROM ov
), grp AS (
  SELECT *, SUM(s) OVER (PARTITION BY id ORDER BY f, t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), islands AS (
  SELECT id, MIN(f) AS f, MAX(t) AS t FROM grp GROUP BY id, island
), clipped AS (
  SELECT id, GREATEST(f, DATE '1996-01-01') AS cf,
         LEAST(t, DATE '1996-12-31') AS ct
  FROM islands
), gaps AS (
  SELECT id, cf, ct,
    COALESCE(
      DATEDIFF('day', LAG(ct) OVER (PARTITION BY id ORDER BY cf), cf) - 1,
      DATEDIFF('day', DATE '1996-01-01', cf)
    ) AS gap_before
  FROM clipped
), cov AS (
  SELECT id,
    CAST(SUM(DATEDIFF('day', cf, ct) + 1) AS BIGINT) AS cov_days,
    ROUND(SUM(DATEDIFF('day', cf, ct) + 1) / 366.0 * 100, 1) AS cov_pct,
    GREATEST(MAX(gap_before),
             DATEDIFF('day', DATE '1996-01-01', MIN(cf)),
             DATEDIFF('day', MAX(ct), DATE '1996-12-31')) AS covgap_max
  FROM gaps GROUP BY id
), dualpct AS (
  SELECT id,
    ROUND(SUM(part_days * dual) * 100.0 / 366, 1) AS dual_pct
  FROM ov GROUP BY id
), modal AS (
  SELECT id, cov_type FROM (
    SELECT id, cov_type,
      ROW_NUMBER() OVER (PARTITION BY id
        ORDER BY SUM(part_days) DESC, cov_type ASC) AS rk
    FROM ov GROUP BY id, cov_type
  ) WHERE rk = 1
)
SELECT cov.id AS id_mcaid, cov.cov_days, cov.cov_pct,
  CAST(cov.covgap_max AS BIGINT) AS covgap_max, dualpct.dual_pct
FROM customer cust
JOIN cov ON cust.c_custkey = cov.id
JOIN dualpct ON dualpct.id = cov.id
JOIN modal ON modal.id = cov.id
WHERE cust.c_custkey % 2 = 1
  AND cov.cov_pct >= 20.0
  AND dualpct.dual_pct >= 10
  AND LOWER(modal.cov_type) IN ('mc')
"""


SQL_COVERAGE = """
WITH iv AS (
  SELECT o_custkey,
    CAST(o_orderdate AS DATE) AS f,
    CAST(o_orderdate AS DATE) + 30 AS t
  FROM orders
  WHERE CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
    AND CAST(o_orderdate AS DATE) + 30 >= DATE '1996-01-01'
), flagged AS (
  SELECT o_custkey, f, t,
    CASE WHEN MAX(t) OVER (PARTITION BY o_custkey ORDER BY f, t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           OR DATEDIFF('day', MAX(t) OVER (PARTITION BY o_custkey ORDER BY f, t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), f) > 0
         THEN 1 ELSE 0 END AS s
  FROM iv
), grp AS (
  SELECT *, SUM(s) OVER (PARTITION BY o_custkey ORDER BY f, t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
), islands AS (
  SELECT o_custkey, MIN(f) AS f, MAX(t) AS t
  FROM grp GROUP BY o_custkey, island
), clipped AS (
  SELECT o_custkey,
    GREATEST(f, DATE '1996-01-01') AS cf,
    LEAST(t, DATE '1996-12-31') AS ct
  FROM islands
), gaps AS (
  SELECT o_custkey, cf, ct,
    COALESCE(
      DATEDIFF('day', LAG(ct) OVER (PARTITION BY o_custkey ORDER BY cf), cf) - 1,
      DATEDIFF('day', DATE '1996-01-01', cf)
    ) AS gap_before
  FROM clipped
)
SELECT o_custkey,
  CAST(SUM(DATEDIFF('day', cf, ct) + 1) AS BIGINT) AS cov_days,
  ROUND(SUM(DATEDIFF('day', cf, ct) + 1) / 366.0 * 100, 1) AS cov_pct,
  DATEDIFF('day', DATE '1996-01-01', MIN(cf)) AS pre_gap,
  DATEDIFF('day', MAX(ct), DATE '1996-12-31') AS post_gap,
  GREATEST(MAX(gap_before),
           DATEDIFF('day', DATE '1996-01-01', MIN(cf)),
           DATEDIFF('day', MAX(ct), DATE '1996-12-31')) AS covgap_max
FROM gaps GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# §2.5 W4/W5 — episode grouping + scalable global dense ids
# ---------------------------------------------------------------------------

def q_episodes(spark, sf_dir):
    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("date").alias("event_date")
    )
    eps = episode_table(
        ev, ["user_id"], "event_date", merge_gap_days=1, global_id_col="episode_id"
    )
    return eps.select(
        "episode_id", "user_id",
        _ds("episode_start").alias("episode_start"),
        _ds("episode_end").alias("episode_end"),
        "n_events",
    )


SQL_EPISODES = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS event_date FROM events
), flagged AS (
  SELECT user_id, event_date,
    CASE WHEN LAG(event_date) OVER (PARTITION BY user_id ORDER BY event_date) IS NULL
           OR DATEDIFF('day', LAG(event_date) OVER (PARTITION BY user_id ORDER BY event_date), event_date) > 1
         THEN 1 ELSE 0 END AS inc
  FROM ev
), grp AS (
  SELECT user_id, event_date,
    SUM(inc) OVER (PARTITION BY user_id ORDER BY event_date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wep
  FROM flagged
), collapsed AS (
  SELECT user_id, wep, MIN(event_date) AS episode_start, MAX(event_date) AS episode_end, COUNT(*) AS n_events
  FROM grp GROUP BY user_id, wep
)
SELECT DENSE_RANK() OVER (ORDER BY user_id, wep) AS episode_id,
  user_id, CAST(episode_start AS VARCHAR) AS episode_start,
  CAST(episode_end AS VARCHAR) AS episode_end, n_events
FROM collapsed
"""


# ---------------------------------------------------------------------------
# §2.5 W6 + §2.4 A13 — month densify + rolling frames
# ---------------------------------------------------------------------------

def q_rolling_months(spark, sf_dir):
    # Scatter-gather trailing-12m plan (operators/rolling.py:
    # sparse_rolling_month_sum): one shuffle on the id, no dense grid,
    # no window sort. Output is identical to the densify+window idiom
    # restricted to rolling>0 rows (the dense rows the reference's
    # enroll-denom keeps are exactly those reachable from a fact
    # month, sp_mcaid_perf_enroll_denom.sql:44-80).
    o = _t(spark, sf_dir, "orders").withColumn(
        "year_month", date_to_yyyymm(F.col("o_orderdate").cast("date"))
    )
    rolled = sparse_rolling_month_sum(
        o, ["o_custkey"], "year_month",
        window_months=12, ym_min=199501, ym_max=200108,
        out_col="n_orders_12m", current_col="n_orders",
    )
    return rolled.filter(F.col("n_orders_12m") > 0).select(
        "o_custkey", "year_month", "n_orders", "n_orders_12m"
    )


SQL_ROLLING_MONTHS = """
WITH months AS (
  SELECT CAST(strftime(m, '%Y%m') AS INT) AS year_month
  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-08-01', INTERVAL 1 MONTH)) AS m)
), ids AS (
  SELECT DISTINCT o_custkey FROM orders
), grid AS (
  SELECT o_custkey, year_month FROM ids CROSS JOIN months
), monthly AS (
  SELECT o_custkey, CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m') AS INT) AS year_month, COUNT(*) AS n_orders
  FROM orders GROUP BY 1, 2
), dense AS (
  SELECT g.o_custkey, g.year_month, COALESCE(m.n_orders, 0) AS n_orders
  FROM grid g LEFT JOIN monthly m ON g.o_custkey = m.o_custkey AND g.year_month = m.year_month
)
SELECT o_custkey, year_month, n_orders,
  CAST(SUM(n_orders) OVER (PARTITION BY o_custkey ORDER BY year_month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_orders_12m
FROM dense
QUALIFY n_orders_12m > 0
"""


# ---------------------------------------------------------------------------
# §2.4 A4 — mode with deterministic tiebreak
# ---------------------------------------------------------------------------

def q_mode(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return mode_value(
        ev, ["user_id"], "event_type",
        out_col="top_event_type", keep_weight_as="n",
    ).select("user_id", "top_event_type", "n")


SQL_MODE = """
SELECT user_id, event_type AS top_event_type, n FROM (
  SELECT user_id, event_type, COUNT(*) AS n,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.4 A5 — weighted mode (most person-time analog: weight = sum(value))
# ---------------------------------------------------------------------------

def q_mode_weighted(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("w", _dec("value"))
    out = mode_value(
        ev, ["user_id"], "event_type", weight=F.col("w"),
        out_col="top_type_by_value", keep_weight_as="weight_sum",
    )
    return out.select(
        "user_id", "top_type_by_value", _dbl(F.col("weight_sum")).alias("weight_sum")
    )


SQL_MODE_WEIGHTED = """
SELECT user_id, event_type AS top_type_by_value, CAST(w AS DOUBLE) AS weight_sum FROM (
  SELECT user_id, event_type, SUM(CAST(value AS DECIMAL(12,2))) AS w,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY SUM(CAST(value AS DECIMAL(12,2))) DESC, event_type) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.4 A7/A8 — person-time percentages + ever-flags
# ---------------------------------------------------------------------------

def q_pct_flags(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            * F.lit(100.0)
            / F.count(F.lit(1)),
            1,
        ).alias("pct_urgent"),
        F.max(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("ever_f"),
    )


SQL_PCT_FLAGS = """
SELECT o_custkey,
  ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 1) AS pct_urgent,
  MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ever_f
FROM orders GROUP BY o_custkey
"""


# ---------------------------------------------------------------------------
# §2.4 A3 — COUNT DISTINCT
# ---------------------------------------------------------------------------

def q_count_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


SQL_COUNT_DISTINCT = """
SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS n_suppliers, COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_partkey
"""


# ---------------------------------------------------------------------------
# §2.4 A12 / §2.6 O3 — top-k with rank ties
# ---------------------------------------------------------------------------

def q_topk_ties(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w = Window.partitionBy("n_regionkey").orderBy(F.col("n_customers").desc())
    return (
        counts.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_regionkey", "n_name", "n_customers", F.col("rk").cast("long").alias("rk"))
    )


SQL_TOPK_TIES = """
SELECT n_regionkey, n_name, n_customers, rk FROM (
  SELECT n_regionkey, n_name, COUNT(*) AS n_customers,
    RANK() OVER (PARTITION BY n_regionkey ORDER BY COUNT(*) DESC) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_regionkey, n_name
) WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# §2.8 R1 — unpivot wide measures to long
# ---------------------------------------------------------------------------

def q_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    long_df = unpivot(
        li,
        id_cols=["l_orderkey", "l_linenumber"],
        value_cols={
            "l_quantity": "quantity",
            "l_extendedprice": "extendedprice",
            "l_discount": "discount",
            "l_tax": "tax",
        },
        var_name="measure",
        value_name="value",
    )
    return long_df.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        _dbl(F.sum(_dec("value", 2, 18))).alias("total"),
    )


SQL_UNPIVOT = """
WITH long_t AS (
  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem
)
SELECT measure, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM long_t WHERE value IS NOT NULL GROUP BY measure
"""


# ---------------------------------------------------------------------------
# §2.7 U1/U2 — union distinct / union all stacking
# ---------------------------------------------------------------------------

def q_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.lit("customer").alias("src"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.lit("supplier").alias("src"),
    )
    return c.unionByName(s).groupBy("nationkey", "src").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_UNION = """
SELECT nationkey, src, COUNT(*) AS n FROM (
  SELECT CAST(c_nationkey AS INT) AS nationkey, 'customer' AS src FROM customer
  UNION ALL
  SELECT CAST(s_nationkey AS INT) AS nationkey, 'supplier' AS src FROM supplier
) GROUP BY nationkey, src
"""


# ---------------------------------------------------------------------------
# §2.7 U4 — INTERSECT
# ---------------------------------------------------------------------------

def q_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return c.intersect(s)


SQL_INTERSECT = """
SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
INTERSECT
SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# §2.9 — T-SQL-compatible scalar date math
# ---------------------------------------------------------------------------

def q_scalar_datetime(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    anchor = F.lit("2000-01-15").cast("date")
    enriched = o.select(
        tsql_datediff_month("d", anchor).cast("long").alias("months_to_anchor"),
        _ds(F.last_day("d")).alias("month_end"),
        date_to_yyyymm("d").alias("yyyymm"),
        age_years("d", anchor).alias("age_years"),
    )
    return enriched.groupBy("months_to_anchor", "month_end", "yyyymm", "age_years").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_SCALAR_DATETIME = """
WITH e AS (
  SELECT
    (2000 - YEAR(CAST(o_orderdate AS DATE))) * 12 + (1 - MONTH(CAST(o_orderdate AS DATE))) AS months_to_anchor,
    CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
    CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m') AS INT) AS yyyymm,
    FLOOR((DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-15') + 1) / 365.25) AS age_years
  FROM orders
)
SELECT months_to_anchor, month_end, yyyymm, CAST(age_years AS BIGINT) AS age_years, COUNT(*) AS n
FROM e GROUP BY 1, 2, 3, 4
"""


# ---------------------------------------------------------------------------
# §2.5 W5 / §4.2 — scalable global dense ids vs DENSE_RANK oracle
# ---------------------------------------------------------------------------

def q_dense_global(spark, sf_dir):
    """W5: warehouse-wide dense event ids without the single-task
    funnel of an un-partitioned DENSE_RANK: one range exchange plus
    one Arrow running-count pass on the rows, with per-partition
    prefix offsets."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    with_id = dense_global_id(
        o.select("o_orderkey", "o_custkey", "d"),
        order_cols=["o_custkey", "d"],
        out_col="event_seq_id",
    )
    return with_id.select("o_orderkey", "event_seq_id")


SQL_DENSE_GLOBAL = """
SELECT o_orderkey,
  DENSE_RANK() OVER (ORDER BY o_custkey, CAST(o_orderdate AS DATE)) AS event_seq_id
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.4 A9-A11 — tabloop multi-stat tabulation + suppression
# ---------------------------------------------------------------------------

def q_tabloop(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn("price_dec", _dec("o_totalprice"))
    tab = tabloop(
        o,
        fixed=[],
        loop_vars=["o_orderstatus", "o_orderpriority"],
        stats={
            "n": ("count", "price_dec"),
            "n_cust": ("count_distinct", "o_custkey"),
            "total": ("sum", "price_dec"),
            "med_price": ("median", "o_totalprice"),
        },
    )
    tab = tab.withColumn("total", _dbl(F.col("total"))).withColumn(
        "med_price", F.round("med_price", 4)
    )
    return suppress(tab, ["n"], lower=1, upper=5).select(
        "group_cat", "group", "n", "n_cust", "total", "med_price"
    )


SQL_TABLOOP = """
WITH stacked AS (
  SELECT 'o_orderstatus' AS group_cat, CAST(o_orderstatus AS VARCHAR) AS "group",
    COUNT(*) AS n_raw, COUNT(DISTINCT o_custkey) AS n_cust,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
    ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med_price
  FROM orders GROUP BY o_orderstatus
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR),
    COUNT(*), COUNT(DISTINCT o_custkey),
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE),
    ROUND(quantile_cont(o_totalprice, 0.5), 4)
  FROM orders GROUP BY o_orderpriority
)
SELECT group_cat, "group",
  CASE WHEN n_raw BETWEEN 1 AND 5 THEN NULL ELSE n_raw END AS n,
  n_cust, total, med_price
FROM stacked
"""


# ---------------------------------------------------------------------------
# §2.4 A9 — tabloop with FIXED columns × loop variables
# ---------------------------------------------------------------------------

def q_tabloop_fixed(spark, sf_dir):
    """The reference's full tabloop shape: fixed grouping columns kept
    across every loop variable (R/tabloop.R:137-523)."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year(F.col("o_orderdate").cast("date"))
    ).withColumn("price_dec", _dec("o_totalprice"))
    tab = tabloop(
        o,
        fixed=["order_year"],
        loop_vars=["o_orderstatus", "o_orderpriority"],
        stats={"n": ("count", "price_dec"), "total": ("sum", "price_dec")},
    )
    return tab.withColumn("total", _dbl(F.col("total"))).select(
        "order_year", "group_cat", "group", "n", "total"
    )


SQL_TABLOOP_FIXED = """
SELECT YEAR(CAST(o_orderdate AS DATE)) AS order_year,
  'o_orderstatus' AS group_cat, CAST(o_orderstatus AS VARCHAR) AS "group",
  COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 3
UNION ALL
SELECT YEAR(CAST(o_orderdate AS DATE)),
  'o_orderpriority', CAST(o_orderpriority AS VARCHAR),
  COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
FROM orders GROUP BY 1, 3
"""


# ---------------------------------------------------------------------------
# §2.5 W10 — interval overlap re-segmentation (dual timelines)
# ---------------------------------------------------------------------------

def q_resegment(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    a = o.select(
        "o_custkey",
        F.col("d").alias("from_date"),
        F.date_add("d", 20).alias("to_date"),
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey",
        F.date_add("d", 10).alias("from_date"),
        F.date_add("d", 40).alias("to_date"),
    )
    seg = resegment_overlaps(a, b, "o_custkey", "from_date", "to_date", "cov_a", "cov_b")
    return seg.select(
        "o_custkey",
        _ds("from_date").alias("from_date"),
        _ds("to_date").alias("to_date"),
        F.col("cov_a").cast("int").alias("cov_a"),
        F.col("cov_b").cast("int").alias("cov_b"),
    )


SQL_RESEGMENT = """
WITH a AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS f, CAST(o_orderdate AS DATE) + 20 AS t,
         TRUE AS is_a, FALSE AS is_b
  FROM orders
), b AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) + 10 AS f, CAST(o_orderdate AS DATE) + 40 AS t,
         FALSE AS is_a, TRUE AS is_b
  FROM orders WHERE o_orderpriority = '1-URGENT'
), both_t AS (
  SELECT * FROM a UNION ALL SELECT * FROM b
), pts AS (
  SELECT DISTINCT o_custkey, f AS p FROM both_t
  UNION
  SELECT DISTINCT o_custkey, t + 1 FROM both_t
), segs AS (
  SELECT o_custkey, p AS seg_from,
    LEAD(p) OVER (PARTITION BY o_custkey ORDER BY p) - 1 AS seg_to
  FROM pts
  QUALIFY seg_to IS NOT NULL
)
SELECT s.o_custkey, CAST(s.seg_from AS VARCHAR) AS from_date, CAST(s.seg_to AS VARCHAR) AS to_date,
  CAST(MAX(CASE WHEN bt.is_a THEN 1 ELSE 0 END) AS INT) AS cov_a,
  CAST(MAX(CASE WHEN bt.is_b THEN 1 ELSE 0 END) AS INT) AS cov_b
FROM segs s JOIN both_t bt
  ON s.o_custkey = bt.o_custkey AND s.seg_from >= bt.f AND s.seg_to <= bt.t
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Engine extensions: documents / embeddings pipeline
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id", "lang", "source")


SQL_DEDUP_EXACT = """
WITH fp AS (
  SELECT doc_id, lang, source,
    MD5(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
  FROM documents
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f
)
SELECT d.doc_id, d.lang, d.source FROM fp d JOIN keep k ON d.doc_id = k.doc_id
"""


def q_text_stats(spark, sf_dir):
    d = spread(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count_ws("text").cast("long").alias("n_tokens"),
        token_count_bpe("text").cast("long").alias("n_bpe_tokens"),
        F.round(punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.length("text").cast("long").alias("n_chars_check"),
    )


SQL_TEXT_STATS = """
SELECT doc_id,
  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
  ROUND(
    CASE WHEN LENGTH(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
         ELSE LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / LENGTH(regexp_replace(text, '\\s', '', 'g'))
    END, 4) AS punct_ratio,
  ROUND(
    len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
        x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
      / len(string_split_regex(LOWER(TRIM(text)), '\\s+')),
    4) AS stopword_ratio,
  LENGTH(text) AS n_chars_check
FROM documents
"""


def q_lang_id(spark, sf_dir):
    d = spread(_t(spark, sf_dir, "documents"))
    from claims_data_spark.functions.text import lang_marker_hits

    hits = d.select(
        "doc_id",
        *[lang_marker_hits("text", lg).alias(f"hits_{lg}") for lg in LANG_MARKERS],
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("unknown")
    for lg in reversed(langs):
        pred = F.when((best > 0) & (F.col(f"hits_{lg}") == best), F.lit(lg)).otherwise(pred)
    return hits.select("doc_id", pred.alias("pred_lang"))


def _sql_lang_id() -> str:
    markers = {
        lg: ",".join(f"'{w}'" for w in ws) for lg, ws in LANG_MARKERS.items()
    }
    hit_cols = ",\n    ".join(
        f"len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'), x -> x IN ({markers[lg]}))) AS hits_{lg}"
        for lg in LANG_MARKERS
    )
    langs = list(LANG_MARKERS)
    greatest = ", ".join(f"hits_{lg}" for lg in langs)
    case = "CASE"
    for lg in langs:
        case += f" WHEN best > 0 AND hits_{lg} = best THEN '{lg}'"
    case += " ELSE 'unknown' END"
    return f"""
WITH hits AS (
  SELECT doc_id,
    {hit_cols}
  FROM documents
), best_t AS (
  SELECT *, GREATEST({greatest}) AS best FROM hits
)
SELECT doc_id, {case} AS pred_lang FROM best_t
"""


def q_quality(spark, sf_dir):
    d = spread(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        quality_score("text").alias("quality"),
        doc_fingerprint("text").alias("fingerprint"),
    )


SQL_QUALITY = """
WITH base AS (
  SELECT doc_id, text,
    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tok,
    CASE WHEN LENGTH(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
         ELSE LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0 / LENGTH(regexp_replace(text, '\\s', '', 'g'))
    END AS pr,
    len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
        x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
      / len(string_split_regex(LOWER(TRIM(text)), '\\s+')) AS sr
  FROM documents
)
SELECT doc_id,
  ROUND((LEAST(n_tok / 50.0, 1.0) + GREATEST(0.0, 1.0 - pr * 4) + LEAST(sr * 5.0, 1.0)) / 3.0, 4) AS quality,
  MD5(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM base
"""


def q_knn_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", F.col("vec").alias("embedding"))
    return brute_force_topk(corpus, queries, k=5)


SQL_KNN_BRUTEFORCE = """
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings
), q AS (
  SELECT vec_id AS query_id, vec AS qv FROM emb WHERE vec_id < 5
), c AS (
  SELECT vec_id, vec FROM emb WHERE vec_id >= 5
), scored AS (
  SELECT q.query_id, c.vec_id,
    list_aggregate(list_transform(generate_series(1, len(c.vec)), i -> c.vec[i] * q.qv[i]), 'sum')
      / (SQRT(list_aggregate(list_transform(generate_series(1, len(c.vec)), i -> c.vec[i] * c.vec[i]), 'sum'))
         * SQRT(list_aggregate(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * q.qv[i]), 'sum'))) AS cs
  FROM c CROSS JOIN q
)
SELECT query_id, vec_id, ROUND(cs, 6) AS cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_minhash_dedup(spark, sf_dir):
    """MinHash+LSH near-dup pairs, full value-checked: the portable
    md5-hex hash family (lexicographic-min per seed) lets the DuckDB
    oracle reproduce the banded candidate set EXACTLY, and the output
    is the exact-Jaccard-verified pairs — so shingling, signatures,
    banding, the bucket self-join and the verification all get an
    oracle signal, not just a row count."""
    d = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        d, "doc_id", "text", shingle_k=3, num_hashes=32, bands=8,
        jaccard_threshold=0.8, portable=True,
    )


SQL_MINHASH_NEAR_DUP = """
WITH norm AS (
  SELECT doc_id,
    string_split(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
    list_distinct(
      list_transform(
        generate_series(1, GREATEST(len(w) - 2, 1)),
        i -> array_to_string(w[i:i+2], ' ')
      )
    ) AS s
  FROM norm
), sig AS (
  SELECT doc_id, s,
    list_transform(
      range(0, 32),
      i -> list_min(list_transform(s, x -> md5(i::VARCHAR || ':' || x)))
    ) AS g
  FROM sh
), bands AS (
  SELECT doc_id, t.b AS band_id,
    array_to_string(g[(4 * t.b + 1):(4 * t.b + 4)], '|') AS band_hash
  FROM sig, range(0, 8) t(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
  ROUND(len(list_intersect(x.s, y.s)) * 1.0
        / len(list_distinct(list_concat(x.s, y.s))), 4) AS jaccard
FROM cand c
JOIN sh x ON x.doc_id = c.id_a
JOIN sh y ON y.doc_id = c.id_b
WHERE len(list_intersect(x.s, y.s)) * 1.0
      / len(list_distinct(list_concat(x.s, y.s))) >= 0.8
"""


def q_fuzzy_decontaminate(spark, sf_dir):
    """MinHash-banded cross-corpus decontamination (operators/
    corpus.fuzzy_decontaminate): drop training documents NEAR-
    duplicate to any benchmark doc — the fuzzy complement of the
    exact/Bloom 13-gram gate (paraphrased eval leakage shares no
    verbatim n-gram but still contaminates). Fixture: the benchmark is
    every 101st document verbatim (the "eval set was drawn from the
    crawl" scenario), the full corpus is the training side, so every
    bench row has a guaranteed exact hit plus whatever planted
    near-dups cross the split. portable=True (md5-hex MinHash family)
    so the oracle reproduces the banded candidate set exactly —
    signatures, banding, the broadcast bucket probe and the exact-
    Jaccard verification all get a value-level signal."""
    from claims_data_spark.operators.corpus import fuzzy_decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    _, cont = fuzzy_decontaminate(
        d, bench, jaccard_threshold=0.8, num_hashes=32, bands=8,
        portable=True,
    )
    return cont.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("best_bench_id").cast("long").alias("best_bench_id"),
        F.col("best_jaccard").cast("double").alias("best_jaccard"),
        F.col("n_bench_hits").cast("long").alias("n_bench_hits"),
    )


SQL_FUZZY_DECONTAMINATE = """
WITH norm AS (
  SELECT doc_id,
    string_split(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id,
    list_distinct(
      list_transform(
        generate_series(1, GREATEST(len(w) - 2, 1)),
        i -> array_to_string(w[i:i+2], ' ')
      )
    ) AS s
  FROM norm
), sig AS (
  SELECT doc_id, s,
    list_transform(
      range(0, 32),
      i -> list_min(list_transform(s, x -> md5(i::VARCHAR || ':' || x)))
    ) AS g
  FROM sh
), bands AS (
  SELECT doc_id, t.b AS band_id,
    array_to_string(g[(4 * t.b + 1):(4 * t.b + 4)], '|') AS band_hash
  FROM sig, range(0, 8) t(b)
), cand AS (
  SELECT DISTINCT d.doc_id, b.doc_id AS bench_id
  FROM bands d JOIN bands b
    ON d.band_id = b.band_id AND d.band_hash = b.band_hash
  WHERE b.doc_id % 101 = 0
), verified AS (
  SELECT c.doc_id, c.bench_id,
    len(list_intersect(x.s, y.s)) * 1.0
      / len(list_distinct(list_concat(x.s, y.s))) AS j
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_id
  JOIN sh y ON y.doc_id = c.bench_id
  WHERE len(list_intersect(x.s, y.s)) * 1.0
        / len(list_distinct(list_concat(x.s, y.s))) >= 0.8
)
SELECT doc_id,
  CAST(bench_id AS BIGINT) AS best_bench_id,
  ROUND(mx, 4) AS best_jaccard,
  cnt AS n_bench_hits
FROM (
  SELECT doc_id, bench_id,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j DESC, bench_id) AS rn,
    MAX(j) OVER (PARTITION BY doc_id) AS mx,
    COUNT(*) OVER (PARTITION BY doc_id)::BIGINT AS cnt
  FROM verified
) WHERE rn = 1
"""


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs, full value-checked via the portable
    md5 hash family: token hash = first 15 hex digits of md5 parsed
    to a 60-bit integer (identical in Spark conv() and DuckDB hex
    cast), so the oracle rebuilds the majority-vote fingerprints, the
    15-bit chunk banding and the bit_count(xor) hamming verification
    bit-for-bit — all integer codegen on both sides. Hamming radius
    4 of 64 bits: the synthetic docs share one small vocabulary, so
    looser radii return most of the n^2 pair space (measured: radius
    8 emits 780k pairs at sf0.1, radius 4 keeps the genuinely close
    ones)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return simhash_near_dup_pairs_portable(
        d, "doc_id", "text", max_hamming=4
    )


def _sql_simhash() -> str:
    bit_sums = ",\n    ".join(
        f"SUM((h // {1 << j}) % 2) AS b{j}" for j in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN 2 * b{j} > n THEN {1 << j} ELSE 0 END)"
        for j in range(60)
    )
    return f"""
WITH norm AS (
  SELECT doc_id,
    string_split(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents WHERE text IS NOT NULL
), tok AS (
  SELECT doc_id, unnest(list_distinct(w)) AS t FROM norm
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
), sums AS (
  SELECT doc_id, COUNT(*) AS n,
    {bit_sums}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS f FROM sums
), bands AS (
  SELECT doc_id, f, t.c AS chunk_id,
         (f // (CASE t.c WHEN 0 THEN 1 WHEN 1 THEN 32768
                         WHEN 2 THEN 1073741824 ELSE 35184372088832 END)
         ) % 32768 AS chunk_val
  FROM fp, range(0, 4) t(c)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.f AS fa, b.f AS fb
  FROM bands a JOIN bands b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 4
"""


SQL_SIMHASH_NEAR_DUP = _sql_simhash()


def q_knn_ivf(spark, sf_dir):
    """IVF approximate nearest neighbors, full value-checked: the
    fixed-quantizer variant (codebook = eight seed corpus vectors)
    makes centroid assignment, probe selection and the exact top-k
    over the probed lists deterministic and ANSI-reproducible, so the
    DuckDB oracle verifies the whole probe-pruned pipeline — not just
    a row count. The learned-codebook path (ivf_build/ivf_topk) keeps
    its recall pytest."""
    from claims_data_spark.operators.similarity import (
        ivf_topk_fixed_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    ).select("vec_id", F.col("vec").alias("embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return ivf_topk_fixed_centroids(
        corpus, queries,
        centroid_ids=[10, 60, 110, 160, 210, 260, 310, 360],
        k=5, nprobe=3,
    )


_SQL_COS = (
    "list_aggregate(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * {b}[i]), 'sum') "
    "/ (SQRT(list_aggregate(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * {a}[i]), 'sum')) "
    "* SQRT(list_aggregate(list_transform(generate_series(1, len({b})), "
    "i -> {b}[i] * {b}[i]), 'sum')))"
)

SQL_KNN_IVF = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, vec AS cv FROM emb
  WHERE vec_id IN (10, 60, 110, 160, 210, 260, 310, 360)
), corpus AS (
  SELECT vec_id, vec FROM emb WHERE vec_id >= 5
), q AS (
  SELECT vec_id AS query_id, vec AS qv FROM emb WHERE vec_id < 5
), assigned AS (
  SELECT vec_id, vec, cid FROM (
    SELECT c.vec_id, c.vec, k.cid,
      ROW_NUMBER() OVER (
        PARTITION BY c.vec_id
        ORDER BY {_SQL_COS.format(a="c.vec", b="k.cv")} DESC, k.cid
      ) AS rn
    FROM corpus c CROSS JOIN cents k
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, k.cid,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {_SQL_COS.format(a="q.qv", b="k.cv")} DESC, k.cid
      ) AS rn
    FROM q CROSS JOIN cents k
  ) WHERE rn <= 3
), scored AS (
  SELECT p.query_id, a.vec_id,
    {_SQL_COS.format(a="a.vec", b="p.qv")} AS cs
  FROM assigned a JOIN probes p ON a.cid = p.cid
)
SELECT query_id, vec_id, ROUND(cs, 6) AS cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cs DESC, vec_id
  ) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# §2.3 J10 — theta join: OR of attribute combos, as a union of equi-joins
# ---------------------------------------------------------------------------

def q_theta_or_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    ref = spark.createDataFrame(
        [("Brand#13", 5, None), ("Brand#9", 12, None),
         ("Brand#7", None, None), ("Brand#1", None, None),
         (None, None, "STANDARD X"), (None, None, "ECONOMY Y")],
        "ref_brand string, ref_size int, ref_container string",
    )
    # disjuncts: (brand AND size) OR (brand AND container-prefixless) OR container-only
    d1 = p.join(
        F.broadcast(ref.filter(F.col("ref_size").isNotNull())),
        (p.p_brand == F.col("ref_brand")) & (p.p_size == F.col("ref_size")),
    ).select("p_partkey", F.lit("brand+size").alias("match_rule"))
    d2 = p.join(
        F.broadcast(
            ref.filter(F.col("ref_size").isNull() & F.col("ref_brand").isNotNull())
        ),
        (p.p_brand == F.col("ref_brand")),
    ).select("p_partkey", F.lit("brand").alias("match_rule"))
    d3 = p.join(
        F.broadcast(ref.filter(F.col("ref_brand").isNull())),
        F.substring(p.p_type, 1, 6) == F.substring(F.col("ref_container"), 1, 6),
    ).select("p_partkey", F.lit("container").alias("match_rule"))
    return (
        d1.unionByName(d2).unionByName(d3)
        .groupBy("match_rule")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("p_partkey").alias("n_parts"))
    )


SQL_THETA_OR = """
WITH ref AS (
  SELECT * FROM (VALUES
    ('Brand#13', 5, CAST(NULL AS VARCHAR)),
    ('Brand#9', 12, NULL),
    ('Brand#7', NULL, NULL),
    ('Brand#1', NULL, NULL),
    (NULL, NULL, 'STANDARD X'),
    (NULL, NULL, 'ECONOMY Y')
  ) AS t(ref_brand, ref_size, ref_container)
), matches AS (
  SELECT p_partkey, 'brand+size' AS match_rule
  FROM part JOIN ref ON p_brand = ref_brand AND p_size = ref_size
  UNION ALL
  SELECT p_partkey, 'brand'
  FROM part JOIN ref ON ref_size IS NULL AND ref_brand IS NOT NULL AND p_brand = ref_brand
  UNION ALL
  SELECT p_partkey, 'container'
  FROM part JOIN ref ON ref_brand IS NULL AND SUBSTRING(p_type,1,6) = SUBSTRING(ref_container,1,6)
)
SELECT match_rule, COUNT(*) AS n, COUNT(DISTINCT p_partkey) AS n_parts
FROM matches GROUP BY match_rule
"""


# ---------------------------------------------------------------------------
# §2.5 W9 — sub-month interval clipping
# ---------------------------------------------------------------------------

def q_submonth_clip(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    clipped = o.select(
        "o_orderkey",
        F.greatest(F.col("d"), F.trunc("d", "month")).alias("cf"),
        F.least(F.date_add("d", 40), F.last_day("d")).alias("ct"),
    )
    return clipped.select(
        "o_orderkey",
        _ds("cf").alias("clip_from"),
        _ds("ct").alias("clip_to"),
        (F.datediff("ct", "cf") + 1).cast("long").alias("clip_days"),
    )


SQL_SUBMONTH_CLIP = """
SELECT o_orderkey,
  CAST(GREATEST(CAST(o_orderdate AS DATE), date_trunc('month', CAST(o_orderdate AS DATE))) AS VARCHAR) AS clip_from,
  CAST(LEAST(CAST(o_orderdate AS DATE) + 40, last_day(CAST(o_orderdate AS DATE))) AS VARCHAR) AS clip_to,
  DATEDIFF('day',
    GREATEST(CAST(o_orderdate AS DATE), date_trunc('month', CAST(o_orderdate AS DATE))),
    LEAST(CAST(o_orderdate AS DATE) + 40, last_day(CAST(o_orderdate AS DATE)))) + 1 AS clip_days
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.4 A6 — mode with "random" tiebreak, pinned via md5 (NEWID stand-in)
# ---------------------------------------------------------------------------

def q_mode_random_tiebreak(spark, sf_dir):
    from claims_data_spark.operators.mode import deterministic_tiebreak

    ev = _events(spark, sf_dir)
    out = mode_value(
        ev, ["user_id"], "event_type",
        tiebreak=deterministic_tiebreak("user_id", "event_type"),
        out_col="top_type", keep_weight_as="n",
    )
    return out.select("user_id", "top_type", "n")


SQL_MODE_RANDOM = """
SELECT user_id, event_type AS top_type, n FROM (
  SELECT user_id, event_type, COUNT(*) AS n,
    ROW_NUMBER() OVER (
      PARTITION BY user_id
      ORDER BY COUNT(*) DESC,
        MD5(CAST(user_id AS VARCHAR) || chr(31) || event_type)
    ) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.7 U5 — bind_rows with mismatched columns (union-by-name, fill null)
# ---------------------------------------------------------------------------

def q_union_bindrows(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_acctbal").alias("acctbal"),
    )
    stacked = c.unionByName(s, allowMissingColumns=True)
    return stacked.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        _dbl(F.sum(_dec("acctbal"))).alias("total_bal"),
    )


SQL_UNION_BINDROWS = """
WITH stacked AS (
  SELECT c_custkey AS entity_id, c_acctbal AS acctbal, c_mktsegment AS segment FROM customer
  UNION ALL BY NAME
  SELECT s_suppkey AS entity_id, s_acctbal AS acctbal FROM supplier
)
SELECT segment, COUNT(*) AS n,
  CAST(SUM(CAST(acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
FROM stacked GROUP BY segment
"""


# ---------------------------------------------------------------------------
# Streaming surface (batch-equivalent): watermarked tumbling windows
# ---------------------------------------------------------------------------

def q_windowed_events(spark, sf_dir):
    from claims_data_spark.streaming.ingest import windowed_counts

    ev = _events(spark, sf_dir).withColumn("value", _dec("value"))
    out = windowed_counts(ev, window="6 hours", group_cols=["event_type"])
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "n_events",
        _dbl(F.col("sum_value")).alias("sum_value"),
    )


SQL_WINDOWED_EVENTS = """
SELECT epoch_ms(time_bucket(INTERVAL 6 HOURS, CAST(ts AS TIMESTAMP))) AS window_start_ms,
  event_type, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary columns + Arrow-batched feature extraction
# ---------------------------------------------------------------------------

def q_multimodal_features(spark, sf_dir):
    from claims_data_spark.operators.multimodal import extract_features

    d = spread(_t(spark, sf_dir, "documents"))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media)
    return feats.select("media_id", "media_type", "n_bytes", "content_sha")


SQL_MULTIMODAL = """
SELECT doc_id AS media_id,
  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
  octet_length(encode(text)) AS n_bytes,
  sha256(text) AS content_sha
FROM documents
"""


def q_multimodal_decode(spark, sf_dir):
    """REAL media decode through the strict path: executors encode a
    solid-color BMP (R = doc_id % 256), a constant-amplitude PCM WAV,
    or a 3-frame solid-color uncompressed AVI per document, then
    ``extract_features(mode='strict', codec=pure_python_codec)``
    byte-parses them back. The recovered channel level / peak
    amplitude is integer-exact, so DuckDB can verify the whole decode
    analytically — no fake features anywhere in this plan. Both
    stages are Arrow ``mapInPandas``; map-only, zero shuffles."""
    import numpy as np

    from claims_data_spark.operators.codecs import (
        encode_avi,
        encode_bmp,
        encode_wav,
        pure_python_codec,
    )
    from claims_data_spark.operators.multimodal import extract_features

    d = spread(_t(spark, sf_dir, "documents"))

    def make_media(batches):
        import pandas as pd  # executor-side import (closure ships by value)

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 3 == 0:
                    content = encode_bmp(
                        np.full((4, 4, 3), [did % 256, 0, 0], np.uint8)
                    )
                    rows.append((did, "image", content))
                elif did % 3 == 1:
                    amp = (did % 100) / 200.0
                    content = encode_wav(np.full(800, amp), rate=8000)
                    rows.append((did, "audio", content))
                else:
                    frame = np.full((4, 4, 3), [did % 256, 0, 0], np.uint8)
                    content = encode_avi([frame] * 3, fps=10)
                    rows.append((did, "video", content))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "content"]
            )

    media = d.select("doc_id").mapInPandas(
        make_media, "media_id long, media_type string, content binary"
    ).withColumn(
        "meta",
        F.struct(
            F.lit("x").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ),
    )
    feats = extract_features(media, mode="strict", codec=pure_python_codec)
    # feature[3] is the mean-R channel (image), peak amplitude
    # (audio), or first-frame mean-R (video); rescale to the exact
    # integer the encoder started from
    level = F.when(
        F.col("media_type").isin("image", "video"),
        F.round(F.element_at("feature", 3) * 255),
    ).otherwise(F.round(F.element_at("feature", 3) * 32768))
    return feats.select(
        "media_id", "media_type", "n_bytes", level.cast("int").alias("decoded_level")
    )


SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio'
       ELSE 'video' END AS media_type,
  CASE WHEN doc_id % 3 = 0
       -- 4x4 24-bit BMP: 54-byte header + 4 rows x 12 data bytes (no pad)
       THEN 54 + 4 * 12
       WHEN doc_id % 3 = 1
       -- 44-byte WAV header + 800 16-bit mono samples
       THEN 44 + 800 * 2
       -- AVI: 12-byte RIFF hdr + LIST hdrl (8 + 4 + 8 + 56)
       --      + LIST movi (8 + 4 + 3 frames x (8 + 4 rows x 12))
       ELSE 12 + 76 + 180 END AS n_bytes,
  CASE WHEN doc_id % 3 = 1
       THEN CAST(TRUNC(((doc_id % 100) / 200.0) * 32767) AS INT)
       ELSE CAST(doc_id % 256 AS INT)
       END AS decoded_level
FROM documents
"""


# ---------------------------------------------------------------------------
# Streaming surface: SLIDING windows (each event in w/s buckets)
# ---------------------------------------------------------------------------

def q_sliding_windows(spark, sf_dir):
    from claims_data_spark.streaming.ingest import windowed_counts

    ev = _events(spark, sf_dir).withColumn("value", _dec("value"))
    out = windowed_counts(ev, window="6 hours", slide="3 hours",
                          group_cols=["event_type"])
    return out.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "n_events",
        _dbl(F.col("sum_value")).alias("sum_value"),
    )


# each event lands in window/slide = 2 overlapping buckets; replicate
# via a 2-row offset join in the oracle
SQL_SLIDING_WINDOWS = """
WITH assigned AS (
  SELECT epoch_ms(time_bucket(INTERVAL 3 HOURS, CAST(ts AS TIMESTAMP)) - k * INTERVAL 3 HOURS) AS window_start_ms,
    event_type, CAST(value AS DECIMAL(12,2)) AS v
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
)
SELECT window_start_ms, event_type, COUNT(*) AS n_events,
  CAST(SUM(v) AS DOUBLE) AS sum_value
FROM assigned GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Streaming surface: session windows (gap-based), batch equivalent
# ---------------------------------------------------------------------------

def q_session_windows(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("value", _dec("value"))
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dbl(F.sum("value")).alias("sum_value"),
    )
    return sess.select(
        "user_id",
        F.unix_millis("sw.start").alias("session_start_ms"),
        "n_events",
        "sum_value",
    )


# Spark's session_window groups events where each is within the gap of
# the previous — identical semantics to the gaps-and-islands idiom on
# the event sequence, which IS expressible in SQL:
SQL_SESSION_WINDOWS = """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, CAST(value AS DECIMAL(12,2)) AS v,
    CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTES
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), grp AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM ordered
)
SELECT user_id, epoch_ms(MIN(t)) AS session_start_ms,
  COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS sum_value
FROM grp GROUP BY user_id, sess
"""


# ---------------------------------------------------------------------------
# §2.9 misc — JSON property extraction (events.props)
# ---------------------------------------------------------------------------

def q_json_props(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dbl(F.sum(_dec("value"))).alias("sum_value"),
        )
    )


SQL_JSON_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Engine extension: embedding-cosine near-duplicate pairs (blocked)
# ---------------------------------------------------------------------------

def q_embedding_near_dup(spark, sf_dir):
    """Near-dup vector pairs above a cosine threshold, blocked by the
    label column (the realistic scale pattern: LSH/IVF assigns the
    block; comparisons never cross blocks, so the join is an equi-join
    on the block key, not a cartesian). Scoring crosses to Python ONCE
    per block (Arrow applyInPandas) and runs a chunked BLAS matmul —
    the per-pair JVM zip_with/aggregate form interprets B²·d lambda
    calls per block (blocked_pairwise_cosine docstring)."""
    from claims_data_spark.operators.similarity import blocked_pairwise_cosine

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    pairs = blocked_pairwise_cosine(
        emb, block_col="label", id_col="vec_id", vec_col="vec", threshold=0.3
    )
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


SQL_EMBEDDING_NEAR_DUP = """
WITH emb AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_aggregate(list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i]), 'sum')
      / (SQRT(list_aggregate(list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * a.vec[i]), 'sum'))
         * SQRT(list_aggregate(list_transform(generate_series(1, len(b.vec)), i -> b.vec[i] * b.vec[i]), 'sum'))) AS cs
  FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND(cs, 6) AS cos_sim FROM pairs WHERE cs >= 0.3
"""


# ---------------------------------------------------------------------------
# §2.4 A9 alternative — GROUPING SETS (cube-style multi-level tabulation)
# ---------------------------------------------------------------------------

def q_grouping_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
          CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# ---------------------------------------------------------------------------
# Engine extension: exact n-gram Jaccard near-dup pairs (blocked)
# ---------------------------------------------------------------------------

def q_ngram_jaccard(spark, sf_dir):
    d = spread(_t(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_k=2, threshold=0.1,
        block_col=F.col("source"),
    )
    return pairs.select("id_a", "id_b", "jaccard")


SQL_NGRAM_JACCARD = """
WITH norm AS (
  SELECT doc_id, source,
    string_split(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, source,
    list_distinct(
      list_transform(
        generate_series(1, GREATEST(len(w) - 1, 1)),
        i -> array_to_string(w[i:i+1], ' ')
      )
    ) AS s
  FROM norm
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  ROUND(len(list_intersect(a.s, b.s)) * 1.0
        / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.1
"""


# ---------------------------------------------------------------------------
# Sketches: mergeable HLL distinct rollup — deterministic md5-register
# mirror (VALUE-checked as of round 9; the production DataSketches path
# rollup_distinct_via_sketches keeps its tolerance/merge pytests)
# ---------------------------------------------------------------------------

def q_sketch_distinct(spark, sf_dir):
    """Year-level HLL register algebra from per-(year,month) sketches
    merged by max — the store-registers, merge-on-rollup pattern, in
    its engine-portable md5 form (operators/sketches.hll_det_rollup).
    Every output column is integer-exact except est_floor, which is a
    single shared-literal IEEE division + floor — so the driver's
    value hash checks the register MERGE path, closing the last
    rows-only registry entry (round-8 verdict task 2)."""
    from claims_data_spark.operators.sketches import hll_det_rollup

    o = _t(spark, sf_dir, "orders").select(
        F.year(F.col("o_orderdate").cast("date")).alias("year"),
        F.month(F.col("o_orderdate").cast("date")).alias("month"),
        "o_custkey",
    )
    return hll_det_rollup(o, ["year", "month"], ["year"], "o_custkey")


# DuckDB mirror of hll_det_rollup: registers per (year, bucket) as
# MAX(rank) — identical to fine-grain-then-merge because max is
# associative (that associativity is exactly what the value row
# certifies on the Spark side). 2.6499581405668102e19 is the shared
# NUM literal (alpha_256 * 256^2 * 2^49), kept verbatim in both
# engines so the est_floor division is bit-identical.
SQL_SKETCH_DISTINCT = r"""
WITH keyed AS (
  SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS year,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS INT)
      AS bucket,
    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 3, 12)) AS BIGINT)
      AS w
  FROM orders
), reg AS (
  SELECT year, bucket,
    MAX(CASE WHEN w = 0 THEN 49
             ELSE 49 - length(ltrim(bin(w), '0')) END) AS reg
  FROM keyed GROUP BY year, bucket
)
SELECT CAST(year AS INT) AS year,
  CAST(256 AS BIGINT) AS m,
  CAST(COUNT(*) AS BIGINT) AS n_present,
  CAST(SUM(reg) AS BIGINT) AS sum_rank,
  CAST(SUM(1::BIGINT << (49 - reg))
       + (256 - COUNT(*)) * (1::BIGINT << 49) AS BIGINT) AS denom_scaled,
  CAST(SUM((bucket + 1) * reg) AS BIGINT) AS reg_checksum,
  CAST(FLOOR(2.6499581405668102e19
             / CAST(SUM(1::BIGINT << (49 - reg))
                    + (256 - COUNT(*)) * (1::BIGINT << 49) AS DOUBLE))
       AS BIGINT) AS est_floor
FROM reg GROUP BY year
"""


# ---------------------------------------------------------------------------
# CCW two-claim qualification (load_ccw.R:509-633) on synthetic claims
# carved from lineitem/orders: order = claim, line = dx position
# ---------------------------------------------------------------------------

def q_ccw_two_claim(spark, sf_dir):
    """Full CCW engine path: melted flag map -> one dx scan -> claim
    condition/exclusion membership -> type-1/type-2 split -> adjacent
    -claim (lead/lag) qualification -> least/greatest collapse."""
    from claims_data_spark.tables.conditions import build_claim_ccw

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    icdcm = li.join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        F.col("o_orderdate").cast("date").alias("first_service_date"),
        F.format_string("C%03d", F.col("l_partkey") % 50).alias("icdcm_norm"),
        F.lit(10).alias("icdcm_version"),
        F.lpad(F.col("l_linenumber").cast("string"), 2, "0").alias("icdcm_number"),
    )
    header = o.select(
        F.col("o_orderkey").alias("claim_header_id"),
        (F.col("o_orderkey") % 6).cast("int").alias("claim_type_id"),
    )
    ref = spark.range(50).select(
        F.format_string("C%03d", F.col("id")).alias("icdcm"),
        F.lit(10).alias("icdcm_version"),
        F.when(F.col("id") < 5, 1).otherwise(0).alias("ccw_synth"),
        F.when(F.col("id") >= 45, 1).otherwise(0).alias("ccw_synth_exclude1"),
    )
    cfg = [
        {
            "ccw_abbrev": "ccw_synth", "dx_fields": "1-2",
            "claim_type_1": "1", "claim_type_2": "2;3",
            "condition_type": 2, "lookback_months": 12,
        },
        {"ccw_abbrev": "ccw_synth_exclude1", "dx_fields": "any"},
    ]
    return build_claim_ccw(icdcm, header, ref, cfg).select(
        "id_mcaid", "ccw_desc",
        F.col("first_encounter_date").cast("string").alias("first_encounter_date"),
        F.col("last_encounter_date").cast("string").alias("last_encounter_date"),
    )


SQL_CCW_TWO_CLAIM = """
WITH icdcm AS (
  SELECT o.o_custkey AS id_mcaid, o.o_orderkey AS claim_header_id,
         CAST(o.o_orderdate AS DATE) AS first_service_date,
         l.l_partkey % 50 AS code_num,
         lpad(CAST(l.l_linenumber AS VARCHAR), 2, '0') AS icdcm_number
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), claim_flags AS (
  SELECT claim_header_id, MAX(id_mcaid) AS id_mcaid,
         MAX(first_service_date) AS first_service_date,
         MAX(CASE WHEN code_num < 5 AND icdcm_number IN ('01','02')
                  THEN 1 ELSE 0 END) AS has_cond,
         MAX(CASE WHEN code_num >= 45 THEN 1 ELSE 0 END) AS has_excl
  FROM icdcm GROUP BY claim_header_id
), typed AS (
  SELECT DISTINCT f.id_mcaid, f.first_service_date,
     CASE WHEN (f.claim_header_id % 6) IN (1) THEN f.first_service_date END AS c1,
     CASE WHEN (f.claim_header_id % 6) IN (2,3) THEN f.first_service_date END AS c2
  FROM claim_flags f
  WHERE f.has_cond = 1 AND f.has_excl = 0 AND (f.claim_header_id % 6) IN (1,2,3)
), calc AS (
  SELECT *,
    date_diff('day',   c2, lead(c2) OVER w) AS dfwd,
    date_diff('month', c2, lead(c2) OVER w) AS mfwd,
    date_diff('day',   lag(c2) OVER w, c2) AS dback,
    date_diff('month', lag(c2) OVER w, c2) AS mback
  FROM typed WINDOW w AS (PARTITION BY id_mcaid ORDER BY c2)
), kept AS (
  SELECT * FROM calc
  WHERE c1 IS NOT NULL
     OR (c2 IS NOT NULL AND ((mfwd <= 12 AND dfwd >= 1)
                          OR (mback <= 12 AND dback >= 1)))
)
SELECT id_mcaid, 'ccw_synth' AS ccw_desc,
  CAST(LEAST(MIN(c1), MIN(c2)) AS VARCHAR) AS first_encounter_date,
  CAST(GREATEST(MAX(c1), MAX(c2)) AS VARCHAR) AS last_encounter_date
FROM kept GROUP BY id_mcaid
"""


def q_ccw_combined(spark, sf_dir):
    """CCW on the combined mcaid+mcare layer
    (load_stage.mcaid_mcare_claim_ccw.yaml): the SAME engine keyed by
    the crosswalk id ``id_apde`` — exercises the per-source
    parameterization end-to-end (dx scan, exclusion, two-claim
    window, collapse) with a non-mcaid id column."""
    from claims_data_spark.tables.conditions import build_mcaid_mcare_claim_ccw

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # the xwalk mints id_apde as a fixed-width string key
    icdcm = li.join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        F.format_string("A%09d", F.col("o_custkey")).alias("id_apde"),
        F.col("o_orderkey").alias("claim_header_id"),
        F.col("o_orderdate").cast("date").alias("first_service_date"),
        F.format_string("C%03d", F.col("l_partkey") % 50).alias("icdcm_norm"),
        F.lit(10).alias("icdcm_version"),
        F.lpad(F.col("l_linenumber").cast("string"), 2, "0").alias("icdcm_number"),
    )
    header = o.select(
        F.col("o_orderkey").alias("claim_header_id"),
        (F.col("o_orderkey") % 6).cast("int").alias("claim_type_id"),
    )
    ref = spark.range(50).select(
        F.format_string("C%03d", F.col("id")).alias("icdcm"),
        F.lit(10).alias("icdcm_version"),
        F.when(F.col("id") < 5, 1).otherwise(0).alias("ccw_synth"),
        F.when(F.col("id") >= 45, 1).otherwise(0).alias("ccw_synth_exclude1"),
    )
    cfg = [
        {
            "ccw_abbrev": "ccw_synth", "dx_fields": "1-2",
            "claim_type_1": "1", "claim_type_2": "2;3",
            "condition_type": 2, "lookback_months": 12,
        },
        {"ccw_abbrev": "ccw_synth_exclude1", "dx_fields": "any"},
    ]
    return build_mcaid_mcare_claim_ccw(icdcm, header, ref, cfg).select(
        "id_apde", "ccw_desc",
        F.col("first_encounter_date").cast("string").alias("first_encounter_date"),
        F.col("last_encounter_date").cast("string").alias("last_encounter_date"),
    )


SQL_CCW_COMBINED = """
WITH icdcm AS (
  SELECT printf('A%09d', o.o_custkey) AS id_apde,
         o.o_orderkey AS claim_header_id,
         CAST(o.o_orderdate AS DATE) AS first_service_date,
         l.l_partkey % 50 AS code_num,
         lpad(CAST(l.l_linenumber AS VARCHAR), 2, '0') AS icdcm_number
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), claim_flags AS (
  SELECT claim_header_id, MAX(id_apde) AS id_apde,
         MAX(first_service_date) AS first_service_date,
         MAX(CASE WHEN code_num < 5 AND icdcm_number IN ('01','02')
                  THEN 1 ELSE 0 END) AS has_cond,
         MAX(CASE WHEN code_num >= 45 THEN 1 ELSE 0 END) AS has_excl
  FROM icdcm GROUP BY claim_header_id
), typed AS (
  SELECT DISTINCT f.id_apde, f.first_service_date,
     CASE WHEN (f.claim_header_id % 6) IN (1) THEN f.first_service_date END AS c1,
     CASE WHEN (f.claim_header_id % 6) IN (2,3) THEN f.first_service_date END AS c2
  FROM claim_flags f
  WHERE f.has_cond = 1 AND f.has_excl = 0 AND (f.claim_header_id % 6) IN (1,2,3)
), calc AS (
  SELECT *,
    date_diff('day',   c2, lead(c2) OVER w) AS dfwd,
    date_diff('month', c2, lead(c2) OVER w) AS mfwd,
    date_diff('day',   lag(c2) OVER w, c2) AS dback,
    date_diff('month', lag(c2) OVER w, c2) AS mback
  FROM typed WINDOW w AS (PARTITION BY id_apde ORDER BY c2)
), kept AS (
  SELECT * FROM calc
  WHERE c1 IS NOT NULL
     OR (c2 IS NOT NULL AND ((mfwd <= 12 AND dfwd >= 1)
                          OR (mback <= 12 AND dback >= 1)))
)
SELECT id_apde, 'ccw_synth' AS ccw_desc,
  CAST(LEAST(MIN(c1), MIN(c2)) AS VARCHAR) AS first_encounter_date,
  CAST(GREATEST(MAX(c1), MAX(c2)) AS VARCHAR) AS last_encounter_date
FROM kept GROUP BY id_apde
"""


# ---------------------------------------------------------------------------
# APCD claim_header ED-episode path (load_stage.apcd_claim_header.R:
# 74-148 flags, 984-1018 Yale 1-day episode clustering) on synthetic
# APCD claims carved from orders/lineitem
# ---------------------------------------------------------------------------

def q_apcd_ed_episode(spark, sf_dir):
    """Full builder run: denied-claim exclusion -> line/procedure
    rollups -> kc claim-type crosswalk -> Yale ED flag trio +
    ED-perform -> 1-day episode clustering -> globally dense
    ed_pophealth_id (two-phase ranking, not a single-partition
    DENSE_RANK)."""
    from claims_data_spark.tables.apcd import build_apcd_claim_header

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("o_orderdate").cast("date")
    hdr = o.select(
        F.col("o_custkey").alias("internal_member_id"),
        F.col("o_orderkey").alias("medical_claim_header_id"),
        F.lit(1).cast("long").alias("product_code_id"),
        d.alias("first_service_dt"),
        d.alias("last_service_dt"),
        d.alias("first_paid_dt"),
        d.alias("last_paid_dt"),
        F.col("o_totalprice").cast("decimal(19,2)").alias("charge_amt"),
        F.lit("P").alias("header_status"),
        F.lit(None).cast("string").alias("type_of_bill_code"),
        (F.col("o_orderkey") % 3).cast("string").alias("claim_type_id"),
        F.lit("S").alias("type_of_setting_id"),
        F.lit("1").alias("place_of_setting_id"),
        F.when(F.col("o_orderkey") % 11 == 0, "Y").otherwise("N").alias(
            "emergency_room_flag"
        ),
        F.when(F.col("o_orderkey") % 13 == 0, "Y").otherwise("N").alias(
            "denied_header_flag"
        ),
        F.lit("N").alias("orphaned_header_flag"),
    )
    line = li.select(
        F.col("l_orderkey").alias("claim_header_id"),
        F.col("l_shipdate").cast("date").alias("discharge_date"),
        F.when(F.col("l_linenumber") % 4 == 0, "23").otherwise("11").alias(
            "place_of_service_code"
        ),
        F.when(F.col("l_partkey") % 9 == 0, "0450")
        .when(F.col("l_partkey") % 9 == 1, "0981")
        .otherwise("0300")
        .alias("revenue_code"),
    )
    px = li.select(
        F.col("l_orderkey").alias("claim_header_id"),
        F.when(F.col("l_suppkey") % 17 == 0, "99284").otherwise("87070").alias(
            "procedure_code"
        ),
    )
    icd = o.select(
        F.col("o_custkey").alias("id_apcd"),
        F.col("o_orderkey").alias("claim_header_id"),
        F.lit("25000").alias("icdcm_norm"),
        F.lit(9).alias("icdcm_version"),
        F.lit("01").alias("icdcm_number"),
    )
    status = spark.createDataFrame(
        [("P", 1)], "claim_status_code string, claim_status_id long"
    )
    xwalk = spark.createDataFrame(
        [("apcd", "0.S.1", 1), ("apcd", "1.S.1", 4), ("apcd", "2.S.1", 5)],
        "source_desc string, source_clm_type_id string, kc_clm_type_id int",
    )
    out = build_apcd_claim_header(
        hdr, line, icd, px, ref_claim_status=status, ref_xwalk=xwalk
    )
    return out.filter(F.col("ed_pophealth_id").isNotNull()).select(
        "claim_header_id", "id_apcd",
        "ed_yale_carrier", "ed_yale_opt", "ed_yale_ipt", "ed_perform",
        F.col("ed_pophealth_id").cast("long").alias("ed_pophealth_id"),
    )


SQL_APCD_ED_EPISODE = """
WITH hdr AS (
  SELECT o_custkey AS id_apcd, o_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 4 ELSE 5 END AS kc,
         CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS ed_perform_temp
  FROM orders WHERE o_orderkey % 13 <> 0
), ln AS (
  SELECT l_orderkey AS claim_header_id,
         MAX(CASE WHEN l_linenumber % 4 = 0 THEN 1 ELSE 0 END) AS ed_pos,
         MAX(CASE WHEN l_partkey % 9 IN (0,1) THEN 1 ELSE 0 END) AS ed_rev,
         MAX(CASE WHEN l_suppkey % 17 = 0 THEN 1 ELSE 0 END) AS ed_px
  FROM lineitem GROUP BY l_orderkey
), flags AS (
  SELECT h.id_apcd, h.claim_header_id, h.fsd,
    CASE WHEN h.kc = 5 AND ((COALESCE(l.ed_px,0) = 1 AND COALESCE(l.ed_pos,0) = 1)
                            OR COALESCE(l.ed_rev,0) = 1)
         THEN 1 ELSE 0 END AS ed_yale_carrier,
    CASE WHEN h.kc = 4 AND (COALESCE(l.ed_rev,0) = 1 OR COALESCE(l.ed_pos,0) = 1
                            OR COALESCE(l.ed_px,0) = 1)
         THEN 1 ELSE 0 END AS ed_yale_opt,
    CASE WHEN h.kc = 1 AND (COALESCE(l.ed_rev,0) = 1 OR COALESCE(l.ed_pos,0) = 1
                            OR COALESCE(l.ed_px,0) = 1)
         THEN 1 ELSE 0 END AS ed_yale_ipt,
    CASE WHEN h.ed_perform_temp = 1 AND h.kc = 4 THEN 1 ELSE 0 END AS ed_perform
  FROM hdr h LEFT JOIN ln l USING (claim_header_id)
), ed AS (
  SELECT *, CASE
      WHEN row_number() OVER w = 1 THEN 0
      WHEN date_diff('day', lag(fsd) OVER w, fsd) <= 1 THEN 0
      ELSE 1 END AS inc
  FROM flags
  WHERE ed_yale_carrier = 1 OR ed_yale_opt = 1 OR ed_yale_ipt = 1
  WINDOW w AS (PARTITION BY id_apcd ORDER BY fsd, claim_header_id)
), ep AS (
  SELECT *, SUM(inc) OVER (PARTITION BY id_apcd ORDER BY fsd, claim_header_id
                           ROWS UNBOUNDED PRECEDING) + 1 AS within_id
  FROM ed
)
SELECT claim_header_id, id_apcd,
  ed_yale_carrier, ed_yale_opt, ed_yale_ipt, ed_perform,
  dense_rank() OVER (ORDER BY id_apcd, within_id) AS ed_pophealth_id
FROM ep
"""


# ---------------------------------------------------------------------------
# FUH follow-up measure (sp_perf_fuh_join_step.sql): roll-forward to
# the last MH readmission, readmit exclusion, day-after FU windows —
# on index stays carved from orders
# ---------------------------------------------------------------------------

def q_fuh_followup(spark, sf_dir):
    from claims_data_spark.tables.perf import fuh_measure

    o = _t(spark, sf_dir, "orders")
    dd = F.col("o_orderdate").cast("date")
    epoch_day = F.datediff(dd, F.lit("1970-01-01").cast("date"))
    idx = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        F.date_sub(dd, 3).alias("admit_date"),
        dd.alias("discharge_date"),
    )
    # claim id functionally determined by (person, discharge) so the
    # roll-forward pick is deterministic under date ties
    mh = o.filter(F.col("o_orderkey") % 9 == 0).select(
        F.col("o_custkey").alias("id_mcaid"),
        (F.col("o_custkey") * 100000 + epoch_day).alias("claim_header_id"),
        F.date_sub(dd, 2).alias("admit_date"),
        dd.alias("discharge_date"),
    ).distinct()
    readmits = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_custkey").alias("id_mcaid"), dd.alias("admit_date")
    )
    fu = o.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_custkey").alias("id_mcaid"),
        dd.alias("service_date"),
        F.when(F.col("o_orderkey") % 8 == 0, "Y").otherwise("N").alias(
            "only_30_day_fu"
        ),
    )
    out = fuh_measure(idx, mh, readmits, fu, "1995-01-01", "1996-12-31")
    return out.select(
        "id_mcaid", "claim_header_id",
        F.col("admit_date").cast("string").alias("admit_date"),
        F.col("discharge_date").cast("string").alias("discharge_date"),
        "follow_up_7_day", "follow_up_30_day", "need_1_month_coverage",
    )


SQL_FUH_FOLLOWUP = """
WITH idx0 AS (
  SELECT o_custkey AS id, o_orderkey AS claim,
         CAST(o_orderdate AS DATE) - 3 AS admit, CAST(o_orderdate AS DATE) AS dis
  FROM orders
  WHERE o_orderkey % 5 = 0
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
), mh AS (
  SELECT DISTINCT o_custkey AS id,
         o_custkey * 100000 + date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS claim,
         CAST(o_orderdate AS DATE) - 2 AS admit, CAST(o_orderdate AS DATE) AS dis
  FROM orders
  WHERE o_orderkey % 9 = 0
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
), readmits AS (
  SELECT o_custkey AS id, CAST(o_orderdate AS DATE) AS admit
  FROM orders WHERE o_orderkey % 11 = 0
), fu AS (
  SELECT o_custkey AS id, CAST(o_orderdate AS DATE) AS d,
         CASE WHEN o_orderkey % 8 = 0 THEN 'Y' ELSE 'N' END AS only_30
  FROM orders
  WHERE o_orderkey % 4 = 0
    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
), rolled0 AS (
  SELECT a.id, a.claim, a.admit, a.dis,
    (SELECT MAX(m.dis) FROM mh m
     WHERE m.id = a.id AND m.dis > a.dis AND m.dis <= a.dis + 30) AS bdis
  FROM idx0 a
), rolled AS (
  SELECT DISTINCT id,
    CASE WHEN bdis IS NOT NULL
         THEN id * 100000 + date_diff('day', DATE '1970-01-01', bdis)
         ELSE claim END AS claim_header_id,
    CASE WHEN bdis IS NOT NULL THEN bdis - 2 ELSE admit END AS admit_date,
    COALESCE(bdis, dis) AS discharge_date
  FROM rolled0
), kept AS (
  SELECT * FROM rolled r
  WHERE NOT EXISTS (
    SELECT 1 FROM readmits x
    WHERE x.id = r.id
      AND x.admit >= r.discharge_date + 1 AND x.admit <= r.discharge_date + 30)
)
SELECT k.id AS id_mcaid, k.claim_header_id,
  CAST(k.admit_date AS VARCHAR) AS admit_date,
  CAST(k.discharge_date AS VARCHAR) AS discharge_date,
  CASE WHEN EXISTS (SELECT 1 FROM fu f WHERE f.id = k.id AND f.only_30 = 'N'
       AND f.d >= k.discharge_date + 1 AND f.d <= k.discharge_date + 7)
       THEN 1 ELSE 0 END AS follow_up_7_day,
  CASE WHEN EXISTS (SELECT 1 FROM fu f WHERE f.id = k.id
       AND f.d >= k.discharge_date + 1 AND f.d <= k.discharge_date + 30)
       THEN 1 ELSE 0 END AS follow_up_30_day,
  CASE WHEN day(k.discharge_date) = 1
        AND month(k.discharge_date) IN (1, 3, 5, 7, 8, 10, 12)
       THEN 1 ELSE 0 END AS need_1_month_coverage
FROM kept k
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# PCR plan all-cause readmissions (v_perf_pcr_inpatient_direct_transfer.sql
# episode clustering + sp_perf_pcr_join_step.sql index/readmission logic)
# on synthetic inpatient stays carved from orders
# ---------------------------------------------------------------------------

def q_pcr_readmission(spark, sf_dir):
    """Direct-transfer episode clustering (1-day gap islands), index
    stay selection (death / same-day / pregnancy / planned-readmission
    exclusions), then first-readmission-within-30-days via a forward
    as-of join — one shuffle per person id, no range join."""
    from claims_data_spark.tables.perf import (
        acute_inpatient_episodes,
        pcr_readmission,
    )

    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    stays = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.date_add(d, (F.col("o_orderkey") % 5).cast("int")).alias(
            "last_service_date"
        ),
        F.when(F.col("o_orderkey") % 97 == 0, "20").otherwise("01").alias(
            "patient_status"
        ),
    )
    preg = o.filter(F.col("o_orderkey") % 31 == 0).select(
        F.col("o_orderkey").alias("claim_header_id"), F.lit(1).alias("flag")
    )
    plan = o.filter(F.col("o_orderkey") % 23 == 0).select(
        F.col("o_orderkey").alias("claim_header_id"), F.lit(1).alias("flag")
    )
    ep = acute_inpatient_episodes(stays)
    out = pcr_readmission(ep, preg, plan)
    return out.select(
        F.col("year_month").cast("int").alias("year_month"),
        "id_mcaid",
        F.col("episode_id").cast("long").alias("episode_id"),
        _ds("episode_first_service_date").alias("episode_first"),
        _ds("episode_last_service_date").alias("episode_last"),
        _ds("readmission_first_service_date").alias("readmission_first"),
        F.col("readmission_flag").cast("int").alias("readmission_flag"),
        F.col("date_diff").cast("int").alias("date_diff"),
        F.col("planned_readmission").cast("int").alias("planned_readmission"),
    )


SQL_PCR_READMISSION = """
WITH stays AS (
  SELECT o_custkey AS id_mcaid, o_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INT) AS lsd,
         CASE WHEN o_orderkey % 97 = 0 THEN '20' ELSE '01' END AS patient_status
  FROM orders
),
inc AS (
  SELECT *,
    CASE WHEN LAG(lsd) OVER w IS NULL THEN 0
         WHEN DATEDIFF('day', LAG(lsd) OVER w, fsd) <= 1 THEN 0
         ELSE 1 END AS increment
  FROM stays
  WINDOW w AS (PARTITION BY id_mcaid ORDER BY fsd, lsd, claim_header_id)
),
ep AS (
  SELECT *,
    SUM(increment) OVER (PARTITION BY id_mcaid ORDER BY fsd, lsd, claim_header_id
                         ROWS UNBOUNDED PRECEDING) + 1 AS episode_id
  FROM inc
),
epd AS (
  SELECT *,
    FIRST_VALUE(fsd) OVER we AS episode_first,
    LAST_VALUE(lsd) OVER we AS episode_last,
    ROW_NUMBER() OVER we AS stay_id,
    MAX(CASE WHEN patient_status = '20' THEN 1 ELSE 0 END)
      OVER (PARTITION BY id_mcaid, episode_id) AS death_during_stay
  FROM ep
  WINDOW we AS (PARTITION BY id_mcaid, episode_id
                ORDER BY fsd, lsd, claim_header_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
flagged AS (
  SELECT e.*,
    COALESCE(MAX(CASE WHEN e2.claim_header_id % 31 = 0 THEN 1 ELSE 0 END)
      OVER (PARTITION BY e.id_mcaid, e.episode_id), 0) AS pregnancy_exclusion,
    CASE WHEN e.stay_id = 1 AND e.claim_header_id % 23 = 0 THEN 1 ELSE 0 END
      AS planned_exclusion
  FROM epd e, epd e2
  WHERE e.id_mcaid = e2.id_mcaid AND e.episode_id = e2.episode_id
    AND e.claim_header_id = e2.claim_header_id
),
idx AS (
  SELECT id_mcaid, episode_id, episode_first, episode_last, planned_exclusion
  FROM flagged
  WHERE stay_id = 1 AND death_during_stay = 0
    AND episode_first <> episode_last AND pregnancy_exclusion = 0
),
joined AS (
  SELECT a.id_mcaid, a.episode_id, a.episode_first, a.episode_last,
         b.episode_first AS readmission_first,
         DATEDIFF('day', a.episode_last, b.episode_first) AS date_diff,
         b.planned_exclusion AS planned_readmission,
         ROW_NUMBER() OVER (PARTITION BY a.id_mcaid, a.episode_id
                            ORDER BY b.episode_first) AS row_num
  FROM idx a
  LEFT JOIN idx b
    ON a.id_mcaid = b.id_mcaid
   AND b.episode_first BETWEEN a.episode_last + 1 AND a.episode_last + 30
)
SELECT
  CAST(YEAR(episode_first) * 100 + MONTH(episode_first) AS INT) AS year_month,
  id_mcaid,
  CAST(episode_id AS BIGINT) AS episode_id,
  CAST(episode_first AS VARCHAR) AS episode_first,
  CAST(episode_last AS VARCHAR) AS episode_last,
  CAST(readmission_first AS VARCHAR) AS readmission_first,
  CAST(CASE WHEN readmission_first IS NOT NULL THEN 1 ELSE 0 END AS INT)
    AS readmission_flag,
  CAST(date_diff AS INT) AS date_diff,
  CAST(planned_readmission AS INT) AS planned_readmission
FROM joined
WHERE row_num = 1
  AND (planned_readmission IS NULL OR planned_readmission = 0)
"""


# ---------------------------------------------------------------------------
# Treatment penetration (v_perf_tpm_numerator.sql / v_perf_tpm_denominator.sql
# + the sp_perf_measures.sql TPM batch): RDA value-set matching engine on
# synthetic dx/procedure tables carved from orders/lineitem
# ---------------------------------------------------------------------------

_TX_PEN_RDA = [
    ("MH", "MH-procedure-value-set", "CPT", "90832"),
    ("MH", "MH-procedure-with-Dx-value-set", "CPT", "99213"),
    ("MH", "MH-Dx-value-set", "ICD10CM", "F329"),
    ("MH", "MH-Dx-value-set", "ICD9CM", "29620"),
]


def q_tx_pen(spark, sf_dir):
    """One broadcast join per claim domain against the RDA value-set
    list, set algebra (union / primary-dx intersect) on the matched
    subset only, then the person-level measurement-year rate."""
    from claims_data_spark.tables.perf import (
        rda_value_set_claims,
        tx_pen_claim_sets,
        tx_pen_measure,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    d = F.col("o_orderdate").cast("date")
    dx = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.when(F.col("o_orderkey") % 7 == 0, "F329")
        .when(F.col("o_orderkey") % 7 == 1, "29620")
        .otherwise("E119")
        .alias("icdcm_norm"),
        F.when(F.col("o_orderkey") % 2 == 0, 9).otherwise(10).alias(
            "icdcm_version"
        ),
        F.when(F.col("o_orderkey") % 3 == 0, "01").otherwise("02").alias(
            "icdcm_number"
        ),
    )
    px = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("id_mcaid"),
            F.col("l_orderkey").alias("claim_header_id"),
            d.alias("first_service_date"),
            F.when(F.col("l_suppkey") % 5 == 0, "90832")
            .when(F.col("l_suppkey") % 5 == 1, "99213")
            .otherwise("87070")
            .alias("procedure_code"),
        )
    )
    rda = spark.createDataFrame(
        _TX_PEN_RDA,
        "value_set_group string, value_set_name string, "
        "code_set string, code string",
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
    elig = cust.select(
        F.col("c_custkey").alias("id_mcaid"),
        F.date_add(
            F.lit("1950-01-01").cast("date"),
            (F.col("c_custkey") % 20000).cast("int"),
        ).alias("dob"),
    )
    out = tx_pen_measure(num, den, elig, 1996)
    return out.select(
        F.col("measurement_year").cast("int").alias("measurement_year"),
        "id_mcaid",
        F.col("age").cast("int").alias("age"),
        F.col("numerator").cast("int").alias("numerator"),
        F.col("denominator").cast("int").alias("denominator"),
    )


SQL_TX_PEN = """
WITH rda(value_set_group, value_set_name, code_set, code) AS (
  VALUES ('MH', 'MH-procedure-value-set', 'CPT', '90832'),
         ('MH', 'MH-procedure-with-Dx-value-set', 'CPT', '99213'),
         ('MH', 'MH-Dx-value-set', 'ICD10CM', 'F329'),
         ('MH', 'MH-Dx-value-set', 'ICD9CM', '29620')
),
dx AS (
  SELECT o_custkey AS id_mcaid, o_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS first_service_date,
         CASE CAST(o_orderkey % 7 AS INT) WHEN 0 THEN 'F329'
              WHEN 1 THEN '29620' ELSE 'E119' END AS icdcm_norm,
         CASE WHEN o_orderkey % 2 = 0 THEN 9 ELSE 10 END AS icdcm_version,
         CASE WHEN o_orderkey % 3 = 0 THEN '01' ELSE '02' END AS icdcm_number
  FROM orders
),
px AS (
  SELECT o_custkey AS id_mcaid, l_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS first_service_date,
         CASE CAST(l_suppkey % 5 AS INT) WHEN 0 THEN '90832'
              WHEN 1 THEN '99213' ELSE '87070' END AS procedure_code
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
dx_match AS (
  SELECT d.id_mcaid, d.claim_header_id, d.first_service_date,
         r.value_set_name,
         CASE WHEN d.icdcm_number = '01' THEN 1 ELSE 0 END AS primary_dx
  FROM dx d JOIN rda r
    ON d.icdcm_norm = r.code
   AND ((d.icdcm_version = 9 AND r.code_set = 'ICD9CM')
     OR (d.icdcm_version = 10 AND r.code_set = 'ICD10CM'))
),
px_match AS (
  SELECT p.id_mcaid, p.claim_header_id, p.first_service_date,
         r.value_set_name, CAST(NULL AS INT) AS primary_dx
  FROM px p JOIN rda r
    ON p.procedure_code = r.code AND r.code_set IN ('CPT', 'HCPCS')
),
matched AS (SELECT * FROM dx_match UNION ALL SELECT * FROM px_match),
num AS (
  SELECT DISTINCT id_mcaid, claim_header_id, first_service_date
  FROM matched WHERE value_set_name = 'MH-procedure-value-set'
  UNION
  (SELECT id_mcaid, claim_header_id, first_service_date
   FROM matched WHERE value_set_name = 'MH-procedure-with-Dx-value-set'
   INTERSECT
   SELECT id_mcaid, claim_header_id, first_service_date
   FROM matched WHERE value_set_name = 'MH-Dx-value-set' AND primary_dx = 1)
),
den AS (
  SELECT * FROM num
  UNION
  SELECT DISTINCT id_mcaid, claim_header_id, first_service_date
  FROM matched WHERE value_set_name = 'MH-Dx-value-set'
),
aged AS (
  SELECT c_custkey AS id_mcaid,
         DATE '1950-01-01' + CAST(c_custkey % 20000 AS INT) * INTERVAL 1 DAY
           AS dob
  FROM customer
),
age_calc AS (
  SELECT id_mcaid,
         YEAR(DATE '1996-12-31') - YEAR(dob)
         - CASE WHEN dob + CAST(YEAR(DATE '1996-12-31') - YEAR(dob) AS INT)
                      * INTERVAL 1 YEAR > DATE '1996-12-31'
                THEN 1 ELSE 0 END AS age
  FROM aged
),
den_people AS (
  SELECT DISTINCT id_mcaid FROM den
  WHERE first_service_date BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
),
num_people AS (
  SELECT DISTINCT id_mcaid, 1 AS numerator FROM num
  WHERE first_service_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
)
SELECT CAST(1996 AS INT) AS measurement_year,
       d.id_mcaid,
       CAST(a.age AS INT) AS age,
       CAST(COALESCE(n.numerator, 0) AS INT) AS numerator,
       CAST(1 AS INT) AS denominator
FROM den_people d
JOIN age_calc a ON d.id_mcaid = a.id_mcaid AND a.age >= 6
LEFT JOIN num_people n ON d.id_mcaid = n.id_mcaid
"""



# ---------------------------------------------------------------------------
# AH acute hospital utilization (v_perf_ah_inpatient_direct_transfer.sql +
# v_perf_ah_observation_stay.sql + v_perf_ah_inpatient_numerator.sql +
# v_perf_ah_medicine_surgery.sql / v_perf_ah_inpatient_exclusion.sql)
# on synthetic stays carved from orders
# ---------------------------------------------------------------------------

def q_ah_utilization(spark, sf_dir):
    """Acute-inpatient episode clustering, observation stays that did
    not become inpatient (forward as-of collision probe), discharge
    union, and DRG medicine/surgery classification with maternity/
    newborn exclusions — every join broadcast or id-partitioned."""
    from claims_data_spark.tables.perf import (
        acute_inpatient_episodes,
        ah_classify_discharges,
        ah_discharges,
        ah_observation_stays,
    )

    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    base = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.date_add(d, (F.col("o_orderkey") % 4).cast("int")).alias(
            "last_service_date"
        ),
        F.when(F.col("o_orderkey") % 89 == 0, "20").otherwise("01").alias(
            "patient_status"
        ),
    )
    ipt = base.filter(F.col("claim_header_id") % 4 != 0)
    obs = base.filter(F.col("claim_header_id") % 4 == 0)
    kept_obs = ah_observation_stays(obs, ipt)
    ep = acute_inpatient_episodes(ipt)
    dis = ah_discharges(ep, kept_obs)
    k = F.col("o_orderkey")
    matched = (
        o.filter(k % 10 == 0)
        .select(k.alias("claim_header_id"),
                F.lit("Maternity MS-DRG").alias("value_set_name"))
        .unionAll(
            o.filter(k % 3 == 0).select(
                k.alias("claim_header_id"),
                F.lit("Surgery MS-DRG").alias("value_set_name"))
        )
        .unionAll(
            o.filter(k % 3 == 1).select(
                k.alias("claim_header_id"),
                F.lit("Medicine MS-DRG").alias("value_set_name"))
        )
    )
    out = ah_classify_discharges(
        dis, matched,
        medicine_sets=["Medicine MS-DRG"],
        surgery_sets=["Surgery MS-DRG", "Surgery"],
        exclusion_sets=[
            "IPU Exclusions MS-DRG", "Maternity MS-DRG",
            "Newborns/Neonates MS-DRG",
        ],
    )
    return out.select(
        "id_mcaid",
        "claim_header_id",
        _ds("first_service_date").alias("first_service_date"),
        _ds("last_service_date").alias("last_service_date"),
        F.col("observation_stay").cast("int").alias("observation_stay"),
        "medicine_surgery",
    )


SQL_AH_UTILIZATION = """
WITH base AS (
  SELECT o_custkey AS id_mcaid, o_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 4 AS INT) AS lsd,
         CASE WHEN o_orderkey % 89 = 0 THEN '20' ELSE '01' END AS patient_status
  FROM orders
),
ipt AS (SELECT * FROM base WHERE claim_header_id % 4 <> 0),
obs AS (SELECT * FROM base WHERE claim_header_id % 4 = 0),
kept_obs AS (
  SELECT a.* FROM obs a
  WHERE NOT EXISTS (
    SELECT 1 FROM ipt b
    WHERE b.id_mcaid = a.id_mcaid
      AND b.fsd BETWEEN a.lsd AND a.lsd + 1
  )
  AND NOT EXISTS (
    SELECT 1 FROM ipt c WHERE c.claim_header_id = a.claim_header_id
  )
),
inc AS (
  SELECT *,
    CASE WHEN LAG(lsd) OVER w IS NULL THEN 0
         WHEN DATEDIFF('day', LAG(lsd) OVER w, fsd) <= 1 THEN 0
         ELSE 1 END AS increment
  FROM ipt
  WINDOW w AS (PARTITION BY id_mcaid ORDER BY fsd, lsd, claim_header_id)
),
ep AS (
  SELECT *,
    SUM(increment) OVER (PARTITION BY id_mcaid ORDER BY fsd, lsd, claim_header_id
                         ROWS UNBOUNDED PRECEDING) + 1 AS episode_id
  FROM inc
),
epd AS (
  SELECT *,
    FIRST_VALUE(fsd) OVER we AS episode_first,
    LAST_VALUE(lsd) OVER we AS episode_last,
    ROW_NUMBER() OVER we AS stay_id,
    MAX(CASE WHEN patient_status = '20' THEN 1 ELSE 0 END)
      OVER (PARTITION BY id_mcaid, episode_id) AS death_during_stay
  FROM ep
  WINDOW we AS (PARTITION BY id_mcaid, episode_id
                ORDER BY fsd, lsd, claim_header_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
discharges AS (
  SELECT DISTINCT id_mcaid, claim_header_id,
         episode_first AS fsd, episode_last AS lsd, 0 AS observation_stay
  FROM epd WHERE stay_id = 1 AND death_during_stay = 0
  UNION
  SELECT DISTINCT id_mcaid, claim_header_id, fsd, lsd, 1 AS observation_stay
  FROM kept_obs WHERE patient_status <> '20' OR patient_status IS NULL
),
flags AS (
  SELECT o_orderkey AS claim_header_id,
         MAX(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS medicine,
         MAX(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS surgery,
         MAX(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS excluded
  FROM orders
  WHERE o_orderkey % 10 = 0 OR o_orderkey % 3 IN (0, 1)
  GROUP BY o_orderkey
)
SELECT d.id_mcaid, d.claim_header_id,
       CAST(d.fsd AS VARCHAR) AS first_service_date,
       CAST(d.lsd AS VARCHAR) AS last_service_date,
       CAST(d.observation_stay AS INT) AS observation_stay,
       CASE WHEN f.surgery = 1 THEN 'surgery'
            WHEN f.medicine = 1 THEN 'medicine'
            ELSE 'unclassified' END AS medicine_surgery
FROM discharges d
LEFT JOIN flags f ON d.claim_header_id = f.claim_header_id
WHERE COALESCE(f.excluded, 0) = 0
"""



# ---------------------------------------------------------------------------
# MOUD claim table (load_stage.mcaid_claim_moud.R:1-432) on synthetic
# procedure/pharmacy claims carved from orders/lineitem
# ---------------------------------------------------------------------------

def q_claim_moud(spark, sf_dir):
    """Full MOUD pipeline: code-list flagging, primary-OUD-dx gating,
    HCPCS+NDC union, H0033 person-month disambiguation, same-day
    hcpcs-vs-ndc dedup, and the next-date methadone days-supply
    estimator with per-quarter exact medians."""
    from claims_data_spark.tables.moud import build_claim_moud

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("o_orderdate").cast("date")
    proc = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("id_mcaid"),
            F.col("l_orderkey").alias("claim_header_id"),
            d.alias("first_service_date"),
            d.alias("last_service_date"),
            F.element_at(
                F.array(
                    F.lit("H0020"), F.lit("J0571"), F.lit("H0033"),
                    F.lit("J2315"), F.lit("G2074"), F.lit("87070"),
                ),
                (F.col("l_suppkey") % 6 + 1).cast("int"),
            ).alias("procedure_code"),
        )
    )
    hdr = o.select(
        F.col("o_orderkey").alias("claim_header_id"),
        F.when(F.col("o_orderkey") % 3 == 0, "F1120")
        .otherwise("Z000")
        .alias("primary_diagnosis"),
        F.lit(10).alias("icdcm_version"),
    )
    pharm = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("rx_fill_date"),
        F.lit("00093572001").alias("ndc"),
        (F.col("o_orderkey") % 40).cast("double").alias("rx_days_supply"),
    )
    oud = spark.createDataFrame(
        [("F1120", 10)], "code string, icdcm_version int"
    )
    rda_pharm = spark.createDataFrame(
        [("00093572001", "pharm_buprenorphine")],
        "code string, sub_group_pharmacy string",
    )
    ndc_ref = spark.createDataFrame(
        [("00093572001", "TABLET")], "ndc string, dosage_form string"
    )
    out = build_claim_moud(
        proc, hdr, pharm, oud, rda_pharm, ndc_ref,
        start_date="1992-01-01",
    )
    return out.select(
        "id_mcaid",
        _ds("last_service_date").alias("last_service_date"),
        F.col("service_month").cast("int").alias("service_month"),
        F.col("meth_proc_flag").cast("int").alias("meth_proc_flag"),
        F.col("bup_proc_flag").cast("int").alias("bup_proc_flag"),
        F.col("nal_proc_flag").cast("int").alias("nal_proc_flag"),
        F.col("unspec_proc_flag").cast("int").alias("unspec_proc_flag"),
        F.col("bup_rx_flag").cast("int").alias("bup_rx_flag"),
        F.col("nal_rx_flag").cast("int").alias("nal_rx_flag"),
        "admin_method",
        F.col("moud_flag_count").cast("int").alias("moud_flag_count"),
        F.col("moud_days_supply").cast("double").alias("moud_days_supply"),
        F.col("next_meth_diff").cast("int").alias("next_meth_diff"),
        F.col("moud_days_supply_new_year_quarter").cast("double").alias(
            "supply_estimated"
        ),
    )


SQL_CLAIM_MOUD = """
WITH proc1 AS (
  SELECT DISTINCT
    o_custkey AS id_mcaid, l_orderkey AS claim_header_id,
    CAST(o_orderdate AS DATE) AS fsd, CAST(o_orderdate AS DATE) AS lsd,
    (ARRAY['H0020','J0571','H0033','J2315','G2074','87070'])
      [CAST(l_suppkey % 6 AS INT) + 1] AS code
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
proc2 AS (
  SELECT *,
    CASE WHEN code = 'H0033' THEN 1 ELSE 0 END AS moud_proc_flag_tbd,
    CASE WHEN code = 'H0020' THEN 1 ELSE 0 END AS meth_proc_flag,
    CASE WHEN code = 'J0571' THEN 1 ELSE 0 END AS bup_proc_flag,
    CASE WHEN code = 'J2315' THEN 1 ELSE 0 END AS nal_proc_flag,
    CASE WHEN code = 'G2074' THEN 1 ELSE 0 END AS unspec_proc_flag,
    CASE WHEN code IN ('H0033','H0020','J0571') THEN 1
         WHEN code = 'J2315' THEN 30
         ELSE 0 END AS moud_days_supply,
    CASE WHEN code IN ('H0020','H0033','J0571') THEN 'oral'
         WHEN code IN ('J2315') THEN 'injection/implant'
         ELSE NULL END AS admin_method
  FROM proc1
  WHERE code IN ('H0020','J0571','H0033','J2315','G2074')
),
proc3 AS (
  SELECT p.*,
    CASE WHEN p.claim_header_id % 3 = 0 THEN 1 ELSE 0 END AS oud_dx1_flag
  FROM proc2 p
),
proc4 AS (
  SELECT * FROM proc3
  WHERE code IN ('H0020','J0571','G2074','J2315')
        AND (code <> 'J2315' OR oud_dx1_flag = 1)
     OR (code = 'H0033' AND oud_dx1_flag = 1)
),
proc5 AS (
  SELECT * FROM proc4
  WHERE moud_proc_flag_tbd = 1 OR bup_proc_flag = 1 OR meth_proc_flag = 1
     OR unspec_proc_flag = 1
     OR (nal_proc_flag = 1 AND admin_method = 'injection/implant')
),
rx AS (
  SELECT DISTINCT
    o_custkey AS id_mcaid,
    CAST(o_orderdate AS DATE) AS lsd,
    1 AS bup_rx_flag, 0 AS nal_rx_flag,
    'oral' AS admin_method,
    CAST(o_orderkey % 40 AS DOUBLE) AS moud_days_supply
  FROM orders WHERE o_orderkey % 5 = 0
),
unioned AS (
  SELECT DISTINCT id_mcaid, lsd, code,
         moud_proc_flag_tbd, meth_proc_flag, bup_proc_flag, nal_proc_flag,
         unspec_proc_flag, admin_method,
         CAST(NULL AS INT) AS bup_rx_flag, CAST(NULL AS INT) AS nal_rx_flag,
         CAST(moud_days_supply AS DOUBLE) AS moud_days_supply
  FROM proc5
  UNION ALL
  SELECT DISTINCT id_mcaid, lsd, NULL, NULL, NULL, NULL, NULL, NULL,
         admin_method, bup_rx_flag, nal_rx_flag, moud_days_supply
  FROM rx
),
h0033 AS (
  SELECT *,
    SUM(COALESCE(meth_proc_flag, 0)) OVER wym AS meth_m,
    SUM(COALESCE(bup_proc_flag, 0)) OVER wym AS bup_m,
    SUM(COALESCE(bup_rx_flag, 0)) OVER wym AS bup_rx_m
  FROM unioned
  WINDOW wym AS (PARTITION BY id_mcaid, YEAR(lsd) * 100 + MONTH(lsd))
),
assigned AS (
  SELECT id_mcaid, lsd, nal_proc_flag, unspec_proc_flag,
         bup_rx_flag, nal_rx_flag, admin_method, moud_days_supply,
    CASE WHEN code = 'H0033' AND meth_m = 0 AND bup_m = 0 AND bup_rx_m = 0 THEN 1
         WHEN code = 'H0033' AND meth_m = 0 AND bup_m = 0 AND bup_rx_m > 0 THEN 0
         WHEN code = 'H0033' AND meth_m >= bup_m AND meth_m <> 0 THEN 1
         WHEN code = 'H0033' AND meth_m < bup_m THEN 0
         ELSE meth_proc_flag END AS meth_proc_flag,
    CASE WHEN code = 'H0033' AND meth_m = 0 AND bup_m = 0 AND bup_rx_m = 0 THEN 0
         WHEN code = 'H0033' AND meth_m = 0 AND bup_m = 0 AND bup_rx_m > 0 THEN 1
         WHEN code = 'H0033' AND meth_m >= bup_m AND meth_m <> 0 THEN 0
         WHEN code = 'H0033' AND meth_m < bup_m THEN 1
         ELSE bup_proc_flag END AS bup_proc_flag
  FROM h0033
),
collapsed AS (
  SELECT id_mcaid, lsd, meth_proc_flag, bup_proc_flag, nal_proc_flag,
         unspec_proc_flag, bup_rx_flag, nal_rx_flag, admin_method,
         SUM(moud_days_supply) AS moud_days_supply
  FROM assigned
  GROUP BY ALL
),
typed AS (
  SELECT *,
    CASE WHEN bup_proc_flag = 1 OR bup_rx_flag = 1 THEN 'buprenorphine'
         WHEN nal_proc_flag = 1 OR nal_rx_flag = 1 THEN 'naltrexone'
         END AS moudtype,
    CASE WHEN bup_proc_flag = 1 OR nal_proc_flag = 1 THEN 'hcpcs'
         WHEN bup_rx_flag = 1 OR nal_rx_flag = 1 THEN 'ndc' END AS codetype
  FROM collapsed
),
deduped AS (
  SELECT * FROM (
    SELECT *,
      COUNT(*) OVER (PARTITION BY id_mcaid, lsd, moudtype, admin_method)
        AS n_same,
      MAX(CASE WHEN cnt_dup > 1 THEN 1 ELSE 0 END)
        OVER (PARTITION BY id_mcaid, lsd, moudtype) AS dup_in_type
    FROM (
      SELECT *,
        COUNT(*) OVER (PARTITION BY id_mcaid, lsd, moudtype, admin_method)
          AS cnt_dup
      FROM typed
    )
  )
  WHERE NOT (moudtype IS NOT NULL AND admin_method IS NOT NULL
             AND dup_in_type = 1 AND codetype = 'hcpcs')
),
meth AS (
  SELECT *,
    YEAR(lsd) * 10 + QUARTER(lsd) AS yq,
    CASE WHEN meth_proc_flag = 1
          AND LEAD(meth_proc_flag) OVER wm = 1
         THEN DATEDIFF('day', lsd, LEAD(lsd) OVER wm) END AS next_meth_diff,
    SUM(COALESCE(meth_proc_flag, 0))
      OVER (PARTITION BY id_mcaid, YEAR(lsd) * 10 + QUARTER(lsd))
      AS meth_proc_sum_year_quarter
  FROM deduped
  WINDOW wm AS (PARTITION BY id_mcaid, meth_proc_flag ORDER BY lsd)
),
med AS (
  SELECT id_mcaid, yq, MEDIAN(next_meth_diff) AS med_diff
  FROM meth GROUP BY id_mcaid, yq
)
SELECT
  m.id_mcaid,
  CAST(m.lsd AS VARCHAR) AS last_service_date,
  CAST(YEAR(m.lsd) * 100 + MONTH(m.lsd) AS INT) AS service_month,
  CAST(m.meth_proc_flag AS INT) AS meth_proc_flag,
  CAST(m.bup_proc_flag AS INT) AS bup_proc_flag,
  CAST(m.nal_proc_flag AS INT) AS nal_proc_flag,
  CAST(m.unspec_proc_flag AS INT) AS unspec_proc_flag,
  CAST(m.bup_rx_flag AS INT) AS bup_rx_flag,
  CAST(m.nal_rx_flag AS INT) AS nal_rx_flag,
  m.admin_method,
  CAST(COALESCE(m.meth_proc_flag, 0) + COALESCE(m.bup_proc_flag, 0)
       + COALESCE(m.nal_proc_flag, 0) + COALESCE(m.bup_rx_flag, 0)
       + COALESCE(m.nal_rx_flag, 0) AS INT) AS moud_flag_count,
  CAST(m.moud_days_supply AS DOUBLE) AS moud_days_supply,
  CAST(m.next_meth_diff AS INT) AS next_meth_diff,
  CAST(CASE
    WHEN m.meth_proc_flag = 1 AND m.meth_proc_sum_year_quarter <= 2
      THEN m.moud_days_supply
    WHEN m.meth_proc_flag = 1 AND m.next_meth_diff > 1.5 * d.med_diff
      THEN d.med_diff
    WHEN m.meth_proc_flag = 1 AND m.next_meth_diff IS NULL THEN d.med_diff
    WHEN m.meth_proc_flag = 1 THEN m.next_meth_diff
    ELSE m.moud_days_supply END AS DOUBLE) AS supply_estimated
FROM meth m LEFT JOIN med d ON m.id_mcaid = d.id_mcaid AND m.yq = d.yq
"""



# ---------------------------------------------------------------------------
# claim_value_set materialization (load_stage.mcaid_claim_value_set.R:
# nine INSERT passes -> one scan per claim domain, broadcast code joins,
# dx dual primary/'N' insert via explode) on synthetic claims
# ---------------------------------------------------------------------------

def q_claim_value_set(spark, sf_dir):
    from claims_data_spark.tables.value_set import build_claim_value_set

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("o_orderdate").cast("date")
    rda = spark.createDataFrame(
        [
            ("MH", "MH-procedure-value-set", "procedure", None, "HCPCS",
             "90832", "Y"),
            ("MH", "MH-Dx-value-set", "diagnosis", None, "ICD10CM",
             "F329", "Y"),
            ("MH", "MH-Dx-value-set", "diagnosis", None, "ICD9CM",
             "29620", "Y"),
            ("ED", "ED-rev-set", "line", None, "UBREV", "0450", "Y"),
            ("IP", "IP-drg-set", "claim", None, "DRG", "470", "Y"),
        ],
        "value_set_group string, value_set_name string, "
        "data_source_type string, sub_group string, code_set string, "
        "code string, active string",
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    px = joined.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("l_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.when(F.col("l_suppkey") % 5 == 0, "90832")
        .otherwise("87070")
        .alias("procedure_code"),
    )
    ln = joined.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("l_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.when(F.col("l_partkey") % 9 == 0, "0450")
        .otherwise("0300")
        .alias("rev_code"),
    )
    dx = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.when(F.col("o_orderkey") % 7 == 0, "F329")
        .when(F.col("o_orderkey") % 7 == 1, "29620")
        .otherwise("E119")
        .alias("icdcm_norm"),
        F.when(F.col("o_orderkey") % 2 == 0, 9).otherwise(10).alias(
            "icdcm_version"
        ),
        F.when(F.col("o_orderkey") % 3 == 0, "01").otherwise("02").alias(
            "icdcm_number"
        ),
    )
    hdr = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        F.when(F.col("o_orderkey") % 11 == 0, "470")
        .otherwise("999")
        .alias("drvd_drg_code"),
    )
    out = build_claim_value_set(
        rda, procedure=px, header=hdr, icdcm=dx, line=ln
    )
    return out.select(
        "value_set_group",
        "value_set_name",
        "code_set",
        "primary_dx_only",
        "id_mcaid",
        "claim_header_id",
        _ds("service_date").alias("service_date"),
    )


SQL_CLAIM_VALUE_SET = """
WITH px AS (
  SELECT o_custkey AS id_mcaid, l_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CASE WHEN l_suppkey % 5 = 0 THEN '90832' ELSE '87070' END AS code
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
ln AS (
  SELECT o_custkey AS id_mcaid, l_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CASE WHEN l_partkey % 9 = 0 THEN '0450' ELSE '0300' END AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
dx AS (
  SELECT o_custkey AS id_mcaid, o_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CASE CAST(o_orderkey % 7 AS INT) WHEN 0 THEN 'F329'
              WHEN 1 THEN '29620' ELSE 'E119' END AS icdcm_norm,
         CASE WHEN o_orderkey % 2 = 0 THEN 9 ELSE 10 END AS icdcm_version,
         CASE WHEN o_orderkey % 3 = 0 THEN '01' ELSE '02' END AS icdcm_number
  FROM orders
),
hdr AS (
  SELECT o_custkey AS id_mcaid, o_orderkey AS claim_header_id,
         CAST(o_orderdate AS DATE) AS fsd,
         CASE WHEN o_orderkey % 11 = 0 THEN '470' ELSE '999' END AS drg
  FROM orders
)
SELECT DISTINCT * FROM (
  SELECT 'MH' AS value_set_group, 'MH-procedure-value-set' AS value_set_name,
         'HCPCS' AS code_set, CAST(NULL AS VARCHAR) AS primary_dx_only,
         id_mcaid, claim_header_id, CAST(fsd AS VARCHAR) AS service_date
  FROM px WHERE code = '90832'
  UNION ALL
  SELECT 'IP', 'IP-drg-set', 'DRG', NULL, id_mcaid, claim_header_id,
         CAST(fsd AS VARCHAR)
  FROM hdr WHERE drg = '470'
  UNION ALL
  SELECT 'ED', 'ED-rev-set', 'UBREV', NULL, id_mcaid, claim_header_id,
         CAST(fsd AS VARCHAR)
  FROM ln WHERE rev = '0450'
  UNION ALL
  SELECT 'MH', 'MH-Dx-value-set',
         CASE WHEN icdcm_version = 9 THEN 'ICD9CM' ELSE 'ICD10CM' END,
         'N', id_mcaid, claim_header_id, CAST(fsd AS VARCHAR)
  FROM dx WHERE (icdcm_version = 10 AND icdcm_norm = 'F329')
           OR (icdcm_version = 9 AND icdcm_norm = '29620')
  UNION ALL
  SELECT 'MH', 'MH-Dx-value-set',
         CASE WHEN icdcm_version = 9 THEN 'ICD9CM' ELSE 'ICD10CM' END,
         'Y', id_mcaid, claim_header_id, CAST(fsd AS VARCHAR)
  FROM dx WHERE ((icdcm_version = 10 AND icdcm_norm = 'F329')
            OR (icdcm_version = 9 AND icdcm_norm = '29620'))
           AND icdcm_number = '01'
)
"""


# ---------------------------------------------------------------------------
# Medicare MBSF elig_timevar (load_stage.mcare_elig_timevar.R:13-383) on
# synthetic enrollment carved from customer: the 48 monthly indicator
# columns are pure functions of (custkey, month), so the DuckDB oracle
# recomputes them at the month grain directly (no reshape needed).
# ---------------------------------------------------------------------------

_TV_BUYIN = ["0", "1", "3", "A", "C", "2", "B"]
_TV_HMO = ["0", "1", "4", "A", "C"]
_TV_RX = ["N", "H1234", "*", "E99", "X77", "0"]
_TV_DUAL = ["00", "01", "02", "03", "04", "08", "10", "99", "NA", "**"]


def q_mcare_timevar(spark, sf_dir):
    """Full mcare_elig_timevar pipeline: struct-explode unpivot of the
    four monthly indicator sets, ResDAC part A/B/C/D + dual recodes,
    death-date censoring/truncation, island collapse, contiguous flag."""
    from claims_data_spark.tables.mcare_elig import build_mcare_elig_timevar

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")

    # the 48 monthly pick columns compile to SQL text shipped in ONE
    # selectExpr: Column-API assembly cost a py4j round-trip per array
    # element (~4k crossings of the build's ~0.6 s driver time,
    # profiled); parsed trees are identical
    def pick_sql(vals, expr):
        arr = ", ".join(f"'{v}'" for v in vals)
        return (
            f"element_at(array({arr}), "
            f"CAST(({expr}) % {len(vals)} + 1 AS INT))"
        )

    exprs = [
        "c_custkey AS bene_id",
        "1995 AS bene_enrollmt_ref_yr",
        "CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN '98101' "
        "WHEN 1 THEN '9810' WHEN 2 THEN '98055' ELSE '99999' END "
        "AS zip_cd",
    ]
    for m in range(1, 13):
        exprs.append(
            pick_sql(_TV_BUYIN, f"c_custkey * 5 + {m * 3}")
            + f" AS mdcr_entlmt_buyin_ind_{m:02d}"
        )
        exprs.append(
            pick_sql(_TV_HMO, f"c_custkey + {m}") + f" AS hmo_ind_{m:02d}"
        )
        exprs.append(
            pick_sql(_TV_RX, f"c_custkey * 2 + {m}")
            + f" AS ptd_cntrct_id_{m:02d}"
        )
        exprs.append(
            pick_sql(_TV_DUAL, f"c_custkey + {m * 7}")
            + f" AS dual_stus_cd_{m:02d}"
        )
    enr = c.selectExpr(*exprs)
    demo = c.select(
        k.alias("id_mcare"),
        F.when(k % 9 == 0, F.lit("1995-06-15").cast("date")).alias(
            "death_dt"
        ),
    )
    out = build_mcare_elig_timevar(enr, demo)
    return out.select(
        F.col("id_mcare").cast("long").alias("id_mcare"),
        _ds("from_date").alias("from_date"),
        _ds("to_date").alias("to_date"),
        F.col("contiguous").cast("int").alias("contiguous"),
        F.col("part_a").cast("int").alias("part_a"),
        F.col("part_b").cast("int").alias("part_b"),
        F.col("part_c").cast("int").alias("part_c"),
        F.col("part_d").cast("int").alias("part_d"),
        F.col("full_dual").cast("int").alias("full_dual"),
        F.col("partial_dual").cast("int").alias("partial_dual"),
        F.col("state_buyin").cast("int").alias("state_buyin"),
        "geo_zip",
        F.col("cov_time_day").cast("int").alias("cov_time_day"),
    )


def _sql_list(vals):
    return ", ".join("'" + v + "'" for v in vals)


SQL_MCARE_TIMEVAR = f"""
WITH months AS (
  SELECT c_custkey AS id, m,
    make_date(1995, m, 1) AS from_date,
    last_day(make_date(1995, m, 1)) AS to_date,
    CASE WHEN c_custkey % 4 = 0 THEN '98101'
         WHEN c_custkey % 4 = 2 THEN '98055'
         WHEN c_custkey % 4 = 3 THEN '99999' END AS geo_zip,
    (ARRAY[{_sql_list(_TV_BUYIN)}])[CAST((c_custkey*5 + m*3) % 7 AS INT) + 1] AS buyin,
    (ARRAY[{_sql_list(_TV_HMO)}])[CAST((c_custkey + m) % 5 AS INT) + 1] AS hmo,
    (ARRAY[{_sql_list(_TV_RX)}])[CAST((c_custkey*2 + m) % 6 AS INT) + 1] AS rx,
    (ARRAY[{_sql_list(_TV_DUAL)}])[CAST((c_custkey + m*7) % 10 AS INT) + 1] AS dual,
    CASE WHEN c_custkey % 9 = 0 THEN DATE '1995-06-15' END AS death_dt
  FROM customer CROSS JOIN (SELECT UNNEST(generate_series(1, 12)) AS m)
),
coded AS (
  SELECT id, from_date, to_date, geo_zip, death_dt,
    CASE WHEN buyin IN ('1','3','A','C') THEN 1 WHEN buyin IN ('0','2','B') THEN 0 END AS part_a,
    CASE WHEN buyin IN ('2','3','B','C') THEN 1 WHEN buyin IN ('0','1','A') THEN 0 END AS part_b,
    CASE WHEN hmo IN ('1','2','A','B','C') THEN 1 WHEN hmo IN ('0','4') THEN 0 END AS part_c,
    CASE WHEN rx IN ('N','NULL','*','0','NA') OR rx IS NULL THEN 0
         WHEN substr(rx,1,1) IN ('E','H','R','S','X') THEN 1 END AS part_d,
    CASE WHEN buyin IN ('0','1','2','3') THEN 0 WHEN buyin IN ('A','B','C') THEN 1 END AS state_buyin,
    CASE WHEN dual IN ('NULL','**','0','00','2','02','4','04','8','08','9','09','99','10','NA') OR dual IS NULL THEN 0
         WHEN dual IN ('1','01','3','03','5','05','6','06') THEN 1 END AS partial_dual,
    CASE WHEN dual IN ('NULL','**','0','00','9','09','99','NA','1','01','3','03','5','05','6','06') OR dual IS NULL THEN 0
         WHEN dual IN ('2','02','4','04','8','08','10') THEN 1 END AS full_dual
  FROM months
),
covered AS (
  SELECT id, from_date,
    CASE WHEN death_dt IS NOT NULL AND from_date <= death_dt AND to_date > death_dt
         THEN death_dt ELSE to_date END AS to_date,
    geo_zip, part_a, part_b, part_c, part_d, state_buyin, partial_dual, full_dual
  FROM coded
  WHERE COALESCE(part_a,0)+COALESCE(part_b,0)+COALESCE(part_c,0)+COALESCE(part_d,0)
        +COALESCE(state_buyin,0)+COALESCE(partial_dual,0)+COALESCE(full_dual,0) > 0
    AND (death_dt IS NULL OR from_date <= death_dt)
),
grp AS (
  SELECT *, datediff('month', DATE '1900-01-01', from_date)
    - ROW_NUMBER() OVER (PARTITION BY id, geo_zip, part_a, part_b, part_c,
        part_d, state_buyin, partial_dual, full_dual ORDER BY from_date) AS g
  FROM covered
),
island AS (
  SELECT id, geo_zip, part_a, part_b, part_c, part_d, state_buyin,
    partial_dual, full_dual, MIN(from_date) AS from_date, MAX(to_date) AS to_date
  FROM grp
  GROUP BY id, geo_zip, part_a, part_b, part_c, part_d, state_buyin,
    partial_dual, full_dual, g
)
SELECT CAST(id AS BIGINT) AS id_mcare,
  CAST(from_date AS VARCHAR) AS from_date,
  CAST(to_date AS VARCHAR) AS to_date,
  CASE WHEN datediff('day', LAG(to_date) OVER (PARTITION BY id ORDER BY from_date),
       from_date) = 1 THEN 1 ELSE 0 END AS contiguous,
  part_a, part_b, part_c, part_d, full_dual, partial_dual, state_buyin,
  geo_zip, CAST(datediff('day', from_date, to_date) + 1 AS INT) AS cov_time_day
FROM island
"""


def q_mcare_elig_month(spark, sf_dir):
    """Medicare member-month table (load_stage.mcare_elig_month.R:
    30-290): the SAME coded-month stage as mcare_timevar kept at month
    grain — no island collapse — with time-period vars, cov_time_day.
    Map-only after the struct-array explode."""
    from claims_data_spark.tables.mcare_elig import build_mcare_elig_month

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")

    def pick(vals, expr):
        return F.element_at(
            F.array(*[F.lit(v) for v in vals]), (expr % len(vals) + 1).cast("int")
        )

    cols = [
        k.alias("bene_id"),
        F.lit(1995).alias("bene_enrollmt_ref_yr"),
        F.when(k % 4 == 0, "98101").when(k % 4 == 1, "9810")
        .when(k % 4 == 2, "98055").otherwise("99999").alias("zip_cd"),
    ]
    for m in range(1, 13):
        cols.append(pick(_TV_BUYIN, k * 5 + m * 3).alias(
            f"mdcr_entlmt_buyin_ind_{m:02d}"))
        cols.append(pick(_TV_HMO, k + m).alias(f"hmo_ind_{m:02d}"))
        cols.append(pick(_TV_RX, k * 2 + m).alias(f"ptd_cntrct_id_{m:02d}"))
        cols.append(pick(_TV_DUAL, k + m * 7).alias(f"dual_stus_cd_{m:02d}"))
    enr = c.select(*cols)
    demo = c.select(
        k.alias("id_mcare"),
        F.when(k % 9 == 0, F.lit("1995-06-15").cast("date")).alias(
            "death_dt"
        ),
    )
    out = build_mcare_elig_month(enr, demo)
    return out.select(
        F.col("id_mcare").cast("long").alias("id_mcare"),
        _ds("from_date").alias("from_date"),
        _ds("to_date").alias("to_date"),
        "year_month", "year_quarter", "year",
        F.col("part_a").cast("int").alias("part_a"),
        F.col("part_b").cast("int").alias("part_b"),
        F.col("part_c").cast("int").alias("part_c"),
        F.col("part_d").cast("int").alias("part_d"),
        F.col("full_dual").cast("int").alias("full_dual"),
        F.col("partial_dual").cast("int").alias("partial_dual"),
        F.col("state_buyin").cast("int").alias("state_buyin"),
        "geo_zip",
        F.col("cov_time_day").cast("int").alias("cov_time_day"),
    )


SQL_MCARE_ELIG_MONTH = f"""
WITH months AS (
  SELECT c_custkey AS id, m,
    make_date(1995, m, 1) AS from_date,
    last_day(make_date(1995, m, 1)) AS to_date,
    CASE WHEN c_custkey % 4 = 0 THEN '98101'
         WHEN c_custkey % 4 = 2 THEN '98055'
         WHEN c_custkey % 4 = 3 THEN '99999' END AS geo_zip,
    (ARRAY[{{buyin_list}}])[CAST((c_custkey*5 + m*3) % 7 AS INT) + 1] AS buyin,
    (ARRAY[{{hmo_list}}])[CAST((c_custkey + m) % 5 AS INT) + 1] AS hmo,
    (ARRAY[{{rx_list}}])[CAST((c_custkey*2 + m) % 6 AS INT) + 1] AS rx,
    (ARRAY[{{dual_list}}])[CAST((c_custkey + m*7) % 10 AS INT) + 1] AS dual,
    CASE WHEN c_custkey % 9 = 0 THEN DATE '1995-06-15' END AS death_dt
  FROM customer CROSS JOIN (SELECT UNNEST(generate_series(1, 12)) AS m)
),
coded AS (
  SELECT id, from_date, to_date, geo_zip, death_dt,
    CASE WHEN buyin IN ('1','3','A','C') THEN 1 WHEN buyin IN ('0','2','B') THEN 0 END AS part_a,
    CASE WHEN buyin IN ('2','3','B','C') THEN 1 WHEN buyin IN ('0','1','A') THEN 0 END AS part_b,
    CASE WHEN hmo IN ('1','2','A','B','C') THEN 1 WHEN hmo IN ('0','4') THEN 0 END AS part_c,
    CASE WHEN rx IN ('N','NULL','*','0','NA') OR rx IS NULL THEN 0
         WHEN substr(rx,1,1) IN ('E','H','R','S','X') THEN 1 END AS part_d,
    CASE WHEN buyin IN ('0','1','2','3') THEN 0 WHEN buyin IN ('A','B','C') THEN 1 END AS state_buyin,
    CASE WHEN dual IN ('NULL','**','0','00','2','02','4','04','8','08','9','09','99','10','NA') OR dual IS NULL THEN 0
         WHEN dual IN ('1','01','3','03','5','05','6','06') THEN 1 END AS partial_dual,
    CASE WHEN dual IN ('NULL','**','0','00','9','09','99','NA','1','01','3','03','5','05','6','06') OR dual IS NULL THEN 0
         WHEN dual IN ('2','02','4','04','8','08','10') THEN 1 END AS full_dual
  FROM months
)
SELECT CAST(id AS BIGINT) AS id_mcare,
  CAST(from_date AS VARCHAR) AS from_date,
  CAST(CASE WHEN death_dt IS NOT NULL AND from_date <= death_dt AND to_date > death_dt
       THEN death_dt ELSE to_date END AS VARCHAR) AS to_date,
  CAST(strftime(from_date, '%Y%m') AS INT) AS year_month,
  CAST(year(from_date) * 10 + FLOOR((month(from_date) - 1) / 3) + 1 AS INT) AS year_quarter,
  CAST(year(from_date) AS INT) AS year,
  part_a, part_b, part_c, part_d, full_dual, partial_dual, state_buyin,
  geo_zip,
  CAST(date_diff('day', from_date,
    CASE WHEN death_dt IS NOT NULL AND from_date <= death_dt AND to_date > death_dt
         THEN death_dt ELSE to_date END) + 1 AS INT) AS cov_time_day
FROM coded
WHERE COALESCE(part_a,0)+COALESCE(part_b,0)+COALESCE(part_c,0)+COALESCE(part_d,0)
      +COALESCE(state_buyin,0)+COALESCE(partial_dual,0)+COALESCE(full_dual,0) > 0
  AND (death_dt IS NULL OR from_date <= death_dt)
""".format(
    buyin_list=_sql_list(_TV_BUYIN),
    hmo_list=_sql_list(_TV_HMO),
    rx_list=_sql_list(_TV_RX),
    dual_list=_sql_list(_TV_DUAL),
)


# ---------------------------------------------------------------------------
# APCD person-level rollup (load_stage.apcd_elig_plr.R:39-363) on
# synthetic timevar segments carved from orders
# ---------------------------------------------------------------------------

def q_apcd_elig_month(spark, sf_dir):
    """APCD member-month table (load_stage.apcd_elig_month.R:37-136):
    month-grain rows off member_month_detail with the 9-way payer
    covgrp cascade per domain, payer flags, empirical dual, time
    period vars, ZIP geography, cov_time_day. Map-only plan: zero
    shuffles, geo refs broadcast."""
    from claims_data_spark.tables.apcd import build_apcd_elig_month

    o = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    d = F.col("o_orderdate").cast("date")
    mm = o.select(
        F.col("o_custkey").alias("internal_member_id"),
        (F.year(d) * 100 + F.month(d)).cast("int").alias("year_month"),
        F.when(ok % 3 == 0, "m").alias("med_medicaid_eligibility_id"),
        F.when(ok % 5 == 0, "M").alias("med_medicare_eligibility_id"),
        F.when(ok % 7 == 0, "C").alias("med_commercial_eligibility_id"),
        F.when(ok % 4 == 0, "rm").alias("rx_medicaid_eligibility_id"),
        F.lit(None).cast("string").alias("rx_medicare_eligibility_id"),
        F.when(ok % 6 == 0, "rc").alias("rx_commercial_eligibility_id"),
        F.when(ok % 8 == 0, "dm").alias("dental_medicaid_eligibility_id"),
        F.lit(None).cast("string").alias("dental_medicare_eligibility_id"),
        F.lit(None).cast("string").alias("dental_commercial_eligibility_id"),
        F.when(ok % 2 == 0, "any").alias("medical_eligibility_id"),
        F.when(ok % 9 == 0, "p").alias("pharmacy_eligibility_id"),
        F.when(ok % 8 == 0, "dm").alias("dental_eligibility_id"),
        F.concat(F.lit("Z"), (F.col("o_custkey") % 5).cast("string")).alias(
            "zip_code"
        ),
    )
    ref_zip = spark.createDataFrame(
        [("Z0", "County", "King", "K"), ("Z1", "County", "King", "K"),
         ("Z2", "County", "Pierce", "P"), ("Z3", "County", "Pierce", "P"),
         ("Z0", "Accountable Community", "HealthierHere", "H"),
         ("Z1", "Accountable Community", "HealthierHere", "H"),
         ("Z2", "Accountable Community", "OtherACH", "O")],
        "zip_code string, zip_group_type_desc string, zip_group_desc "
        "string, zip_group_code string",
    )
    out = build_apcd_elig_month(mm, ref_zip)
    return out.select(
        F.col("id_apcd").cast("long").alias("id_apcd"),
        F.col("from_date").cast("string").alias("from_date"),
        F.col("to_date").cast("string").alias("to_date"),
        "year_month", "year_quarter", "year",
        "med_covgrp", "pharm_covgrp", "dental_covgrp",
        "med_medicaid", "med_medicare", "med_commercial", "med_unknown",
        "pharm_medicaid", "pharm_commercial", "pharm_unknown",
        "dental_medicaid", "dual", "geo_zip", "geo_county", "geo_ach",
        "geo_wa", "geo_kc",
        F.col("cov_time_day").cast("int").alias("cov_time_day"),
    )


SQL_APCD_ELIG_MONTH = """
WITH mm AS (
  SELECT o_custkey AS id_apcd,
    date_trunc('month', CAST(o_orderdate AS DATE)) AS from_date,
    last_day(CAST(o_orderdate AS DATE)) AS to_date,
    (o_orderkey % 3 = 0) AS m_mcaid,
    (o_orderkey % 5 = 0) AS m_mcare,
    (o_orderkey % 7 = 0) AS m_comm,
    (o_orderkey % 2 = 0) AS med_any,
    (o_orderkey % 4 = 0) AS r_mcaid,
    (o_orderkey % 6 = 0) AS r_comm,
    (o_orderkey % 9 = 0) AS rx_any,
    (o_orderkey % 8 = 0) AS d_mcaid,
    'Z' || CAST(o_custkey % 5 AS INT) AS geo_zip
  FROM orders
), g AS (
  SELECT *,
    CASE WHEN m_mcaid AND NOT m_comm AND NOT m_mcare THEN 1
         WHEN NOT m_mcaid AND NOT m_comm AND m_mcare THEN 2
         WHEN NOT m_mcaid AND m_comm AND NOT m_mcare THEN 3
         WHEN m_mcaid AND NOT m_comm AND m_mcare THEN 4
         WHEN m_mcaid AND m_comm AND NOT m_mcare THEN 5
         WHEN NOT m_mcaid AND m_comm AND m_mcare THEN 6
         WHEN m_mcaid AND m_comm AND m_mcare THEN 7
         WHEN med_any THEN 8 ELSE 0 END AS med_covgrp,
    CASE WHEN r_mcaid AND NOT r_comm THEN 1
         WHEN NOT r_mcaid AND r_comm THEN 3
         WHEN r_mcaid AND r_comm THEN 5
         WHEN rx_any THEN 8 ELSE 0 END AS pharm_covgrp,
    CASE WHEN d_mcaid THEN 1 ELSE 0 END AS dental_covgrp,
    CASE WHEN (m_mcaid OR r_mcaid OR d_mcaid) AND m_mcare
         THEN 1 ELSE 0 END AS dual
  FROM mm
)
SELECT g.id_apcd,
  CAST(g.from_date AS VARCHAR) AS from_date,
  CAST(g.to_date AS VARCHAR) AS to_date,
  CAST(strftime(g.from_date, '%Y%m') AS INT) AS year_month,
  CAST(year(g.from_date) * 10
       + FLOOR((month(g.from_date) - 1) / 3) + 1 AS INT) AS year_quarter,
  CAST(year(g.from_date) AS INT) AS year,
  g.med_covgrp, g.pharm_covgrp, g.dental_covgrp,
  CAST(g.med_covgrp IN (1,4,5,7) AS INT) AS med_medicaid,
  CAST(g.med_covgrp IN (2,4,6,7) AS INT) AS med_medicare,
  CAST(g.med_covgrp IN (3,5,6,7) AS INT) AS med_commercial,
  CAST(g.med_covgrp = 8 AS INT) AS med_unknown,
  CAST(g.pharm_covgrp IN (1,4,5,7) AS INT) AS pharm_medicaid,
  CAST(g.pharm_covgrp IN (3,5,6,7) AS INT) AS pharm_commercial,
  CAST(g.pharm_covgrp = 8 AS INT) AS pharm_unknown,
  CAST(g.dental_covgrp IN (1,4,5,7) AS INT) AS dental_medicaid,
  g.dual, g.geo_zip, cty.geo_county, ach.geo_ach,
  CAST(cty.geo_county IS NOT NULL AS INT) AS geo_wa,
  CAST(cty.geo_county = 'King' AS INT) AS geo_kc,
  CAST(date_diff('day', g.from_date, g.to_date) + 1 AS INT) AS cov_time_day
FROM g
LEFT JOIN (VALUES ('Z0','King'), ('Z1','King'), ('Z2','Pierce'),
                  ('Z3','Pierce')) AS cty(geo_zip, geo_county)
  ON g.geo_zip = cty.geo_zip
LEFT JOIN (VALUES ('Z0','HealthierHere'), ('Z1','HealthierHere'),
                  ('Z2','OtherACH')) AS ach(geo_zip, geo_ach)
  ON g.geo_zip = ach.geo_zip
"""


def q_apcd_plr(spark, sf_dir):
    """Date-range clipped coverage-day sums per person, max-person-time
    ZIP pick with county/ACH mapping, ACH day share, age-at-end with
    the 90 cap, and WA-gated coverage cohort flags."""
    from claims_data_spark.tables.apcd import build_apcd_elig_plr

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ok = F.col("o_orderkey")
    mg = (ok % 9).cast("int")
    pg = ((ok * 31 + 3) % 9).cast("int")
    tv = o.select(
        F.col("o_custkey").alias("id_apcd"),
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.date_add(F.col("o_orderdate").cast("date"),
                   (ok % 120).cast("int")).alias("to_date"),
        mg.alias("med_covgrp"), pg.alias("pharm_covgrp"),
        mg.isin(1, 4, 5, 7).cast("int").alias("med_medicaid"),
        mg.isin(2, 4, 6, 7).cast("int").alias("med_medicare"),
        mg.isin(3, 5, 6, 7).cast("int").alias("med_commercial"),
        pg.isin(1, 4, 5, 7).cast("int").alias("pharm_medicaid"),
        pg.isin(2, 4, 6, 7).cast("int").alias("pharm_medicare"),
        pg.isin(3, 5, 6, 7).cast("int").alias("pharm_commercial"),
        F.concat(F.lit("Z"), (F.col("o_custkey") % 5).cast("string"))
        .alias("geo_zip"),
    )
    ck = F.col("c_custkey")
    demo = c.select(
        ck.alias("id_apcd"),
        F.make_date(
            F.lit(1920) + (ck % 80).cast("int"),
            (ck % 12).cast("int") + 1, F.lit(15)
        ).alias("dob"),
        (ck % 13 == 0).cast("int").alias("ninety_only"),
        F.when(ck % 2 == 0, "Female").otherwise("Male").alias("gender_me"),
        F.when(ck % 2 == 0, "Female").otherwise("Male").alias(
            "gender_recent"
        ),
        (ck % 2 == 0).cast("int").alias("gender_female"),
        (ck % 2 == 1).cast("int").alias("gender_male"),
        F.lit("White").alias("race_eth_me"), F.lit("White").alias("race_me"),
        F.lit("White").alias("race_eth_recent"),
        F.lit("White").alias("race_recent"),
        F.lit(0).alias("race_aian"), F.lit(0).alias("race_asian"),
        F.lit(0).alias("race_black"), F.lit(0).alias("race_latino"),
        F.lit(0).alias("race_nhpi"), F.lit(1).alias("race_white"),
        F.lit(0).alias("race_unknown"),
    )
    ref_zip = spark.createDataFrame(
        [("Z0", "County", "King", "K"), ("Z1", "County", "King", "K"),
         ("Z2", "County", "Pierce", "P"), ("Z3", "County", "Pierce", "P"),
         ("Z0", "Accountable Community", "HealthierHere", "H"),
         ("Z1", "Accountable Community", "HealthierHere", "H"),
         ("Z2", "Accountable Community", "OtherACH", "O")],
        "zip_code string, zip_group_type_desc string, zip_group_desc "
        "string, zip_group_code string",
    )
    out = build_apcd_elig_plr(tv, demo, "1995-01-01", "1995-12-31", ref_zip)
    return out.select(
        F.col("id_apcd").cast("long").alias("id_apcd"),
        F.col("geo_wa").cast("int").alias("geo_wa"),
        F.col("overall_mcaid").cast("int").alias("overall_mcaid"),
        F.col("overall_mcaid_med").cast("int").alias("overall_mcaid_med"),
        F.col("overall_mcaid_pharm").cast("int").alias(
            "overall_mcaid_pharm"
        ),
        F.col("medical_coverage_6mo").cast("int").alias(
            "medical_coverage_6mo"
        ),
        F.col("medical_coverage_11mo").cast("int").alias(
            "medical_coverage_11mo"
        ),
        "geo_zip", "geo_county", "geo_ach",
        F.col("geo_ach_covd").cast("long").alias("geo_ach_covd"),
        F.col("age").cast("int").alias("age"), "age_grp7",
        F.col("med_total_covd").cast("long").alias("med_total_covd"),
        # double, not decimal: the oracle's ROUND(double,1) fetches as
        # float64, and the driver hash is type-sensitive (r07 lesson)
        _dbl(_dec(F.col("med_total_covper"), 1, 5)).alias("med_total_covper"),
        F.col("med_medicaid_covd").cast("long").alias("med_medicaid_covd"),
        F.col("med_medicare_covd").cast("long").alias("med_medicare_covd"),
        F.col("pharm_total_covd").cast("long").alias("pharm_total_covd"),
        F.col("dual_covd").cast("long").alias("dual_covd"),
        F.col("dual_flag").cast("int").alias("dual_flag"),
    )


SQL_APCD_PLR = """
WITH tv AS (
  SELECT o_custkey AS id, CAST(o_orderdate AS DATE) AS from_date,
    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 120 AS INT) AS to_date,
    CAST(o_orderkey % 9 AS INT) AS mg,
    CAST((o_orderkey * 31 + 3) % 9 AS INT) AS pg,
    'Z' || CAST(o_custkey % 5 AS INT) AS geo_zip
  FROM orders
),
rng AS (
  SELECT *,
    mg IN (1,4,5,7) AS med_mcaid, mg IN (2,4,6,7) AS med_mcare,
    mg IN (3,5,6,7) AS med_comm,
    pg IN (1,4,5,7) AS ph_mcaid, pg IN (2,4,6,7) AS ph_mcare,
    pg IN (3,5,6,7) AS ph_comm
  FROM tv
  WHERE from_date <= DATE '1995-12-31' AND to_date >= DATE '1995-01-01'
),
ov AS (
  SELECT *, datediff('day', GREATEST(from_date, DATE '1995-01-01'),
    LEAST(to_date, DATE '1995-12-31')) + 1 AS d
  FROM rng
),
cov AS (
  SELECT id,
    SUM(CASE WHEN mg != 0 THEN d ELSE 0 END) AS med_total_covd,
    SUM(CASE WHEN med_mcaid THEN d ELSE 0 END) AS med_medicaid_covd,
    SUM(CASE WHEN med_mcare THEN d ELSE 0 END) AS med_medicare_covd,
    SUM(CASE WHEN pg != 0 THEN d ELSE 0 END) AS pharm_total_covd,
    SUM(CASE WHEN ph_mcaid THEN d ELSE 0 END) AS pharm_medicaid_covd,
    SUM(CASE WHEN (med_mcaid OR ph_mcaid) AND (med_mcare OR ph_mcare)
        THEN d ELSE 0 END) AS dual_covd
  FROM ov GROUP BY id
),
zipdur AS (
  SELECT id, geo_zip, SUM(d) + 1 AS zip_dur FROM ov GROUP BY id, geo_zip
),
zippick AS (
  SELECT id, geo_zip FROM (
    SELECT id, geo_zip, ROW_NUMBER() OVER (PARTITION BY id
      ORDER BY zip_dur DESC, geo_zip) AS zr FROM zipdur
  ) WHERE zr = 1
),
refc AS (
  SELECT * FROM (VALUES ('Z0','King'), ('Z1','King'), ('Z2','Pierce'),
    ('Z3','Pierce')) AS t(zip, county)
),
refa AS (
  SELECT * FROM (VALUES ('Z0','HealthierHere'), ('Z1','HealthierHere'),
    ('Z2','OtherACH')) AS t(zip, ach)
),
geo AS (
  SELECT z.id, z.geo_zip, c.county AS geo_county, a.ach AS geo_ach
  FROM zippick z LEFT JOIN refc c ON z.geo_zip = c.zip
  LEFT JOIN refa a ON z.geo_zip = a.zip
),
achdays AS (
  SELECT o.id, a.ach, SUM(o.d) AS geo_ach_covd
  FROM ov o JOIN refa a ON o.geo_zip = a.zip
  GROUP BY o.id, a.ach
),
aged AS (
  SELECT c_custkey AS id,
    CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END AS ninety_only,
    FLOOR((datediff('day',
      make_date(1920 + CAST(c_custkey % 80 AS INT),
                CAST(c_custkey % 12 AS INT) + 1, 15),
      DATE '1995-12-31') + 1) / 365.25) AS rawage
  FROM customer
),
merged AS (
  SELECT cov.*, g.geo_zip, g.geo_county, g.geo_ach, ad.geo_ach_covd,
    CASE WHEN a.rawage >= 90 OR a.ninety_only = 1 THEN 90
         WHEN a.rawage >= 0 THEN a.rawage
         WHEN a.rawage = -1 THEN 0 END AS age,
    a.ninety_only,
    ROUND(cov.med_total_covd * 100.0 / 365, 1) AS med_total_covper
  FROM cov
  LEFT JOIN geo g ON cov.id = g.id
  LEFT JOIN achdays ad ON cov.id = ad.id AND g.geo_ach = ad.ach
  LEFT JOIN aged a ON cov.id = a.id
)
SELECT CAST(id AS BIGINT) AS id_apcd,
  CASE WHEN geo_county IS NOT NULL THEN 1 ELSE 0 END AS geo_wa,
  CASE WHEN geo_county IS NOT NULL AND
       (med_medicaid_covd >= 1 OR pharm_medicaid_covd >= 1)
       THEN 1 ELSE 0 END AS overall_mcaid,
  CASE WHEN geo_county IS NOT NULL AND med_medicaid_covd >= 1
       THEN 1 ELSE 0 END AS overall_mcaid_med,
  CASE WHEN geo_county IS NOT NULL AND pharm_medicaid_covd >= 1
       THEN 1 ELSE 0 END AS overall_mcaid_pharm,
  CASE WHEN geo_county IS NOT NULL AND med_total_covper >= 50.0
       THEN 1 ELSE 0 END AS medical_coverage_6mo,
  CASE WHEN geo_county IS NOT NULL AND med_total_covper >= 91.7
       THEN 1 ELSE 0 END AS medical_coverage_11mo,
  geo_zip, geo_county, geo_ach,
  CAST(geo_ach_covd AS BIGINT) AS geo_ach_covd,
  CAST(age AS INT) AS age,
  CASE WHEN age >= 0 AND age < 5 THEN '0-4'
       WHEN age >= 5 AND age < 12 THEN '5-11'
       WHEN age >= 12 AND age < 18 THEN '12-17'
       WHEN age >= 18 AND age < 25 THEN '18-24'
       WHEN age >= 25 AND age < 45 THEN '25-44'
       WHEN age >= 45 AND age < 65 THEN '45-64'
       WHEN age >= 65 OR ninety_only = 1 THEN '65 and over' END AS age_grp7,
  CAST(med_total_covd AS BIGINT) AS med_total_covd,
  CAST(med_total_covper AS DECIMAL(5,1)) AS med_total_covper,
  CAST(med_medicaid_covd AS BIGINT) AS med_medicaid_covd,
  CAST(med_medicare_covd AS BIGINT) AS med_medicare_covd,
  CAST(pharm_total_covd AS BIGINT) AS pharm_total_covd,
  CAST(dual_covd AS BIGINT) AS dual_covd,
  CASE WHEN dual_covd > 0 THEN 1 ELSE 0 END AS dual_flag
FROM merged
"""


# ---------------------------------------------------------------------------
# Medicaid housing status (load_stage.mcaid_housing_status.R:43-123) on
# synthetic month/dx frames from customer + orders
# ---------------------------------------------------------------------------

def q_housing_status(spark, sf_dir):
    """Address + Z59 z-code housing signals per eligibility month with
    the multi-signal override fused into one aggregation."""
    from claims_data_spark.tables.housing import build_housing_status

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    ck = F.col("c_custkey")
    month1 = c.select(
        ck.alias("id_mcaid"),
        F.lit("1995-03-01").cast("date").alias("from_date"),
        F.lit("1995-03-31").cast("date").alias("to_date"),
        F.when(ck % 5 == 0, F.lit("HOMELESS SHELTER"))
        .otherwise(F.col("c_name")).alias("geo_add1"),
        F.when(ck % 11 == 0, F.lit("homeless camp")).alias("geo_add2"),
    )
    month2 = c.select(
        ck.alias("id_mcaid"),
        F.lit("1995-04-01").cast("date").alias("from_date"),
        F.lit("1995-04-30").cast("date").alias("to_date"),
        F.col("c_name").alias("geo_add1"),
        F.lit(None).cast("string").alias("geo_add2"),
    )
    dx = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderdate").cast("date").alias("first_service_date"),
        F.element_at(
            F.array(
                F.lit("Z5900"), F.lit("Z5910"), F.lit("Z5901"),
                F.lit("Z59811"), F.lit("I10"),
            ),
            (F.col("o_orderkey") % 5 + 1).cast("int"),
        ).alias("icdcm_norm"),
    )
    out = build_housing_status(month1.unionByName(month2), dx)
    return out.select(
        F.col("id_mcaid").cast("long").alias("id_mcaid"),
        _ds("from_date").alias("from_date"),
        _ds("to_date").alias("to_date"),
        "housing_status", "housing_status_source",
    )


SQL_HOUSING_STATUS = """
WITH months AS (
  SELECT c_custkey AS id, DATE '1995-03-01' AS from_date,
    DATE '1995-03-31' AS to_date,
    CASE WHEN c_custkey % 5 = 0 THEN 'HOMELESS SHELTER'
         ELSE c_name END AS geo_add1,
    CASE WHEN c_custkey % 11 = 0 THEN 'homeless camp' END AS geo_add2
  FROM customer
  UNION ALL
  SELECT c_custkey, DATE '1995-04-01', DATE '1995-04-30', c_name, NULL
  FROM customer
),
dx AS (
  SELECT o_custkey AS id, CAST(o_orderdate AS DATE) AS fsd,
    (ARRAY['Z5900','Z5910','Z5901','Z59811','I10'])
      [CAST(o_orderkey % 5 AS INT) + 1] AS icdcm_norm
  FROM orders
),
zcodes AS (
  SELECT id, fsd,
    CASE WHEN icdcm_norm IN ('Z590','Z5900','Z5901','Z5902')
         THEN 'homeless' ELSE 'unstably housed' END AS zcode_status
  FROM dx
  WHERE icdcm_norm IN ('Z590','Z5900','Z5901','Z5902','Z591','Z5910','Z5919')
     OR icdcm_norm LIKE 'Z5981%'
),
joined AS (
  SELECT m.id, m.from_date, m.to_date,
    CASE WHEN UPPER(COALESCE(m.geo_add1, '')) LIKE '%HOMELESS%'
          OR UPPER(COALESCE(m.geo_add2, '')) LIKE '%HOMELESS%'
         THEN 1 ELSE 0 END AS is_homeless_addr,
    z.zcode_status
  FROM months m LEFT JOIN zcodes z
    ON m.id = z.id AND z.fsd BETWEEN m.from_date AND m.to_date
),
flagged AS (
  SELECT id, from_date, to_date,
    COALESCE(zcode_status,
      CASE WHEN is_homeless_addr = 1 THEN 'homeless' END) AS housing_status,
    CASE WHEN is_homeless_addr = 1 AND zcode_status IS NOT NULL
         THEN 'multiple'
         WHEN is_homeless_addr = 1 THEN 'homeless_address'
         ELSE 'z_codes' END AS housing_status_source
  FROM joined
  WHERE is_homeless_addr = 1 OR zcode_status IS NOT NULL
)
SELECT CAST(id AS BIGINT) AS id_mcaid,
  CAST(from_date AS VARCHAR) AS from_date,
  CAST(to_date AS VARCHAR) AS to_date,
  CASE WHEN COUNT(DISTINCT housing_status) > 1 THEN 'homeless'
       ELSE MAX(housing_status) END AS housing_status,
  CASE WHEN COUNT(DISTINCT housing_status_source) > 1 THEN 'multiple'
       ELSE MAX(housing_status_source) END AS housing_status_source
FROM flagged
GROUP BY id, from_date, to_date
"""


def q_address_clean(spark, sf_dir):
    """ref.address_clean load: blank normalization, external-cleaner
    merge with manual-correction precedence, SHA-256 hash keys
    (tables/address.build_address_clean)."""
    from claims_data_spark.tables.address import build_address_clean

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    ck = F.col("c_custkey")
    raw = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        ck.alias("ck"),
        F.upper(F.concat(F.col("c_name"), F.lit(" ST"))).alias("geo_add1_raw"),
        F.when(ck % 7 == 0, F.concat(F.lit("APT "), (ck % 50).cast("string")))
        .when(ck % 13 == 0, F.lit("NA"))
        .alias("geo_add2_raw"),
        F.col("n_name").alias("geo_city_raw"),
        F.when(ck % 17 == 0, F.lit("")).otherwise(F.lit("WA")).alias(
            "geo_state_raw"
        ),
        F.lpad((ck % 89999 + 10000).cast("string"), 5, "0").alias(
            "geo_zip_raw"
        ),
    )
    norm2 = F.when(
        ~F.coalesce(F.col("geo_add2_raw"), F.lit("")).isin("", "NA"),
        F.col("geo_add2_raw"),
    )
    norm_st = F.when(F.col("geo_state_raw") != "", F.col("geo_state_raw"))
    cleaned = raw.filter(F.col("ck") % 3 == 0).select(
        F.col("geo_add1_raw").alias("old_add1"),
        norm2.alias("old_add2"),
        F.col("geo_city_raw").alias("old_city"),
        norm_st.alias("old_state"),
        F.col("geo_zip_raw").alias("old_zip"),
        F.concat(F.lit("C/"), F.col("geo_add1_raw")).alias("add1"),
        norm2.alias("add2"),
        F.col("geo_city_raw").alias("city"),
        F.lit("WA").alias("state"),
        F.col("geo_zip_raw").alias("zip"),
        (F.length("geo_add1_raw") % 2).cast("int").alias("po_box"),
    )
    manual = raw.filter(F.col("ck") % 5 == 0).select(
        "geo_add1_raw",
        norm2.alias("geo_add2_raw"),
        "geo_city_raw",
        norm_st.alias("geo_state_raw"),
        "geo_zip_raw",
        F.concat(F.lit("M/"), F.col("geo_add1_raw")).alias("geo_add1_clean"),
        F.lit(None).cast("string").alias("geo_add2_clean"),
        F.col("geo_city_raw").alias("geo_city_clean"),
        F.lit("WA").alias("geo_state_clean"),
        F.col("geo_zip_raw").alias("geo_zip_clean"),
    )
    out = build_address_clean(raw.drop("ck"), cleaned, manual)
    return out.select(
        "geo_add1_raw", "geo_add2_raw", "geo_city_raw", "geo_state_raw",
        "geo_zip_raw", "geo_add1_clean", "geo_add2_clean", "geo_city_clean",
        "geo_state_clean", "geo_zip_clean",
        F.col("geo_po_box").cast("int").alias("geo_po_box"),
        F.col("overridden").cast("int").alias("overridden"),
        "geo_hash_raw", "geo_hash_clean", "geo_hash_geocode",
    )


SQL_ADDRESS_CLEAN = """
WITH raw0 AS (
  SELECT c_custkey AS ck,
    UPPER(c_name || ' ST') AS a1,
    CASE WHEN c_custkey % 7 = 0 THEN 'APT ' || CAST(c_custkey % 50 AS VARCHAR)
         WHEN c_custkey % 13 = 0 THEN 'NA' END AS a2,
    n_name AS city,
    CASE WHEN c_custkey % 17 = 0 THEN '' ELSE 'WA' END AS st,
    LPAD(CAST(c_custkey % 89999 + 10000 AS VARCHAR), 5, '0') AS zip
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
raw_norm AS (
  SELECT DISTINCT a1, NULLIF(NULLIF(a2, ''), 'NA') AS a2, city,
    NULLIF(st, '') AS st, zip
  FROM raw0
),
cleaned AS (
  SELECT DISTINCT a1 AS old_add1, NULLIF(NULLIF(a2, ''), 'NA') AS old_add2,
    city AS old_city, NULLIF(st, '') AS old_state, zip AS old_zip,
    'C/' || a1 AS add1, NULLIF(NULLIF(a2, ''), 'NA') AS add2,
    city AS c_city, 'WA' AS c_state, zip AS c_zip,
    CAST(LENGTH(a1) % 2 AS INT) AS po_box
  FROM raw0 WHERE ck % 3 = 0
),
manual AS (
  SELECT DISTINCT a1, NULLIF(NULLIF(a2, ''), 'NA') AS a2, city,
    NULLIF(st, '') AS st, zip,
    'M/' || a1 AS m_add1, CAST(NULL AS VARCHAR) AS m_add2,
    city AS m_city, 'WA' AS m_state, zip AS m_zip
  FROM raw0 WHERE ck % 5 = 0
),
merged AS (
  SELECT r.a1 AS geo_add1_raw, r.a2 AS geo_add2_raw, r.city AS geo_city_raw,
    r.st AS geo_state_raw, r.zip AS geo_zip_raw,
    CASE WHEN m.m_add1 IS NOT NULL OR m.m_city IS NOT NULL
         THEN m.m_add1 ELSE c.add1 END AS geo_add1_clean,
    CASE WHEN m.m_add1 IS NOT NULL OR m.m_city IS NOT NULL
         THEN m.m_add2 ELSE c.add2 END AS geo_add2_clean,
    CASE WHEN m.m_add1 IS NOT NULL OR m.m_city IS NOT NULL
         THEN m.m_city ELSE c.c_city END AS geo_city_clean,
    CASE WHEN m.m_add1 IS NOT NULL OR m.m_city IS NOT NULL
         THEN m.m_state ELSE c.c_state END AS geo_state_clean,
    CASE WHEN m.m_add1 IS NOT NULL OR m.m_city IS NOT NULL
         THEN m.m_zip ELSE c.c_zip END AS geo_zip_clean,
    c.po_box AS geo_po_box,
    CASE WHEN m.m_add1 IS NOT NULL OR m.m_city IS NOT NULL
         THEN 1 ELSE 0 END AS overridden
  FROM raw_norm r
  LEFT JOIN cleaned c
    ON r.a1 IS NOT DISTINCT FROM c.old_add1
   AND r.a2 IS NOT DISTINCT FROM c.old_add2
   AND r.city IS NOT DISTINCT FROM c.old_city
   AND r.st IS NOT DISTINCT FROM c.old_state
   AND r.zip IS NOT DISTINCT FROM c.old_zip
  LEFT JOIN manual m
    ON r.a1 IS NOT DISTINCT FROM m.a1
   AND r.a2 IS NOT DISTINCT FROM m.a2
   AND r.city IS NOT DISTINCT FROM m.city
   AND r.st IS NOT DISTINCT FROM m.st
   AND r.zip IS NOT DISTINCT FROM m.zip
)
SELECT DISTINCT geo_add1_raw, geo_add2_raw, geo_city_raw, geo_state_raw,
  geo_zip_raw, geo_add1_clean, geo_add2_clean, geo_city_clean,
  geo_state_clean, geo_zip_clean, geo_po_box, overridden,
  UPPER(sha256(CONCAT_WS('|', COALESCE(geo_add1_raw, ''),
    COALESCE(geo_add2_raw, ''), '', COALESCE(geo_city_raw, ''),
    COALESCE(geo_state_raw, ''), COALESCE(geo_zip_raw, ''))))
    AS geo_hash_raw,
  UPPER(sha256(CONCAT_WS('|', COALESCE(geo_add1_clean, ''),
    COALESCE(geo_add2_clean, ''), COALESCE(geo_city_clean, ''),
    COALESCE(geo_state_clean, ''), COALESCE(geo_zip_clean, ''))))
    AS geo_hash_clean,
  UPPER(sha256(CONCAT_WS('|', COALESCE(geo_add1_clean, ''),
    COALESCE(geo_city_clean, ''), COALESCE(geo_state_clean, ''),
    COALESCE(geo_zip_clean, '')))) AS geo_hash_geocode
FROM merged
"""


def q_spatial_pip(spark, sf_dir):
    """Point-in-polygon join (grid-cell blocked ray casting) of
    customer points against per-nation diamond polygons; the L1-ball
    identity |x-cx|+|y-cy| < r makes the ray-cast result
    SQL-checkable (operators/spatial.point_in_polygon_join)."""
    from claims_data_spark.operators.spatial import point_in_polygon_join

    R = 3.47
    n = _t(spark, sf_dir, "nation")
    cx = (F.col("n_nationkey") * 7.0).cast("double")
    cy = (F.col("n_nationkey") * 3.0).cast("double")
    polys = n.select(
        F.col("n_nationkey").cast("int").alias("region_id"),
        F.array(
            F.struct(cx.alias("x"), (cy + R).alias("y")),
            F.struct((cx + R).alias("x"), cy.alias("y")),
            F.struct(cx.alias("x"), (cy - R).alias("y")),
            F.struct((cx - R).alias("x"), cy.alias("y")),
        ).alias("vertices"),
    )
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        (F.col("c_custkey") % 180).cast("double").alias("geo_x"),
        (F.col("c_custkey") % 77).cast("double").alias("geo_y"),
    )
    hits = point_in_polygon_join(pts, polys, cell_size=8.0)
    return hits.groupBy("region_id").agg(
        F.count("*").cast("long").alias("n_pts"),
        F.sum("ck").cast("long").alias("sum_key"),
    )


SQL_SPATIAL_PIP = """
SELECT CAST(n_nationkey AS INT) AS region_id,
  CAST(COUNT(*) AS BIGINT) AS n_pts,
  CAST(SUM(c_custkey) AS BIGINT) AS sum_key
FROM customer, nation
WHERE ABS(CAST(c_custkey % 180 AS DOUBLE) - n_nationkey * 7.0)
    + ABS(CAST(c_custkey % 77 AS DOUBLE) - n_nationkey * 3.0) < 3.47
GROUP BY n_nationkey
"""


def q_lcs_match(spark, sf_dir):
    """Longest-common-substring fuzzy match (the reference's
    dbo.LongestCommonSubstring broad-use function) between phone and
    address prefixes — Arrow-batched DP, tiebreak length DESC then
    position-in-first then position-in-second."""
    from claims_data_spark.functions.strings import longest_common_substring

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.substring("c_name", 10, 9).alias("a"),
        (F.col("c_custkey") * 37).cast("string").alias("b"),
    )
    out = c.select(
        "id", longest_common_substring("a", "b").alias("lcs")
    ).filter(F.col("lcs").isNotNull() & F.col("lcs.match_length").isNotNull())
    return out.select(
        "id",
        F.col("lcs.match_length").alias("match_length"),
        F.col("lcs.first_char_in_match").alias("first_char_in_match"),
        F.col("lcs.first_char_in_string").alias("first_char_in_string"),
        F.col("lcs.common_string").alias("common_string"),
    )


SQL_LCS_MATCH = """
WITH s AS (
  SELECT c_custkey AS id, substr(c_name, 10, 9) AS a,
         CAST(c_custkey * 37 AS VARCHAR) AS b
  FROM customer
), windows AS (
  SELECT s.id, L.L, i.i, j.j, substr(s.a, i.i, L.L) AS cs
  FROM s
  CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS L) L
  CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) i
  CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS j) j
  WHERE i.i + L.L - 1 <= len(s.a) AND j.j + L.L - 1 <= len(s.b)
    AND substr(s.a, i.i, L.L) = substr(s.b, j.j, L.L)
), best AS (
  SELECT id, L AS match_length, i AS first_char_in_match,
         j AS first_char_in_string, cs AS common_string,
         row_number() OVER (PARTITION BY id ORDER BY L DESC, i, j) AS rn
  FROM windows
)
SELECT id, match_length, first_char_in_match, first_char_in_string,
       common_string
FROM best WHERE rn = 1
"""


def _perf_member_month(spark, sf_dir):
    """Deterministic member-month panel for the measure-registry
    oracles: customer × months 199401-199512 with formula flags (the
    same arithmetic appears verbatim in the DuckDB SQL)."""
    from claims_data_spark.operators.rolling import month_grid

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id_mcaid"))
    months = month_grid(spark, 199401, 199612)
    k, ym = F.col("id_mcaid"), F.col("year_month")
    return c.crossJoin(F.broadcast(months)).select(
        "id_mcaid",
        "year_month",
        ((k + ym) % 17 != 0).cast("int").alias("enrolled_any"),
        (k % 7 != 0).cast("int").alias("full_benefit"),
        (k % 11 == 0).cast("int").alias("dual"),
        F.lit(0).alias("tpl"),
        ((k + ym) % 53 == 0).cast("int").alias("hospice"),
        F.date_add(
            F.lit("1930-01-01").cast("date"), ((k * 97) % 22000).cast("int")
        ).alias("dob"),
    )


def q_perf_measure_ed(spark, sf_dir):
    """All-Cause ED Visits slice through the full registry stack:
    member-month → enroll_denom frames → monthly staging → final
    measure (sp_perf_measures.sql:53-144)."""
    from claims_data_spark.tables.perf_registry import (
        build_enroll_denom_full,
        perf_measure_month,
        perf_staging_month,
        ref_age_grp,
        ref_perf_measure,
    )

    mm = _perf_member_month(spark, sf_dir)
    den = build_enroll_denom_full(mm, 199401, 199612, already_dense=True)
    o = _t(spark, sf_dir, "orders")
    ed = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        date_to_yyyymm(F.col("o_orderdate").cast("date")).alias("year_month"),
    )
    staging = perf_staging_month(ed, measure_id=1)
    out = perf_measure_month(
        staging, den, ref_perf_measure(spark), ref_age_grp(spark), 199512, "ED"
    )
    return out.select(
        "beg_year_month", "end_year_month", "id_mcaid", "end_month_age",
        "age_grp", "measure_id", "denominator", "numerator",
    )


SQL_PERF_MEASURE_ED = """
WITH months AS (
  SELECT CAST(strftime(m, '%Y%m') AS INT) AS ym
  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-12-01', INTERVAL 1 MONTH)) AS m)
), crit AS (
  SELECT c_custkey AS id_mcaid,
    SUM(CASE WHEN (c_custkey + ym) % 17 <> 0 AND c_custkey % 7 <> 0
              AND c_custkey % 11 <> 0 THEN 1 ELSE 0 END) AS fc12,
    SUM(CASE WHEN (c_custkey + ym) % 53 = 0 THEN 1 ELSE 0 END) AS h12
  FROM customer CROSS JOIN months
  GROUP BY 1
), dobs AS (
  SELECT c_custkey AS id_mcaid,
    DATE '1930-01-01' + CAST((c_custkey * 97) % 22000 AS INT) AS dob
  FROM customer
), num AS (
  SELECT o_custkey AS id_mcaid, COUNT(*) AS n
  FROM orders
  WHERE CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m') AS INT) BETWEEN 199501 AND 199512
  GROUP BY 1
), aged AS (
  SELECT c.id_mcaid, c.fc12, c.h12, COALESCE(num.n, 0) AS n,
    -- birthday-carry age formula; asof Dec 31 never carries
    CAST(1995 - year(d.dob) AS INT) AS end_month_age
  FROM crit c JOIN dobs d USING (id_mcaid) LEFT JOIN num USING (id_mcaid)
)
SELECT 199501 AS beg_year_month, 199512 AS end_year_month, id_mcaid,
  end_month_age,
  CASE WHEN end_month_age BETWEEN 0 AND 17 THEN 'Age 0-17'
       WHEN end_month_age BETWEEN 18 AND 64 THEN 'Age 18-64'
       WHEN end_month_age >= 65 THEN 'Age 65+' END AS age_grp,
  1 AS measure_id,
  CAST(fc12 AS BIGINT) AS denominator,
  CAST(n AS BIGINT) AS numerator
FROM aged
WHERE end_month_age >= 0 AND fc12 >= 7 AND h12 = 0
"""


def q_perf_measure_fua(spark, sf_dir):
    """FUA-30 event-date slice: coverage at the event month, the
    first-of-31-day-month waiver, the 30-day year-end cutoff, and the
    11/12-month residency proxy (sp_perf_measures.sql:242-404)."""
    from claims_data_spark.tables.perf_registry import (
        build_enroll_denom_full,
        perf_measure_event,
        perf_staging_event_date,
        ref_age_grp,
        ref_perf_measure,
    )

    mm = _perf_member_month(spark, sf_dir)
    den = build_enroll_denom_full(mm, 199401, 199612, already_dense=True)
    o = _t(spark, sf_dir, "orders")
    ev = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderdate").cast("date").alias("event_date"),
        (F.col("o_orderkey") % 6 == 0).cast("int").alias("followed_up"),
    )
    staging = perf_staging_event_date(ev, measure_id=4, numerator_col="followed_up")
    out = perf_measure_event(
        staging, den, ref_perf_measure(spark), ref_age_grp(spark), 199512, "FUA_30"
    )
    return out.select(
        "beg_year_month", "end_year_month", "id_mcaid", "end_month_age",
        "age_grp", "measure_id", "denominator", "numerator",
    )


SQL_PERF_MEASURE_FUA = """
WITH months AS (
  SELECT CAST(strftime(m, '%Y%m') AS INT) AS ym
  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-12-01', INTERVAL 1 MONTH)) AS m)
), resident AS (
  SELECT c_custkey AS id_mcaid
  FROM customer CROSS JOIN months
  GROUP BY 1
  HAVING SUM(CASE WHEN (c_custkey + ym) % 17 <> 0 THEN 1 ELSE 0 END) >= 11
), dobs AS (
  SELECT c_custkey AS id_mcaid,
    DATE '1930-01-01' + CAST((c_custkey * 97) % 22000 AS INT) AS dob
  FROM customer
), ev AS (
  SELECT o_custkey AS id_mcaid, CAST(o_orderdate AS DATE) AS event_date,
    CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END AS followed_up,
    CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m') AS INT) AS ym,
    CAST(strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y%m') AS INT) AS ym_next
  FROM orders
  WHERE o_orderkey % 3 = 0
    AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    AND CAST(o_orderdate AS DATE) <= DATE '1995-12-31' - 30
), qual AS (
  SELECT e.id_mcaid, e.event_date, e.followed_up,
    -- birthday-carry age formula (matches perf_registry.age_birthday;
    -- duckdb age() clamps Feb-29 dobs differently)
    CAST(year(e.event_date) - year(d.dob)
      - CASE WHEN (month(e.event_date), day(e.event_date))
              < (month(d.dob), day(d.dob)) THEN 1 ELSE 0 END AS INT) AS event_age
  FROM ev e
  JOIN dobs d USING (id_mcaid)
  JOIN resident r USING (id_mcaid)
  WHERE
    -- full_criteria + no hospice at the event month
    (e.id_mcaid + e.ym) % 17 <> 0 AND e.id_mcaid % 7 <> 0 AND e.id_mcaid % 11 <> 0
    AND (e.id_mcaid + e.ym) % 53 <> 0
    AND (
      (day(e.event_date) = 1 AND month(e.event_date) IN (1, 3, 5, 7, 8, 10, 12))
      OR (
        (e.id_mcaid + e.ym_next) % 17 <> 0 AND (e.id_mcaid + e.ym_next) % 53 <> 0
      )
    )
)
SELECT 199501 AS beg_year_month, 199512 AS end_year_month, id_mcaid,
  MAX(event_age) AS end_month_age,
  CASE WHEN MAX(event_age) >= 13 THEN 'Age 13+' END AS age_grp,
  4 AS measure_id,
  CAST(COUNT(*) AS BIGINT) AS denominator,
  CAST(SUM(followed_up) AS BIGINT) AS numerator
FROM qual
WHERE event_age >= 13
GROUP BY id_mcaid
"""


_AMR_VALUE_SETS = [
    ("Asthma", "J4521", "ICD10CM"),
    ("Outpatient", "99213", "CPT"),
    ("COPD", "J449", "ICD10CM"),
]
_AMR_MED_LIST = [
    ("Asthma Controller Medications", "11111", "NDC", "fluticasone",
     "inhalation", "Inhaled steroid", 1.0),
    ("Asthma Controller Medications", "22222", "NDC", "montelukast",
     "oral", "Leukotriene modifiers", 1.0),
    ("Asthma Reliever Medications", "33333", "NDC", "albuterol",
     "inhalation", "SABA", 1.0),
    ("Asthma Controller Medications", "44444", "NDC", "omalizumab",
     "subcutaneous", "Antibody inhibitor", 2.0),
]


def q_amr_measure(spark, sf_dir):
    """Full AMR slice (load_stage.mcaid_perf_measure_amr.R): four
    inclusion pathways, prior-year persistence, COPD exclusion, and
    the controller/total unit ratio, measurement year 1995."""
    from claims_data_spark.tables.amr import amr_measure
    from claims_data_spark.tables.perf_registry import build_enroll_denom_full

    mm = _perf_member_month(spark, sf_dir)
    den = build_enroll_denom_full(mm, 199401, 199612, already_dense=True)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("o_orderdate").cast("date")
    header = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        d.alias("first_service_date"),
        (F.col("o_orderkey") % 4 == 0).cast("int").alias("ed_perform"),
        (F.col("o_orderkey") % 4 == 1).cast("int").alias("inpatient"),
    )
    icdcm = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        F.when(F.col("o_orderkey") % 97 == 0, "J449")
        .when(F.col("o_orderkey") % 3 == 0, "J4521")
        .otherwise("Z000").alias("icdcm_norm"),
        F.lit(10).alias("icdcm_version"),
        F.when(F.col("o_orderkey") % 2 == 0, "01").otherwise("02")
        .alias("icdcm_number"),
    )
    px = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("l_orderkey").alias("claim_header_id"),
        F.when(F.col("l_suppkey") % 3 == 0, "99213").otherwise("87070")
        .alias("procedure_code"),
    )
    pharm = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.element_at(
            F.array(F.lit("11111"), F.lit("22222"), F.lit("33333"),
                    F.lit("44444"), F.lit("99999")),
            (F.col("l_partkey") % 5 + 1).cast("int"),
        ).alias("ndc"),
        F.col("l_shipdate").cast("date").alias("rx_fill_date"),
        (F.col("l_quantity") % 45 + 1).cast("double").alias("rx_days_supply"),
        (F.col("l_linenumber")).cast("double").alias("rx_quantity"),
    )
    vs = spark.createDataFrame(
        _AMR_VALUE_SETS, "value_set_name string, code string, code_system string"
    )
    ml = spark.createDataFrame(
        _AMR_MED_LIST,
        "medication_list_name string, code string, code_system string,"
        " generic_product_name string, route string, drug_class string,"
        " package_size double",
    )
    out = amr_measure(
        den, header, icdcm, px, pharm, vs, ml, "1996-12-31"
    )
    return out.select(
        "beg_year_month", "end_year_month", "id_mcaid", "end_month_age",
        "measure_id", "denominator", "numerator",
    )


SQL_AMR_MEASURE = """
WITH hdr AS (
  SELECT o_custkey AS id, o_orderkey AS clm, CAST(o_orderdate AS DATE) AS fsd,
    CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END AS ed,
    CASE WHEN o_orderkey % 4 = 1 THEN 1 ELSE 0 END AS ipt,
    CASE WHEN o_orderkey % 97 = 0 THEN 'J449'
         WHEN o_orderkey % 3 = 0 THEN 'J4521' ELSE 'Z000' END AS dx,
    CASE WHEN o_orderkey % 2 = 0 THEN '01' ELSE '02' END AS dxnum
  FROM orders
), pharm AS (
  SELECT o.o_custkey AS id,
    ['11111','22222','33333','44444','99999'][CAST(l.l_partkey % 5 AS INT) + 1] AS ndc,
    CAST(l.l_shipdate AS DATE) AS fill_date,
    CAST(l.l_quantity % 45 + 1 AS DOUBLE) AS days_supply,
    CAST(l.l_linenumber AS DOUBLE) AS qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), med AS (
  SELECT * FROM (VALUES
    ('Asthma Controller Medications', '11111', 'fluticasone', 'inhalation', 'Inhaled steroid', 1.0),
    ('Asthma Controller Medications', '22222', 'montelukast', 'oral', 'Leukotriene modifiers', 1.0),
    ('Asthma Reliever Medications', '33333', 'albuterol', 'inhalation', 'SABA', 1.0),
    ('Asthma Controller Medications', '44444', 'omalizumab', 'subcutaneous', 'Antibody inhibitor', 2.0)
  ) AS t(list_name, ndc, generic, route, drug_class, package_size)
), years AS (
  SELECT DATE '1996-12-31' AS y_end, DATE '1996-01-01' AS y_start UNION ALL
  SELECT DATE '1995-12-31', DATE '1995-01-01'
), ed_inpat AS (
  SELECT y.y_end, h.id, SUM(h.ed) AS ed_cnt, SUM(h.ipt) AS inpat_cnt
  FROM hdr h CROSS JOIN years y
  WHERE (h.ed = 1 OR h.ipt = 1) AND h.dx = 'J4521' AND h.dxnum = '01'
    AND h.fsd BETWEEN y.y_start AND y.y_end
  GROUP BY 1, 2
), outpat AS (
  SELECT y.y_end, h.id, COUNT(DISTINCT h.fsd) AS outpat_cnt
  FROM hdr h CROSS JOIN years y
  JOIN lineitem l ON l.l_orderkey = h.clm AND l.l_suppkey % 3 = 0
  WHERE h.dx = 'J4521' AND h.fsd BETWEEN y.y_start AND y.y_end
  GROUP BY 1, 2
), rx_long AS (
  SELECT y.y_end, p.id, p.fill_date,
    CASE WHEN SUM(p.days_supply) <= 30 THEN 1
         ELSE CAST(FLOOR(SUM(p.days_supply) / 30) AS BIGINT) END AS events,
    (m.drug_class = 'Leukotriene modifiers') AS needs_dx
  FROM pharm p JOIN med m USING (ndc) CROSS JOIN years y
  WHERE m.route = 'oral' AND p.fill_date BETWEEN y.y_start AND y.y_end
  GROUP BY y.y_end, p.id, p.fill_date, m.generic, m.drug_class
  UNION ALL
  SELECT y.y_end, p.id, p.fill_date,
    COUNT(DISTINCT m.generic), FALSE
  FROM pharm p JOIN med m USING (ndc) CROSS JOIN years y
  WHERE m.route = 'inhalation' AND p.fill_date BETWEEN y.y_start AND y.y_end
  GROUP BY y.y_end, p.id, p.fill_date
  UNION ALL
  SELECT y.y_end, p.id, p.fill_date,
    COUNT(DISTINCT p.ndc), (m.drug_class = 'Antibody inhibitor')
  FROM pharm p JOIN med m USING (ndc) CROSS JOIN years y
  WHERE m.route IN ('intravenous', 'subcutaneous')
    AND p.fill_date BETWEEN y.y_start AND y.y_end
  GROUP BY y.y_end, p.id, p.fill_date, (m.drug_class = 'Antibody inhibitor')
), rx AS (
  SELECT y_end, id, SUM(events) AS events_rx,
    CASE WHEN SUM(events) = SUM(CASE WHEN needs_dx THEN events ELSE 0 END)
         THEN 1 ELSE 0 END AS dx_needed
  FROM rx_long GROUP BY 1, 2
), dx_made AS (
  SELECT DISTINCT y.y_end, h.id, 1 AS dx_made
  FROM hdr h CROSS JOIN years y
  WHERE h.dx = 'J4521' AND h.fsd BETWEEN y.y_start AND y.y_end
), crit AS (
  SELECT COALESCE(e.y_end, o.y_end, r.y_end) AS y_end,
    COALESCE(e.id, o.id, r.id) AS id,
    CASE WHEN COALESCE(e.ed_cnt, 0) > 0 THEN 1 ELSE 0 END AS ed_flag,
    CASE WHEN COALESCE(e.inpat_cnt, 0) > 0 THEN 1 ELSE 0 END AS inpat_flag,
    CASE WHEN COALESCE(o.outpat_cnt, 0) > 0 AND COALESCE(r.events_rx, 0) > 2
         THEN 1 ELSE 0 END AS outpat_flag,
    CASE WHEN COALESCE(r.events_rx, 0) >= 4
          AND (COALESCE(r.dx_needed, 0) = 0 OR COALESCE(d.dx_made, 0) = 1)
         THEN 1 ELSE 0 END AS rx_flag,
    CASE WHEN COALESCE(r.events_rx, 0) > 0 THEN 1 ELSE 0 END AS rx_any
  FROM ed_inpat e
  FULL JOIN outpat o ON e.id = o.id AND e.y_end = o.y_end
  FULL JOIN rx r ON COALESCE(e.id, o.id) = r.id AND COALESCE(e.y_end, o.y_end) = r.y_end
  LEFT JOIN dx_made d ON COALESCE(e.id, o.id, r.id) = d.id
    AND COALESCE(e.y_end, o.y_end, r.y_end) = d.y_end
), any_asthma AS (
  SELECT * FROM crit
  WHERE ed_flag = 1 OR inpat_flag = 1 OR outpat_flag = 1 OR rx_flag = 1
), months AS (
  SELECT CAST(strftime(m, '%Y%m') AS INT) AS ym
  FROM (SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-12-01', INTERVAL 1 MONTH)) AS m)
), pop AS (
  SELECT c_custkey AS id,
    CAST(1996 - year(DATE '1930-01-01' + CAST((c_custkey * 97) % 22000 AS INT)) AS INT) AS age
  FROM customer CROSS JOIN months
  GROUP BY 1, 2
  HAVING SUM(CASE WHEN c_custkey % 7 <> 0 THEN 1 ELSE 0 END) >= 11
     AND SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) = 0
), excl AS (
  SELECT DISTINCT id FROM hdr
  WHERE dx = 'J449' AND fsd <= DATE '1996-12-31'
), units AS (
  SELECT id,
    SUM(CASE WHEN list_name = 'Asthma Controller Medications' THEN u END) AS meds_control,
    SUM(CASE WHEN list_name = 'Asthma Reliever Medications' THEN u END) AS meds_relief
  FROM (
    SELECT p.id, m.list_name,
      CASE WHEN m.route = 'oral' AND SUM(p.days_supply) <= 30 THEN 1
           WHEN m.route = 'oral' THEN CAST(CEIL(SUM(p.days_supply) / 30) AS BIGINT)
           WHEN m.route IN ('intravenous', 'subcutaneous')
             THEN CAST(CEIL(p.qty / m.package_size) AS BIGINT)
           WHEN m.route = 'inhalation' THEN 1 END AS u
    FROM pharm p JOIN med m USING (ndc)
    WHERE p.fill_date BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
    GROUP BY p.id, m.list_name, p.fill_date, m.route, m.generic, p.qty, m.package_size
  ) g GROUP BY id
)
SELECT 199601 AS beg_year_month, 199612 AS end_year_month,
  p.id AS id_mcaid, p.age AS end_month_age,
  19 AS measure_id, CAST(1 AS BIGINT) AS denominator,
  CAST(CASE WHEN COALESCE(
      u.meds_control / (u.meds_control + COALESCE(u.meds_relief, 0)), 0
    ) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS numerator
FROM pop p
JOIN any_asthma cur ON p.id = cur.id AND cur.y_end = DATE '1996-12-31'
JOIN (SELECT DISTINCT id FROM any_asthma WHERE y_end = DATE '1995-12-31') prior
  ON p.id = prior.id
LEFT JOIN units u ON p.id = u.id
WHERE p.age BETWEEN 5 AND 64 AND cur.rx_any = 1
  AND p.id NOT IN (SELECT id FROM excl)
"""


# ---------------------------------------------------------------------------
# Raw -> stage Medicaid eligibility load (load_stage.mcaid_elig.R:131-380):
# reason-score dedup, RAC spelling fix, geo_hash_raw, id upper-casing —
# on synthetic RAC coverage rows fanned out from orders
# ---------------------------------------------------------------------------

def q_stage_mcaid_elig(spark, sf_dir):
    from claims_data_spark.tables.stage_load import build_stage_mcaid_elig

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    k = F.col("o_orderkey")

    def proj(end_reason, rac_name):
        return o.select(
            (F.lit(201901) + (k % 3).cast("int")).cast("int").alias("CLNDR_YEAR_MNTH"),
            F.col("o_custkey").cast("string").alias("MBR_H_SID"),
            F.concat(F.lit("id"), F.col("o_custkey").cast("string")).alias(
                "MEDICAID_RECIPIENT_ID"
            ),
            F.lit("2019-01-01").cast("date").alias("RAC_FROM_DATE"),
            F.lit("2019-03-31").cast("date").alias("RAC_TO_DATE"),
            (k % 7).cast("string").alias("RAC_CODE"),
            rac_name.alias("RAC_NAME"),
            end_reason.alias("END_REASON_NAME"),
            F.lit("H").alias("HOH_ID"),
            F.lit("N").alias("DUALELIGIBLE_INDICATOR"),
            F.concat(F.lit("No. "), F.col("o_custkey").cast("string")).alias(
                "RSDNTL_ADRS_LINE_1"
            ),
            F.when(k % 3 == 0, F.lit(None).cast("string"))
            .otherwise("Apt 1")
            .alias("RSDNTL_ADRS_LINE_2"),
            F.when(k % 2 == 0, "Seattle").otherwise("Renton").alias(
                "RSDNTL_CITY_NAME"
            ),
            F.lit("WA").alias("RSDNTL_STATE_CODE"),
            F.concat(F.lit("9810"), (k % 4).cast("string")).alias(
                "RSDNTL_POSTAL_CODE"
            ),
        )

    base_name = F.concat(F.lit("RAC "), (k % 7).cast("string"))
    raw = (
        proj(F.lit(None).cast("string"), base_name)  # score 1 rows
        .unionByName(
            # higher-score duplicates for every 5th key: must win dedup
            proj(F.lit("Moved out of state"), base_name).filter(k % 5 == 0)
        )
        .unionByName(
            # misspelled-RAC duplicates for every 11th key: must collapse
            proj(
                F.lit(None).cast("string"),
                F.lit("Involuntary Inpatient Psychiactric Treatment (ITA)"),
            ).filter(k % 11 == 0)
        )
    )
    out = build_stage_mcaid_elig(raw)
    return out.select(
        F.col("MEDICAID_RECIPIENT_ID").alias("id"),
        F.col("CLNDR_YEAR_MNTH").alias("year_month"),
        F.col("MBR_H_SID").alias("mbr_h_sid"),
        F.col("RAC_CODE").alias("rac_code"),
        F.col("RAC_NAME").alias("rac_name"),
        F.col("END_REASON_NAME").alias("end_reason"),
        F.col("geo_hash_raw").alias("geo_hash"),
    )


SQL_STAGE_MCAID_ELIG = """
WITH raw AS (
  SELECT 201901 + CAST(o_orderkey % 3 AS INT) AS year_month,
    CAST(o_custkey AS VARCHAR) AS mbr_h_sid,
    'id' || CAST(o_custkey AS VARCHAR) AS id_raw,
    CAST(o_orderkey % 7 AS VARCHAR) AS rac_code,
    'RAC ' || CAST(o_orderkey % 7 AS VARCHAR) AS rac_name,
    CAST(NULL AS VARCHAR) AS end_reason,
    'No. ' || CAST(o_custkey AS VARCHAR) AS line1,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'Apt 1' END AS line2,
    CASE WHEN o_orderkey % 2 = 0 THEN 'Seattle' ELSE 'Renton' END AS city,
    '9810' || CAST(o_orderkey % 4 AS VARCHAR) AS zip
  FROM orders
  UNION ALL
  SELECT 201901 + CAST(o_orderkey % 3 AS INT), CAST(o_custkey AS VARCHAR),
    'id' || CAST(o_custkey AS VARCHAR), CAST(o_orderkey % 7 AS VARCHAR),
    'RAC ' || CAST(o_orderkey % 7 AS VARCHAR), 'Moved out of state',
    'No. ' || CAST(o_custkey AS VARCHAR),
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'Apt 1' END,
    CASE WHEN o_orderkey % 2 = 0 THEN 'Seattle' ELSE 'Renton' END,
    '9810' || CAST(o_orderkey % 4 AS VARCHAR)
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT 201901 + CAST(o_orderkey % 3 AS INT), CAST(o_custkey AS VARCHAR),
    'id' || CAST(o_custkey AS VARCHAR), CAST(o_orderkey % 7 AS VARCHAR),
    'Involuntary Inpatient Psychiactric Treatment (ITA)',
    CAST(NULL AS VARCHAR),
    'No. ' || CAST(o_custkey AS VARCHAR),
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'Apt 1' END,
    CASE WHEN o_orderkey % 2 = 0 THEN 'Seattle' ELSE 'Renton' END,
    '9810' || CAST(o_orderkey % 4 AS VARCHAR)
  FROM orders WHERE o_orderkey % 11 = 0
),
fixed AS (
  SELECT year_month, mbr_h_sid, id_raw, rac_code,
    CASE WHEN rac_name = 'Involuntary Inpatient Psychiactric Treatment (ITA)'
         THEN 'Involuntary Inpatient Psychiatric Treatment (ITA)'
         ELSE rac_name END AS rac_name,
    end_reason, line1, line2, city, zip,
    CASE WHEN end_reason IS NULL THEN 1
         WHEN end_reason = 'Other' THEN 2
         WHEN end_reason = 'Other - For User Generation Only' THEN 3
         WHEN end_reason = 'Review Not Complete' THEN 4
         WHEN end_reason = 'No Eligible Household Members' THEN 5
         WHEN end_reason = 'Already Eligible for Program in Different AU' THEN 6
         ELSE 7 END AS score
  FROM raw
),
dedup AS (
  SELECT DISTINCT year_month, mbr_h_sid, id_raw, rac_code, rac_name,
    end_reason, line1, line2, city, zip
  FROM (
    SELECT *, MAX(score) OVER (
      PARTITION BY year_month, mbr_h_sid, id_raw, rac_code) AS mx
    FROM fixed
  ) s WHERE score = mx
)
SELECT UPPER(id_raw) AS id, year_month, mbr_h_sid, rac_code, rac_name,
  end_reason,
  sha256(UPPER(CONCAT(line1, '|', COALESCE(line2, ''), '|', '|', city,
                      '|', 'WA', '|', zip))) AS geo_hash
FROM dedup
"""


# ---------------------------------------------------------------------------
# ref.mcaid_demo_summary (load_ref.mcaid_demo_summary.R): yearly modal
# geocode -> person-year clients -> race-folding unpivot -> suppressed
# counts with distinct-person totals — on synthetic member-months
# ---------------------------------------------------------------------------

def q_demo_summary(spark, sf_dir):
    from claims_data_spark.tables.demo_summary import build_mcaid_demo_summary

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    month = (
        c.filter(k % 7 != 0)
        .select(
            k.alias("id_mcaid"),
            F.lit(1995).alias("year"),
            F.explode(F.sequence(F.lit(1), F.lit(12))).alias("m"),
        )
        .select(
            "id_mcaid",
            "year",
            F.concat(F.lit("g"), ((F.col("id_mcaid") + F.col("m")) % 3).cast("string")).alias(
                "geo_hash_geocode"
            ),
            F.lit(1).alias("full_benefit"),
            F.lit(1).alias("geo_kc"),
        )
    )
    demo = c.select(
        k.alias("id_mcaid"),
        F.date_add(F.lit("1950-01-01").cast("date"), (k % 15000).cast("int")).alias("dob"),
        F.when(k % 3 == 0, "Female")
        .when(k % 3 == 1, "Male")
        .otherwise("Unknown")
        .alias("gender_recent"),
        F.lit("NB").alias("gender_me"),
        F.lit(0).alias("race_aian"),
        F.lit(0).alias("race_asian"),
        F.when(k % 2 == 0, 1).otherwise(0).alias("race_black"),
        F.lit(0).alias("race_latino"),
        F.lit(0).alias("race_nhpi"),
        F.when(k % 3 == 0, 1).otherwise(0).alias("race_white"),
        F.lit(0).alias("race_unk"),
    )
    geo_ref = spark.createDataFrame(
        [("g0", "d1", "98055"), ("g1", "d2", "98101")],
        "geo_hash_geocode string, geo_id20_kccdist string, geo_zip_clean string",
    )
    out = build_mcaid_demo_summary(month, demo, geo_ref, current_year=1996)
    return out.select(
        "year",
        "measure",
        "value",
        F.col("pop").cast("long").alias("pop"),
        F.col("total_pop").cast("long").alias("total_pop"),
    )


SQL_DEMO_SUMMARY = """
WITH month AS (
  SELECT c_custkey AS id, 1995 AS year,
    'g' || CAST((c_custkey + m) % 3 AS VARCHAR) AS geo
  FROM customer CROSS JOIN (SELECT UNNEST(generate_series(1, 12)) AS m)
  WHERE c_custkey % 7 <> 0
),
modal AS (
  SELECT id, year, geo FROM (
    SELECT id, year, geo,
      ROW_NUMBER() OVER (PARTITION BY id, year ORDER BY cnt DESC, geo) AS rn
    FROM (SELECT id, year, geo, COUNT(*) AS cnt FROM month GROUP BY 1, 2, 3) f
  ) r WHERE rn = 1
),
demo AS (
  SELECT c_custkey AS id,
    DATE '1950-01-01' + CAST(CAST(c_custkey % 15000 AS INT) AS BIGINT) * INTERVAL 1 DAY AS dob,
    CASE WHEN c_custkey % 3 = 0 THEN 'Female'
         WHEN c_custkey % 3 = 1 THEN 'Male' ELSE 'Unknown' END AS gender_recent,
    'NB' AS gender_me,
    CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS race_black,
    CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS race_white
  FROM customer
),
geo_ref(geo, kccdist, zip) AS (VALUES ('g0', 'd1', '98055'), ('g1', 'd2', '98101')),
clients AS (
  SELECT DISTINCT m.id, m.year,
    CASE WHEN d.gender_recent = 'Unknown' THEN d.gender_me
         ELSE d.gender_recent END AS gender,
    CASE WHEN FLOOR(((1995 - year(d.dob)) * 12 + (7 - month(d.dob))) / 12) < 18 THEN '0-17'
         WHEN FLOOR(((1995 - year(d.dob)) * 12 + (7 - month(d.dob))) / 12) BETWEEN 18 AND 24 THEN '18-24'
         WHEN FLOOR(((1995 - year(d.dob)) * 12 + (7 - month(d.dob))) / 12) BETWEEN 25 AND 34 THEN '25-34'
         WHEN FLOOR(((1995 - year(d.dob)) * 12 + (7 - month(d.dob))) / 12) BETWEEN 35 AND 44 THEN '35-44'
         WHEN FLOOR(((1995 - year(d.dob)) * 12 + (7 - month(d.dob))) / 12) BETWEEN 45 AND 54 THEN '45-54'
         WHEN FLOOR(((1995 - year(d.dob)) * 12 + (7 - month(d.dob))) / 12) BETWEEN 55 AND 64 THEN '55-64'
         ELSE '65+' END AS age_group,
    d.race_black, d.race_white, r.kccdist, r.zip
  FROM (SELECT DISTINCT id, year FROM month) m
  JOIN modal g USING (id, year)
  JOIN demo d ON m.id = d.id
  LEFT JOIN geo_ref r ON g.geo = r.geo
  WHERE d.dob <= DATE '1995-12-31'
),
long AS (
  SELECT DISTINCT id, year, measure, value FROM (
    SELECT id, year, 'gender' AS measure, gender AS value FROM clients
    UNION ALL
    SELECT id, year, 'age_group', age_group FROM clients
    UNION ALL
    SELECT id, year, 'race_aic', 'black' FROM clients WHERE race_black = 1
    UNION ALL
    SELECT id, year, 'race_aic', 'white' FROM clients WHERE race_white = 1
    UNION ALL
    SELECT id, year, 'kccdist', kccdist FROM clients
    UNION ALL
    SELECT id, year, 'zip', zip FROM clients
  ) u WHERE value IS NOT NULL AND value <> '0'
)
SELECT c.year, c.measure, c.value,
  CAST(CASE WHEN c.raw_pop BETWEEN 1 AND 10 THEN 0 ELSE c.raw_pop END AS BIGINT) AS pop,
  CAST(t.total_pop AS BIGINT) AS total_pop
FROM (
  SELECT year, measure, LOWER(value) AS value,
    COUNT(DISTINCT id) AS raw_pop
  FROM long GROUP BY 1, 2, 3
) c JOIN (
  SELECT year, measure, COUNT(DISTINCT id) AS total_pop
  FROM long GROUP BY 1, 2
) t ON c.year = t.year AND c.measure = t.measure
"""


# ---------------------------------------------------------------------------
# Connected-components dedup clustering (engine extension): alternating
# large-star/small-star over a chain-structured near-dup graph — chains
# are the adversarial case for label propagation, so converging them
# proves the multi-round algorithm, and the result is SQL-checkable via
# DuckDB's recursive reachability closure
# ---------------------------------------------------------------------------

def q_dedup_clusters(spark, sf_dir):
    from claims_data_spark.operators.graph import near_dup_clusters

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") - 1).alias("id_b"),
    )
    clustered = near_dup_clusters(docs, pairs)
    return clustered.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


SQL_DEDUP_CLUSTERS = """
WITH RECURSIVE edges AS (
  SELECT doc_id AS a, doc_id - 1 AS b FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id - 1 AS a, doc_id AS b FROM documents WHERE doc_id % 10 <> 0
),
reach AS (
  SELECT doc_id AS node, doc_id AS comp FROM documents
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(comp) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def q_comorb_scores(spark, sf_dir):
    """Comorbidity engine end-to-end (load_ref.comorb_ref_tables.sql):
    real Quan-2005 catalog expansion (543 prefix/range rules broadcast
    against the dx set), one person-id shuffle with 43 conditional flag
    aggs, weighted Charlson/Elixhauser/Gagne scores with supersession
    (complicated-diabetes over uncomplicated, metastatic over solid
    tumor). dx codes are synthesized from l_partkey onto ten real
    ICD-10 codes so the published rule data drives the matching."""
    from claims_data_spark.tables.comorb import (
        build_comorb_scores,
        compile_comorb_masks,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    codes = ["I500", "C341", "C780", "E1140", "E119",
             "J449", "F329", "I10", "X000", "N184"]
    code_col = F.element_at(
        F.array(*[F.lit(c) for c in codes]),
        (F.col("l_partkey") % 10 + 1).cast("int"),
    )
    # MERGE hint: orders is a fact (1:n with lineitem), not a
    # dimension — same ruling as the apcd_ed_episode rollup joins.
    # The static planner's broadcast build of 1.5M header rows is
    # driver-bound (~0.4 s at sf1, measured vs 0.7 s for the whole
    # sort-merge); at 100 TB broadcasting a header table is not a
    # plan at all.
    ev = li.hint("merge").join(
        o.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        F.col("o_custkey").alias("id_mcaid"),
        code_col.alias("dx"),
        F.lit(10).alias("dx_ver"),
    )
    # the dx CATALOG here is the 10 literal codes, so the value-set
    # expansion compiles driver-side (zero jobs, the reference's own
    # precomputed ref.comorb_dx_lookup pattern); the distributed
    # expansion path is exercised by tests/test_comorb.py and pinned
    # equal to this matcher. Deriving the catalog from ev would
    # re-execute the fact join inside the value-set subtree (measured:
    # the whole plan ran twice).
    masks = compile_comorb_masks([(c, 10) for c in codes])
    return build_comorb_scores(ev, None, compiled_masks=masks).select(
        "id_mcaid",
        F.col("CHF").alias("chf"),
        F.col("Metastatic").alias("metastatic"),
        "elixhauser_score", "charlson_score", "gagne_score",
    )


# Oracle re-derivation: per-code condition/weight memberships looked up
# from the published Quan tables (codes -> conditions verified against
# claims_data_spark/tables/comorb_catalog.py):
#   c=0 I500  CHF            elix 1 / charlson 1 / gagne 2
#   c=1 C341  Tumor_El(e1) + Tumor_Ch(c2,g1)   superseded by Metastatic
#   c=2 C780  Metastatic     e1 / c6 / g5
#   c=3 E1140 DiabC_El(e1,g1) + DiabC_Ch(c2)
#   c=4 E119  DiabU_El(e1,g0) + DiabU_Ch(c1)   superseded by DiabC
#   c=5 J449  COPD           e1 / c1 / g1
#   c=6 F329  Depression     e1 / g0
#   c=7 I10   HypertU(e1) + HypertAny(g-1)
#   c=8 X000  (no condition)
#   c=9 N184  RenalFail_El(e1,g2) + RenalFail_Ch(c2)
SQL_COMORB_SCORES = """
WITH ev AS (
  SELECT o.o_custkey AS id, l.l_partkey % 10 AS c
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), fl AS (
  SELECT id,
    MAX(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS f0,
    MAX(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
    MAX(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2,
    MAX(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS f3,
    MAX(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS f4,
    MAX(CASE WHEN c = 5 THEN 1 ELSE 0 END) AS f5,
    MAX(CASE WHEN c = 6 THEN 1 ELSE 0 END) AS f6,
    MAX(CASE WHEN c = 7 THEN 1 ELSE 0 END) AS f7,
    MAX(CASE WHEN c = 9 THEN 1 ELSE 0 END) AS f9
  FROM ev GROUP BY id
)
SELECT id AS id_mcaid, f0 AS chf, f2 AS metastatic,
  CAST(f0 + (CASE WHEN f1 = 1 AND f2 = 0 THEN 1 ELSE 0 END) + f2 + f3
     + (CASE WHEN f4 = 1 AND f3 = 0 THEN 1 ELSE 0 END)
     + f5 + f6 + f7 + f9 AS INT) AS elixhauser_score,
  CAST(f0 + 2 * (CASE WHEN f1 = 1 AND f2 = 0 THEN 1 ELSE 0 END) + 6 * f2
     + 2 * f3 + (CASE WHEN f4 = 1 AND f3 = 0 THEN 1 ELSE 0 END)
     + f5 + 2 * f9 AS INT) AS charlson_score,
  CAST(2 * f0 + (CASE WHEN f1 = 1 AND f2 = 0 THEN 1 ELSE 0 END) + 5 * f2
     + f3 + f5 - f7 + 2 * f9 AS INT) AS gagne_score
FROM fl
WHERE f0 + f1 + f2 + f3 + f4 + f5 + f6 + f7 + f9 > 0
"""


def q_provider_master_rank(spark, sf_dir):
    """Provider master assembly (load_ref.kc_provider_master.R): master
    extract validated/deduped (flag 1) unioned with modal-ranked
    per-claim provider attributes for new NPIs (flag 0). The engine
    melts the three attribute families into one long pass — one scan +
    three keyed exchanges instead of the reference's four rank scans
    and five joins."""
    from claims_data_spark.tables.provider import build_ref_kc_provider_master

    s = _t(spark, sf_dir, "supplier")
    ps = _t(spark, sf_dir, "lineitem")
    pm = s.where(F.col("s_suppkey") % 4 == 0).select(
        (F.lit(1000000000) + F.col("s_suppkey")).cast("long").alias("npi"),
        (F.col("s_suppkey") % 2 + 1).cast("string").alias("entity_type"),
        F.when(
            F.col("s_suppkey") % 3 == 0,
            F.lpad((F.col("s_suppkey") % 90000).cast("string"), 5, "0"),
        ).otherwise(F.lit("981")).alias("zip_physical"),
        F.when(F.col("s_suppkey") % 8 == 0, F.lit("-1"))
        .otherwise(F.format_string("2%08dX", F.col("s_suppkey") % 100))
        .alias("primary_taxonomy"),
        F.format_string("1%08dX", F.col("s_suppkey") % 50).alias("secondary_taxonomy"),
    )
    prov = ps.select(
        F.when(F.col("l_partkey") % 11 == 0, F.lit(999))
        .otherwise(F.lit(1000000000) + F.col("l_suppkey"))
        .cast("long")
        .alias("orig_npi"),
        (F.col("l_partkey") % 3).cast("string").alias("entity_type"),
        F.when(F.col("l_partkey") % 5 == 0, F.lit("9810"))
        .otherwise(F.lpad((F.col("l_partkey") % 100000).cast("string"), 5, "0"))
        .alias("zip"),
        F.when(F.col("l_partkey") % 7 == 0, F.lit("shrt"))
        .otherwise(F.format_string("2%08dX", F.col("l_partkey") % 9))
        .alias("primary_specialty_code"),
    )
    out = build_ref_kc_provider_master(pm, prov)
    return out.select(
        "npi", "entity_type", "geo_zip_practice",
        "primary_taxonomy", "secondary_taxonomy",
        F.col("apcd_provider_master_flag").alias("master_flag"),
    )


SQL_PROVIDER_MASTER_RANK = """
WITH pm AS (
  SELECT DISTINCT CAST(1000000000 + s_suppkey AS BIGINT) AS npi,
    CAST(s_suppkey % 2 + 1 AS VARCHAR) AS entity_type,
    CASE WHEN s_suppkey % 3 = 0
         THEN lpad(CAST(s_suppkey % 90000 AS VARCHAR), 5, '0') END AS geo_zip_practice,
    CASE WHEN s_suppkey % 8 = 0 THEN NULL
         ELSE printf('2%08dX', s_suppkey % 100) END AS primary_taxonomy,
    printf('1%08dX', s_suppkey % 50) AS secondary_taxonomy
  FROM supplier WHERE s_suppkey % 4 = 0
), prov AS (
  SELECT CAST(1000000000 + l_suppkey AS BIGINT) AS npi,
    CAST(l_partkey % 3 AS VARCHAR) AS entity_type,
    CASE WHEN l_partkey % 5 = 0 THEN NULL
         ELSE lpad(CAST(l_partkey % 100000 AS VARCHAR), 5, '0') END AS zip,
    CASE WHEN l_partkey % 7 = 0 THEN NULL
         ELSE printf('2%08dX', l_partkey % 9) END AS tax
  FROM lineitem WHERE l_partkey % 11 <> 0
), long AS (
  SELECT npi, 'e' AS attr, entity_type AS v FROM prov
  UNION ALL SELECT npi, 'z', zip FROM prov
  UNION ALL SELECT npi, 't', tax FROM prov
), cnt AS (
  SELECT npi, attr, v, COUNT(*) AS n FROM long
  WHERE v IS NOT NULL GROUP BY npi, attr, v
), rnk AS (
  SELECT npi, attr, v,
    CASE WHEN attr = 'e'
      THEN row_number() OVER (PARTITION BY npi, attr ORDER BY n DESC, v DESC)
      ELSE row_number() OVER (PARTITION BY npi, attr ORDER BY n DESC, v ASC)
    END AS rn
  FROM cnt
), picks AS (
  SELECT s.npi,
    MAX(CASE WHEN attr = 'e' AND rn = 1 THEN v END) AS entity_type,
    MAX(CASE WHEN attr = 'z' AND rn = 1 THEN v END) AS geo_zip_practice,
    MAX(CASE WHEN attr = 't' AND rn = 1 THEN v END) AS primary_taxonomy,
    MAX(CASE WHEN attr = 't' AND rn = 2 THEN v END) AS secondary_taxonomy
  FROM (SELECT DISTINCT npi FROM prov) s
  LEFT JOIN rnk ON s.npi = rnk.npi
  GROUP BY s.npi
)
SELECT npi, entity_type, geo_zip_practice, primary_taxonomy,
       secondary_taxonomy, 1 AS master_flag
FROM pm
UNION ALL
SELECT p.npi, p.entity_type, p.geo_zip_practice, p.primary_taxonomy,
       p.secondary_taxonomy, 0 AS master_flag
FROM picks p WHERE p.npi NOT IN (SELECT npi FROM pm)
"""


def q_ndc_normalize(spark, sf_dir):
    """FDA NDC 10->11 digit billing normalization
    (load_ref.ndc_codes.R:79-87): dashed 4-4-2 / 5-3-2 / 5-4-1 package
    codes pad the labeler / product / package segment respectively;
    unknown layouts null out. Pure string expressions in whole-stage
    codegen — usable directly on claim pharmacy facts."""
    from claims_data_spark.tables.pharmacy import normalize_ndc_11

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    code = (
        F.when(k % 4 == 0, F.format_string("%04d-%04d-%02d", (k % 10000).cast("int"), (k % 9973).cast("int"), (k % 100).cast("int")))
        .when(k % 4 == 1, F.format_string("%05d-%03d-%02d", (k % 100000).cast("int"), (k % 997).cast("int"), (k % 100).cast("int")))
        .when(k % 4 == 2, F.format_string("%05d-%04d-%01d", (k % 100000).cast("int"), (k % 9973).cast("int"), (k % 10).cast("int")))
        .otherwise(F.lit("bad-code"))
    )
    return p.select(
        F.col("p_partkey").alias("part_id"),
        code.alias("ndc_package_code"),
        normalize_ndc_11(code).alias("ndc"),
    )


SQL_NDC_NORMALIZE = """
SELECT p_partkey AS part_id,
  CASE CAST(p_partkey % 4 AS INT)
    WHEN 0 THEN printf('%04d-%04d-%02d', CAST(p_partkey % 10000 AS INT), CAST(p_partkey % 9973 AS INT), CAST(p_partkey % 100 AS INT))
    WHEN 1 THEN printf('%05d-%03d-%02d', CAST(p_partkey % 100000 AS INT), CAST(p_partkey % 997 AS INT), CAST(p_partkey % 100 AS INT))
    WHEN 2 THEN printf('%05d-%04d-%01d', CAST(p_partkey % 100000 AS INT), CAST(p_partkey % 9973 AS INT), CAST(p_partkey % 10 AS INT))
    ELSE 'bad-code' END AS ndc_package_code,
  CASE CAST(p_partkey % 4 AS INT)
    WHEN 0 THEN printf('0%04d%04d%02d', CAST(p_partkey % 10000 AS INT), CAST(p_partkey % 9973 AS INT), CAST(p_partkey % 100 AS INT))
    WHEN 1 THEN printf('%05d0%03d%02d', CAST(p_partkey % 100000 AS INT), CAST(p_partkey % 997 AS INT), CAST(p_partkey % 100 AS INT))
    WHEN 2 THEN printf('%05d%04d0%01d', CAST(p_partkey % 100000 AS INT), CAST(p_partkey % 9973 AS INT), CAST(p_partkey % 10 AS INT))
    ELSE NULL END AS ndc
FROM part
"""


def q_combined_claim_children(spark, sf_dir):
    """Combined-layer claim children
    (load_stage.mcaid_mcare_claim_icdcm_header.R:23-63): each source's
    final icdcm_header routes through the person crosswalk to id_apde
    (left join — unmatched ids survive with NULL), one-sided columns
    null-fill (mcaid has no filetype_mcare), claim ids cast to string,
    and the union dedups once. Orders split by parity into the two
    sources; every 10th customer is absent from the xwalk."""
    from claims_data_spark.tables.mcare import (
        build_mcaid_mcare_claim_icdcm_header,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    xwalk = c.filter(F.col("c_custkey") % 10 != 0).select(
        F.format_string("A%09d", F.col("c_custkey")).alias("id_apde"),
        F.col("c_custkey").alias("id_mcaid"),
        F.format_string("BENE%07d", F.col("c_custkey")).alias("id_mcare"),
    )
    fact = li.join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        "o_orderkey", "o_custkey",
        F.col("o_orderdate").cast("date").alias("first_service_date"),
        F.col("o_orderdate").cast("date").alias("last_service_date"),
        F.format_string("C%03d", F.col("l_partkey") % 60).alias("icdcm_raw"),
        F.format_string("C%03d", F.col("l_partkey") % 60).alias("icdcm_norm"),
        (F.when(F.col("l_partkey") % 2 == 0, 10).otherwise(9))
        .cast("int").alias("icdcm_version"),
        F.lpad(F.col("l_linenumber").cast("string"), 2, "0")
        .alias("icdcm_number"),
        (F.col("l_suppkey") % 3).alias("_ft"),
    )
    mcaid_icdcm = fact.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderkey").alias("claim_header_id"),
        "first_service_date", "last_service_date", "icdcm_raw",
        "icdcm_norm", "icdcm_version", "icdcm_number",
    )
    mcare_icdcm = fact.filter(F.col("o_orderkey") % 2 == 1).select(
        F.format_string("BENE%07d", F.col("o_custkey")).alias("id_mcare"),
        F.format_string("X%d", F.col("o_orderkey")).alias("claim_header_id"),
        "first_service_date", "last_service_date", "icdcm_raw",
        "icdcm_norm", "icdcm_version", "icdcm_number",
        F.element_at(
            F.array(F.lit("carrier"), F.lit("inpatient"),
                    F.lit("outpatient")),
            (F.col("_ft") + 1).cast("int"),
        ).alias("filetype_mcare"),
    )
    combined = build_mcaid_mcare_claim_icdcm_header(
        mcaid_icdcm, mcare_icdcm, xwalk
    )
    return (
        combined.groupBy("source_desc", "filetype_mcare", "icdcm_version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("id_apde").alias("n_persons"),
            F.sum(F.when(F.col("id_apde").isNull(), 1).otherwise(0))
            .alias("n_unlinked"),
            F.countDistinct("claim_header_id").alias("n_claims"),
            F.min("icdcm_norm").alias("min_code"),
            F.max("icdcm_norm").alias("max_code"),
        )
    )


SQL_COMBINED_CLAIM_CHILDREN = """
WITH xwalk AS (
  SELECT printf('A%09d', c_custkey) AS id_apde, c_custkey
  FROM customer WHERE c_custkey % 10 <> 0
), fact AS (
  SELECT o.o_orderkey, o.o_custkey,
         CAST(o.o_orderdate AS DATE) AS first_service_date,
         printf('C%03d', l.l_partkey % 60) AS icdcm_norm,
         CASE WHEN l.l_partkey % 2 = 0 THEN 10 ELSE 9 END AS icdcm_version,
         lpad(CAST(l.l_linenumber AS VARCHAR), 2, '0') AS icdcm_number,
         l.l_suppkey % 3 AS ft
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), unioned AS (
  SELECT DISTINCT x.id_apde, 'mcaid' AS source_desc,
         CAST(f.o_orderkey AS VARCHAR) AS claim_header_id,
         f.first_service_date, f.icdcm_norm, f.icdcm_version,
         f.icdcm_number, CAST(NULL AS VARCHAR) AS filetype_mcare
  FROM fact f LEFT JOIN xwalk x ON f.o_custkey = x.c_custkey
  WHERE f.o_orderkey % 2 = 0
  UNION
  SELECT DISTINCT x.id_apde, 'mcare' AS source_desc,
         printf('X%d', f.o_orderkey) AS claim_header_id,
         f.first_service_date, f.icdcm_norm, f.icdcm_version,
         f.icdcm_number,
         CASE f.ft WHEN 0 THEN 'carrier' WHEN 1 THEN 'inpatient'
                   ELSE 'outpatient' END AS filetype_mcare
  FROM fact f LEFT JOIN xwalk x ON f.o_custkey = x.c_custkey
  WHERE f.o_orderkey % 2 = 1
)
SELECT source_desc, filetype_mcare, icdcm_version,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT id_apde) AS n_persons,
       CAST(SUM(CASE WHEN id_apde IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unlinked,
       COUNT(DISTINCT claim_header_id) AS n_claims,
       MIN(icdcm_norm) AS min_code,
       MAX(icdcm_norm) AS max_code
FROM unioned
GROUP BY source_desc, filetype_mcare, icdcm_version
"""


def q_rda_value_set(spark, sf_dir):
    """RDA BH value-set assembly (load_ref.rda_value_sets_apde.R):
    ICDCM version split (digit/E+injury/V -> 9, alpha -> 10), ICD-9
    trailing-zero + NDC leading-zero padding, distinct collapse, the
    CCS-driven sub_group_condition rule catalog (plain sets, code
    carve-outs, fallback pass), the pharmacy desc crosswalk (curated
    list + manual map + regex fallback), and the NO-HARMS ICD-10
    append — aggregated per (code_set, value_set, condition, pharm)."""
    from claims_data_spark.tables.rda_value_set import (
        build_ref_rda_value_set,
    )

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    b = (k % 5).cast("int")
    code = (
        F.when(b == 0, F.format_string("%d", (F.lit(2960) + k % 20).cast("int")))
        .when(b == 1, F.lit("E950"))
        .when(b == 2, F.lit("V62"))
        .when(b == 3, F.element_at(
            F.array(F.lit("F1021"), F.lit("F1211"), F.lit("F90"),
                    F.lit("F948")), (k % 4 + 1).cast("int")))
        .otherwise(F.format_string("%07d", (k % 9000000).cast("int")))
    )
    desc = (
        F.when(b == 0, F.lit("  Mood   Episode "))
        .when(b == 1, F.lit("SELF INFLICTED POISONING"))
        .when(b == 2, F.lit("OTHER PSYCHOSOCIAL CIRCUMSTANCE"))
        .when(b == 3, F.lit("BH DIAGNOSIS"))
        .otherwise(F.element_at(
            F.array(F.lit("Sertraline HCl"), F.lit("AUVELITY"),
                    F.lit("NALTREXONE MICROSPHERES"), F.lit("Haldol")),
            (k % 4 + 1).cast("int")))
    )
    new_raw = p.select(
        F.when(b == 4, "sud").otherwise("mh").alias("value_set_group"),
        F.concat(F.lit("rda-"), b.cast("string")).alias("value_set_name"),
        F.when(b == 4, "pharmacy").otherwise("diagnosis")
        .alias("data_source_type"),
        F.when(b == 4, "NDC").otherwise("ICDCM").alias("code_set"),
        code.alias("code"),
        desc.alias("desc"),
    )
    ref_icd9 = spark.range(20).select(
        F.format_string("%d0", (F.lit(2960) + F.col("id")).cast("int"))
        .alias("icdcm"),
        F.lit(9).cast("int").alias("icdcm_version"),
        F.when(F.col("id") < 10, "5.8").otherwise("5.10")
        .alias("ccs_detail_code"),
        F.lit(None).cast("string").alias("icdcm_description"),
    )
    ref_fixed = spark.createDataFrame(
        [("E9500", 9, "10.3", None), ("V6200", 9, "MBD010", None),
         ("F1021", 10, "MBD026", None), ("F1211", 10, "MBD026", None),
         ("F90", 10, "MBD014", None), ("F948", 10, "MBD014", None)],
        "icdcm string, icdcm_version int, ccs_detail_code string,"
        " icdcm_description string",
    )
    curated = spark.createDataFrame(
        [("Sertraline HCl", "Antidepressants Rx"),
         ("Haldol", "Antipsychotic Rx")],
        "desc_1 string, sub_group_pharmacy string",
    )
    out = build_ref_rda_value_set(
        spark, new_raw, ref_icd9.unionByName(ref_fixed), curated
    )
    return out.groupBy(
        "code_set", "value_set_name", "sub_group_condition",
        "sub_group_pharmacy",
    ).agg(
        F.count(F.lit(1)).alias("n_codes"),
        F.min("code").alias("min_code"),
        F.max("code").alias("max_code"),
    )


_NO_HARMS_SQL_LIST = (
    "'T43652','T43652A','T43652D','T43652S','T45AX2A','T45AX2D',"
    "'T45AX2S','T4792X','X738XX','X739XX','X7401X','X7402X','X7409X',"
    "'X748XX','X749XX','X75XXX','X76XXX','X770XX','X771XX','T4592X',"
    "'X710XX','X711XX','X712XX','X713XX','X718XX','X719XX','X72XXX',"
    "'X730XX','T3692X','T3792X','T3992X','X781XX','X782XX','X788XX',"
    "'X789XX','X79XXX','X80XXX','X810XX','X811XX','X818XX','X820XX',"
    "'X821XX','X822XX','X828XX','X830XX','X731XX','X732XX','X838XX',"
    "'X772XX','X773XX','X778XX','X779XX','X780XX','T1491X','T56822A',"
    "'T56822D','T56822S','X831XX','X832XX','T40412','T40422','T40492',"
    "'T4272X','T4392X','T4142X','T4992X'"
)

SQL_RDA_VALUE_SET = f"""
WITH raw AS (
  SELECT CASE WHEN p_partkey % 5 = 4 THEN 'sud' ELSE 'mh' END AS value_set_group,
    'rda-' || CAST(CAST(p_partkey % 5 AS INT) AS VARCHAR) AS value_set_name,
    CASE WHEN p_partkey % 5 = 4 THEN 'pharmacy' ELSE 'diagnosis' END AS data_source_type,
    CASE WHEN p_partkey % 5 = 4 THEN 'NDC' ELSE 'ICDCM' END AS code_set,
    CASE CAST(p_partkey % 5 AS INT)
      WHEN 0 THEN CAST(2960 + p_partkey % 20 AS VARCHAR)
      WHEN 1 THEN 'E950'
      WHEN 2 THEN 'V62'
      WHEN 3 THEN ['F1021','F1211','F90','F948'][CAST(p_partkey % 4 AS INT) + 1]
      ELSE printf('%07d', CAST(p_partkey % 9000000 AS INT)) END AS code,
    CASE CAST(p_partkey % 5 AS INT)
      WHEN 0 THEN '  Mood   Episode '
      WHEN 1 THEN 'SELF INFLICTED POISONING'
      WHEN 2 THEN 'OTHER PSYCHOSOCIAL CIRCUMSTANCE'
      WHEN 3 THEN 'BH DIAGNOSIS'
      ELSE ['Sertraline HCl','AUVELITY','NALTREXONE MICROSPHERES','Haldol'][CAST(p_partkey % 4 AS INT) + 1]
      END AS "desc"
  FROM part
), norm AS (
  SELECT DISTINCT value_set_group, value_set_name, data_source_type,
    regexp_replace(upper(trim("desc")), '\\s+', ' ', 'g') AS "desc",
    CASE WHEN code_set = 'ICDCM' AND regexp_matches(code, '^[0-9]') THEN 'ICD9CM'
         WHEN code_set = 'ICDCM' AND regexp_matches(code, '^E') THEN 'ICD9CM'
         WHEN code_set = 'ICDCM' AND regexp_matches(code, '^V') THEN 'ICD9CM'
         WHEN code_set = 'ICDCM' THEN 'ICD10CM'
         ELSE code_set END AS code_set,
    CASE WHEN code_set = 'ICDCM' AND regexp_matches(code, '^[0-9EV]') AND length(code) = 3 THEN code || '00'
         WHEN code_set = 'ICDCM' AND regexp_matches(code, '^[0-9EV]') AND length(code) = 4 THEN code || '0'
         WHEN code_set = 'NDC' THEN lpad(code, 11, '0')
         ELSE code END AS code
  FROM raw
), ccs AS (
  SELECT CAST(2960 + i AS VARCHAR) || '0' AS icdcm, 9 AS ver,
         CASE WHEN i < 10 THEN '5.8' ELSE '5.10' END AS ccs
  FROM generate_series(0, 19) AS t(i)
  UNION ALL SELECT * FROM (VALUES ('E9500', 9, '10.3'), ('V6200', 9, 'MBD010'),
    ('F1021', 10, 'MBD026'), ('F1211', 10, 'MBD026'),
    ('F90', 10, 'MBD014'), ('F948', 10, 'MBD014')) v(icdcm, ver, ccs)
), assigned AS (
  SELECT n.code_set, n.value_set_name, n.code, n."desc",
    CASE WHEN n.code_set IN ('ICD9CM','ICD10CM') THEN
      CASE WHEN c.ccs = '5.8' THEN 'mh_mania_bipolar'
           WHEN c.ccs = '5.10' THEN 'mh_psychotic'
           WHEN c.ccs = '10.3' THEN 'mh_depression'
           WHEN c.ccs = 'MBD026' AND n.code = 'F1021' THEN 'sud_alcohol'
           WHEN c.ccs = 'MBD026' AND n.code = 'F1211' THEN 'sud_cannabis'
           WHEN c.ccs = 'MBD014' AND n.code = 'F90' THEN 'mh_adhd'
           WHEN c.ccs = 'MBD014' AND n.code = 'F948' THEN 'mh_anxiety'
           WHEN c.ccs = 'MBD010' THEN 'mh_other'
      END
    WHEN n.data_source_type = 'pharmacy' THEN
      CASE WHEN n."desc" = 'SERTRALINE HCL' THEN 'mh_depression'
           WHEN n."desc" = 'AUVELITY' THEN 'mh_depression'
           WHEN n."desc" LIKE '%NALTREXONE%' THEN 'sud_opioid'
           WHEN n."desc" = 'HALDOL' THEN 'mh_psychotic' END
    END AS sub_group_condition,
    CASE WHEN n.data_source_type = 'pharmacy' THEN
      CASE WHEN n."desc" = 'SERTRALINE HCL' THEN 'pharm_antidepressant'
           WHEN n."desc" = 'AUVELITY' THEN 'pharm_antidepressant'
           WHEN n."desc" LIKE '%NALTREXONE%' THEN 'pharm_naltrexone_rx'
           WHEN n."desc" = 'HALDOL' THEN 'pharm_antipsychotic' END
    END AS sub_group_pharmacy
  FROM norm n
  LEFT JOIN ccs c ON n.code = c.icdcm
    AND c.ver = CASE n.code_set WHEN 'ICD9CM' THEN 9 WHEN 'ICD10CM' THEN 10 END
), extras AS (
  SELECT 'ICD10CM' AS code_set, 'apde-added-diagnosis' AS value_set_name,
         UNNEST([{_NO_HARMS_SQL_LIST}]) AS code,
         CAST(NULL AS VARCHAR) AS "desc",
         'mh_other' AS sub_group_condition,
         CAST(NULL AS VARCHAR) AS sub_group_pharmacy
), unioned AS (
  SELECT code_set, value_set_name, code, sub_group_condition,
         sub_group_pharmacy FROM assigned
  UNION ALL
  SELECT code_set, value_set_name, code, sub_group_condition,
         sub_group_pharmacy FROM extras
)
SELECT code_set, value_set_name, sub_group_condition, sub_group_pharmacy,
       COUNT(*) AS n_codes, MIN(code) AS min_code, MAX(code) AS max_code
FROM unioned
GROUP BY code_set, value_set_name, sub_group_condition, sub_group_pharmacy
"""


def q_claims_summary(spark, sf_dir):
    """Per-person utilization counts for a cohort window
    (sp_mcaid_claims_simple_r.sql): an event counts once per distinct
    service DATE (the reference's per-(person,date) MAX then SUM,
    collapsed here to COUNT(DISTINCT CASE...) in ONE shuffle), window
    membership is event-began-in-window, cohort left-joins back with
    zero-fill + no_claims."""
    from claims_data_spark.api import claims_summary

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cohort = c.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("id_mcaid"),
        F.col("c_mktsegment").alias("segment"),
    )
    claims = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        F.col("o_orderdate").cast("date").alias("first_service_date"),
        (F.col("o_orderkey") % 11 == 0).cast("int").alias("ed"),
        (F.col("o_orderkey") % 7 == 0).cast("int").alias("inpatient"),
        (F.col("o_orderkey") % 5 == 0).cast("int").alias("dental"),
    )
    out = claims_summary(
        cohort, claims, "1995-01-01", "1995-12-31",
        flag_cols=["ed", "inpatient", "dental"],
    )
    return out.select(
        "id_mcaid", "segment", "ed_cnt", "inpatient_cnt", "dental_cnt",
        "no_claims",
    )


SQL_CLAIMS_SUMMARY = """
WITH cohort AS (
  SELECT c_custkey AS id_mcaid, c_mktsegment AS segment
  FROM customer WHERE c_custkey % 3 <> 0
), claims AS (
  SELECT o_custkey AS id_mcaid, CAST(o_orderdate AS DATE) AS fsd,
         CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS ed,
         CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS inpatient,
         CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS dental
  FROM orders
  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
), counts AS (
  SELECT id_mcaid,
    COUNT(DISTINCT CASE WHEN ed = 1 THEN fsd END) AS ed_cnt,
    COUNT(DISTINCT CASE WHEN inpatient = 1 THEN fsd END) AS inpatient_cnt,
    COUNT(DISTINCT CASE WHEN dental = 1 THEN fsd END) AS dental_cnt
  FROM claims
  WHERE id_mcaid IN (SELECT id_mcaid FROM cohort)
  GROUP BY id_mcaid
)
SELECT c.id_mcaid, c.segment,
  COALESCE(n.ed_cnt, 0) AS ed_cnt,
  COALESCE(n.inpatient_cnt, 0) AS inpatient_cnt,
  COALESCE(n.dental_cnt, 0) AS dental_cnt,
  CASE WHEN n.id_mcaid IS NULL THEN 1 ELSE 0 END AS no_claims
FROM cohort c LEFT JOIN counts n ON c.id_mcaid = n.id_mcaid
"""


def q_corpus_clean(spark, sf_dir):
    """Composed training-corpus cleaning pipeline (operators/corpus):
    quality gate -> language gate -> exact-dedup keep-min survivor,
    each rejected document attributed to the FIRST gate it failed.
    Cheap row-local gates run before the one fingerprint shuffle, and
    rejected rows get singleton window partitions (a shared NULL key
    would funnel half the corpus through one task)."""
    from claims_data_spark.operators.corpus import clean_corpus_status

    d = spread(_t(spark, sf_dir, "documents"))
    return clean_corpus_status(
        d, min_quality=0.5, lang="en", min_lang_hits=1
    )


SQL_CORPUS_CLEAN = """
WITH base AS (
  SELECT doc_id,
    ROUND((
      LEAST((CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
             ELSE len(string_split_regex(TRIM(text), '\\s+')) END) / 50.0, 1.0)
      + GREATEST(0.0, 1.0 - (CASE WHEN LENGTH(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
          ELSE LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / LENGTH(regexp_replace(text, '\\s', '', 'g')) END) * 4)
      + LEAST((len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
          x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) * 1.0
          / len(string_split_regex(LOWER(TRIM(text)), '\\s+'))) * 5.0, 1.0)
    ) / 3.0, 4) AS quality,
    len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
        x -> x IN ('the','and','of','to','a'))) AS en_hits,
    MD5(regexp_replace(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), elig AS (
  SELECT doc_id, fp FROM base
  WHERE quality >= 0.5 AND en_hits >= 1
), ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM elig
)
SELECT b.doc_id, b.quality,
  CASE WHEN b.quality < 0.5 THEN 'low_quality'
       WHEN b.en_hits < 1 THEN 'wrong_lang'
       WHEN r.rn > 1 THEN 'duplicate'
       ELSE 'kept' END AS status
FROM base b LEFT JOIN ranked r ON b.doc_id = r.doc_id
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/corpus.decontaminate):
    every 50th document plays the eval suite; training docs sharing
    any word 4-gram with it are flagged with their distinct-hit
    count. Benchmark n-grams broadcast (eval suites are MB-sized
    next to a 100 TB corpus); the only exchange is the per-doc hit
    aggregate over the matching rows."""
    from claims_data_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    _clean, contaminated = decontaminate(train, bench, n=4)
    return contaminated.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
    )


SQL_DECONTAMINATE = """
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE text IS NOT NULL
), doc_grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
      unnest(list_transform(generate_series(1, len(w) - 3),
             i -> array_to_string(w[i:i+3], ' '))) AS gram
    FROM words WHERE len(w) >= 4
  ) WHERE LENGTH(gram) > 0
), bench AS (
  SELECT DISTINCT gram FROM doc_grams WHERE doc_id % 50 = 0
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, COUNT(*) AS n_hits
FROM doc_grams d JOIN bench USING (gram)
WHERE d.doc_id % 50 <> 0
GROUP BY d.doc_id
"""


def q_split_assign(spark, sf_dir):
    """Deterministic grouped train/val/test split assignment
    (operators/corpus.assign_splits): md5-pinned uniform drawn on the
    GROUP key (canonical domain), so near-duplicates sharing a domain
    can never straddle train and eval — the release-step leakage
    guard. Map-only codegen; the per-split rollup is the only
    exchange. Oracle re-derives every label from the same md5 cut."""
    from claims_data_spark.operators.corpus import assign_splits

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("dom"), (F.col("doc_id") % 23).cast("string"))
        .alias("domain"),
    )
    out = assign_splits(
        d, {"train": 8, "val": 1, "test": 1},
        id_col="doc_id", group_col="domain",
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("domain").alias("n_domains"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


SQL_SPLIT_ASSIGN = """
WITH d AS (
  SELECT doc_id,
         'dom' || CAST(CAST(doc_id % 23 AS INT) AS VARCHAR) AS domain
  FROM documents
), s AS (
  SELECT doc_id, domain,
    CASE
      WHEN u < 0.8 THEN 'train'
      WHEN u < 0.9000000000000001 THEN 'val'
      ELSE 'test'
    END AS split
  FROM (
    SELECT *,
      CAST(concat('0x', substr(md5(domain || 'split'), 1, 8)) AS BIGINT)
        / 4294967295.0 AS u
    FROM d
  )
)
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT domain) AS n_domains,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM s GROUP BY split
"""


def q_contamination_report(spark, sf_dir):
    """Fractional train-test overlap analysis (operators/corpus.
    contamination_report — the GPT-3-style per-document percent of
    4-gram overlap with the eval suite, next to decontaminate's
    boolean gate): benchmark grams broadcast, one corpus scan,
    per-doc exact integer counts, pct from the integers (2dp)."""
    from claims_data_spark.operators.corpus import contamination_report

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bench = d.filter(F.col("doc_id") % 50 == 0)
    docs = d.filter(F.col("doc_id") % 50 != 0)
    out = contamination_report(docs, bench, n=4)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_grams", "n_overlap", "overlap_pct",
    )


SQL_CONTAMINATION_REPORT = """
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE text IS NOT NULL
), doc_grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
      unnest(list_transform(generate_series(1, len(w) - 3),
             i -> array_to_string(w[i:i+3], ' '))) AS gram
    FROM words WHERE len(w) >= 4
  ) WHERE LENGTH(gram) > 0
), bench AS (
  SELECT DISTINCT gram FROM doc_grams WHERE doc_id % 50 = 0
), per AS (
  SELECT d.doc_id,
    COUNT(*) AS n_grams,
    SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
  FROM doc_grams d LEFT JOIN bench b USING (gram)
  WHERE d.doc_id % 50 <> 0
  GROUP BY d.doc_id
), shorts AS (
  -- documents with zero 4-grams still report (0, 0, 0.0)
  SELECT doc_id, 0 AS n_grams, 0 AS n_overlap
  FROM words WHERE len(w) < 4 AND doc_id % 50 <> 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_overlap AS BIGINT) AS n_overlap,
  CASE WHEN n_grams > 0
       THEN ROUND(n_overlap * 100.0 / n_grams, 2) ELSE 0.0 END
    AS overlap_pct
FROM (SELECT * FROM per UNION ALL SELECT * FROM shorts)
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling for dataset mixing
    (operators/corpus.stratified_sample): survival decided by the
    row's own md5 bucket against its stratum rate — no RNG state, so
    the sample is identical across retries and engines, and the
    operator is map-only (zero shuffles)."""
    from claims_data_spark.operators.corpus import stratified_sample

    o = _t(spark, sf_dir, "orders")
    out = stratified_sample(
        o, "o_orderstatus", {"F": 0.2, "O": 0.05, "P": 0.5}, "o_orderkey"
    )
    return out.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
    )


SQL_STRATIFIED_SAMPLE = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus
FROM orders
WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967295.0
  < CASE o_orderstatus WHEN 'F' THEN 0.2 WHEN 'O' THEN 0.05
                       WHEN 'P' THEN 0.5 ELSE 0.0 END
"""


def q_chunk_documents(spark, sf_dir):
    """Fixed-budget document chunking with overlap (the
    pre-tokenization step ahead of sequence packing): 64-token chunks,
    8-token overlap, one output row per chunk with its 0-based index,
    text and token count — all row-local split/sequence/slice codegen,
    verified against the same slicing in SQL (md5 of the chunk text so
    the exact token boundaries are value-checked)."""
    from claims_data_spark.operators.corpus import chunk_documents

    d = spread(_t(spark, sf_dir, "documents"))
    out = chunk_documents(d, max_tokens=64, overlap=8)
    return out.select(
        "doc_id", "chunk_idx", "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


SQL_CHUNK_DOCUMENTS = """
WITH base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(text), '\\s+'),
                x -> len(x) > 0) AS w
  FROM documents WHERE text IS NOT NULL
), spec AS (
  SELECT doc_id, w,
    GREATEST(CAST(CEIL((len(w) - 8) / 56.0) AS INT), 1) AS n_chunks
  FROM base WHERE len(w) > 0
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
  CAST(LEAST(len(w) - i * 56, 64) AS INT) AS n_tokens,
  md5(array_to_string(w[(i * 56 + 1):(i * 56 + 64)], ' ')) AS chunk_md5
FROM (SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM spec)
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing digest over the documents table: deterministic
    synthetic PII (an email, a phone and an SSN derived from doc_id)
    is appended to each text, scrubbed by the row-local regex chain,
    and verified via redaction counts plus the md5 of the scrubbed
    text — so the oracle checks the exact replacement bytes, not just
    that something changed."""
    from claims_data_spark.operators.corpus import pii_scrub

    d = spread(_t(spark, sf_dir, "documents"))
    k = F.col("doc_id")
    salted = d.select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.col("text"),
                F.lit(" contact user"), k.cast("string"),
                F.lit("@example.org or "),
                F.format_string("%03d-%03d-%04d", k % 900 + 100,
                                k % 743 + 100, k % 8999 + 1000),
                F.when(
                    k % 3 == 0,
                    F.concat(
                        F.lit(" ssn "),
                        F.format_string("%03d-%02d-%04d", k % 899 + 100,
                                        k % 89 + 10, k % 9999),
                    ),
                ).otherwise(F.lit("")),
            ),
        ).alias("text"),
    )
    out = pii_scrub(salted)
    return out.select(
        "doc_id", "email_n", "ssn_n", "phone_n",
        F.md5(F.coalesce(F.col("scrubbed"), F.lit("__null__")))
        .alias("scrub_md5"),
    )


SQL_PII_SCRUB = """
WITH salted AS (
  SELECT doc_id,
    CASE WHEN text IS NOT NULL THEN
      text || ' contact user' || CAST(doc_id AS VARCHAR)
        || '@example.org or '
        || printf('%03d-%03d-%04d', doc_id % 900 + 100,
                  doc_id % 743 + 100, doc_id % 8999 + 1000)
        || CASE WHEN doc_id % 3 = 0 THEN
             ' ssn ' || printf('%03d-%02d-%04d', doc_id % 899 + 100,
                               doc_id % 89 + 10, doc_id % 9999)
           ELSE '' END
    END AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(COALESCE(text, ''),
    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INT)
    AS email_n,
  CAST(len(regexp_extract_all(COALESCE(text, ''),
    '\\d{3}-\\d{2}-\\d{4}')) AS INT) AS ssn_n,
  CAST(len(regexp_extract_all(COALESCE(text, ''),
    '\\d{3}[-.]\\d{3}[-.]\\d{4}')) AS INT) AS phone_n,
  md5(CASE WHEN text IS NULL THEN '__null__' ELSE
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
          '<EMAIL>', 'g'),
        '\\d{3}-\\d{2}-\\d{4}', '<SSN>', 'g'),
      '\\d{3}[-.]\\d{3}[-.]\\d{4}', '<PHONE>', 'g')
  END) AS scrub_md5
FROM salted
"""


def q_quantize_embeddings(spark, sf_dir):
    """Int8 symmetric embedding quantization digest: per vector, the
    scale, the sum of quantized codes, a position-weighted code
    checksum, and the max dequantization error — scalars that pin the
    whole quantization arithmetic value-for-value without hashing
    arrays. Quantization itself (operators/similarity.quantize_int8)
    is row-local codegen; this query adds only a map-side digest."""
    from claims_data_spark.operators.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    qd = quantize_int8(emb)
    # compute the error in its own projection: in the final select the
    # rounded output is ALSO named `scale`, and Spark's lateral
    # column-alias resolution would silently bind the zip_with's
    # F.col("scale") to the ROUNDED alias instead of the input column
    # (observed: max_err off by q*2.6e-10)
    qd = qd.withColumn(
        "_err",
        F.array_max(
            F.zip_with(
                "embedding", "q",
                lambda x, c: F.abs(x - c * F.col("scale")),
            )
        ),
    )
    dequant_err = F.col("_err")
    return qd.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate("q", F.lit(0), lambda a, c: a + c).alias("qsum"),
        F.aggregate(
            F.zip_with(
                "q",
                F.sequence(F.lit(1), F.size("q")),
                lambda c, i: c * i,
            ),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("qdot"),
        F.round(F.coalesce(dequant_err, F.lit(0.0)), 9).alias("max_err"),
    )


SQL_QUANTIZE_EMBEDDINGS = """
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT vec_id, v,
    list_max(list_transform(v, x -> ABS(x))) / 127.0 AS s
  FROM emb
), quant AS (
  SELECT vec_id, v, s,
    CASE WHEN s > 0
      THEN list_transform(v, x -> CAST(FLOOR(x / s + 0.5) AS INT))
      ELSE list_transform(v, x -> 0) END AS q
  FROM scaled
)
SELECT vec_id,
  ROUND(s, 9) AS scale,
  CAST(list_aggregate(q, 'sum') AS INT) AS qsum,
  CAST(list_aggregate(
    list_transform(range(1, len(q) + 1), i -> q[i] * i), 'sum'
  ) AS INT) AS qdot,
  ROUND(COALESCE(list_max(
    list_transform(range(1, len(q) + 1), i -> ABS(v[i] - q[i] * s))
  ), 0.0), 9) AS max_err
FROM quant
"""


def q_repetition_filter(spark, sf_dir):
    """Gopher-style repetition gate (Rae et al. 2021 Table A1) over
    the documents table: duplicate-line fraction, duplicate-line
    character fraction, and top word-2-gram character coverage, with
    the published drop thresholds. Documents carry no newlines, so
    the query first folds each text into deterministic 5-word lines
    (same fold in the oracle) to give the line signals real work; the
    top-n-gram stage is the scalable explode + (doc, gram) count +
    per-doc rank plan, not O(words^2) row-local algebra."""
    from claims_data_spark.operators.corpus import repetition_filter

    d = spread(_t(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(5)).cast("int")
    folded = F.when(
        F.col("text").isNotNull(),
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(words, i * 5 + 1, 5)),
            ),
        ),
    )
    docs = d.select("doc_id", folded.alias("text"))
    return repetition_filter(docs)


SQL_REPETITION_FILTER = """
WITH folded AS (
  SELECT doc_id,
    CASE WHEN text IS NOT NULL THEN
      array_to_string(
        list_transform(
          range(0, GREATEST(CAST(CEIL(len(string_split(text, ' ')) / 5.0)
                                 AS INT) - 1, 0) + 1),
          i -> array_to_string(
                 (string_split(text, ' '))[(i * 5 + 1):(i * 5 + 5)], ' ')
        ), chr(10))
    END AS t
  FROM documents
), lines AS (
  SELECT doc_id, t,
    list_filter(string_split(COALESCE(t, ''), chr(10)),
                x -> len(TRIM(x)) > 0) AS l
  FROM folded
), line_stats AS (
  SELECT doc_id, t,
    CASE WHEN len(l) > 0
         THEN (len(l) - len(list_distinct(l))) * 1.0 / len(l)
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN COALESCE(list_aggregate(
                list_transform(l, x -> length(x)), 'sum'), 0) > 0
         THEN (list_aggregate(list_transform(l, x -> length(x)), 'sum')
               - COALESCE(list_aggregate(list_transform(
                   list_filter(l, x -> len(list_filter(l, y -> y = x)) = 1),
                   x -> length(x)), 'sum'), 0)) * 1.0
              / list_aggregate(list_transform(l, x -> length(x)), 'sum')
         ELSE 0.0 END AS dup_line_char_frac
  FROM lines
), grams AS (
  SELECT doc_id, unnest(
    list_transform(
      range(1, GREATEST(len(w) - 1, 1) + 1),
      i -> array_to_string(w[i:i+1], ' ')
    )
  ) AS g
  FROM (
    SELECT doc_id, regexp_split_to_array(LOWER(TRIM(t)), '\\s+') AS w
    FROM folded WHERE t IS NOT NULL AND len(regexp_split_to_array(LOWER(TRIM(t)), '\\s+')) >= 2
  )
), top AS (
  SELECT doc_id, cnt * length(g) AS top_chars FROM (
    SELECT doc_id, g, COUNT(*) AS cnt,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY COUNT(*) DESC, g ASC) AS rn
    FROM grams GROUP BY doc_id, g
  ) WHERE rn = 1
)
SELECT s.doc_id,
  ROUND(s.dup_line_frac, 6) AS dup_line_frac,
  ROUND(s.dup_line_char_frac, 6) AS dup_line_char_frac,
  ROUND(CASE WHEN length(COALESCE(s.t, '')) > 0
        THEN COALESCE(p.top_chars, 0) * 1.0 / length(COALESCE(s.t, ''))
        ELSE 0.0 END, 6) AS top_ngram_char_frac,
  CAST(CASE WHEN s.dup_line_frac <= 0.30
        AND s.dup_line_char_frac <= 0.20
        AND (CASE WHEN length(COALESCE(s.t, '')) > 0
             THEN COALESCE(p.top_chars, 0) * 1.0 / length(COALESCE(s.t, ''))
             ELSE 0.0 END) <= 0.20
       THEN 1 ELSE 0 END AS INT) AS keep
FROM line_stats s LEFT JOIN top p ON s.doc_id = p.doc_id
"""


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (operators/corpus.pack_sequences):
    greedy next-fit in doc_id order within an explicit modulo shard.
    The reset-on-overflow running sum is stateful (no fixed window
    frame expresses it), so it is one Arrow crossing per shard; the
    oracle replicates it with a per-shard recursive CTE."""
    from claims_data_spark.operators.corpus import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(token_count_ws("text").cast("long"), F.lit(0)).alias(
            "n_tokens"
        ),
        (F.col("doc_id") % 8).cast("long").alias("shard"),
    )
    out = pack_sequences(d, budget=400, shard_col="shard")
    return out.select(
        F.col("shard").cast("long").alias("shard"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
    )


SQL_PACK_SEQUENCES = """
WITH RECURSIVE toks AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS shard, CAST(doc_id AS BIGINT) AS doc_id,
    CAST(COALESCE(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
         ELSE len(string_split_regex(TRIM(text), '\\s+')) END, 0) AS BIGINT) AS t,
    ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
), packed AS (
  SELECT shard, doc_id, t, rn,
    CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_offset, t AS total
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT x.shard, x.doc_id, x.t, x.rn,
    CASE WHEN p.total + x.t > 400 THEN p.pack_id + 1 ELSE p.pack_id END,
    CASE WHEN p.total + x.t > 400 THEN CAST(0 AS BIGINT) ELSE p.total END,
    CASE WHEN p.total + x.t > 400 THEN x.t ELSE p.total + x.t END
  FROM toks x JOIN packed p ON x.shard = p.shard AND x.rn = p.rn + 1
)
SELECT shard, doc_id, t AS n_tokens, pack_id, pack_offset FROM packed
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the claims_elig-shaped coverage query (islands +
    clipping + coverage stats) on sf0.001."""
    return q_coverage(spark, DEFAULT_SF)


# ---------------------------------------------------------------------------
# BM25 top-k retrieval + bigram-LM quality scoring (round-5 operators)
# ---------------------------------------------------------------------------

def q_bm25_topk(spark, sf_dir):
    """Lexical retrieval over the documents corpus: BM25 top-15 for a
    three-term query, with corpus stats (N, avgdl, per-term df) from
    ONE global aggregate broadcast back — no inverted index, no
    explode, no wide shuffle; the top-k plans as TakeOrdered."""
    from claims_data_spark.operators.retrieval import bm25_topk

    d = spread(_t(spark, sf_dir, "documents"))
    return bm25_topk(
        d, ["spark", "window", "merge"], k=15,
        id_col="doc_id", text_col="text",
    )


SQL_BM25_TOPK = """
WITH base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                x -> len(x) > 0) AS w
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
    CAST(len(list_filter(w, x -> x = 'merge')) AS DOUBLE) AS tf0,
    CAST(len(list_filter(w, x -> x = 'spark')) AS DOUBLE) AS tf1,
    CAST(len(list_filter(w, x -> x = 'window')) AS DOUBLE) AS tf2
  FROM base
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
    SUM(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
  FROM tf
)
SELECT doc_id, ROUND(
    ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * tf0 * 2.2
      / (tf0 + 1.2*(0.25 + 0.75*dl/avgdl))
  + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * tf1 * 2.2
      / (tf1 + 1.2*(0.25 + 0.75*dl/avgdl))
  + ln(1 + (n - df2 + 0.5)/(df2 + 0.5)) * tf2 * 2.2
      / (tf2 + 1.2*(0.25 + 0.75*dl/avgdl)), 4) AS score
FROM tf, stats
WHERE tf0 + tf1 + tf2 > 0
ORDER BY score DESC, doc_id
LIMIT 15
"""


def q_bigram_lm(spark, sf_dir):
    """Corpus-quality scoring with a self-trained add-0.1 bigram LM
    (the KenLM-filter / DSIR building block): per-document mean
    cross-entropy and perplexity under the corpus's own bigram
    statistics. The model side is vocabulary-bounded; scoring is one
    join on the bigram key."""
    from claims_data_spark.operators.lm import bigram_lm_scores

    d = spread(_t(spark, sf_dir, "documents"))
    return bigram_lm_scores(d, id_col="doc_id", text_col="text")


SQL_BIGRAM_LM = """
WITH base AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                x -> len(x) > 0) AS w
  FROM documents WHERE text IS NOT NULL
), docs2 AS (
  SELECT * FROM base WHERE len(w) >= 2
), big AS (
  SELECT doc_id, w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
  FROM docs2, LATERAL (SELECT unnest(range(1, len(w))) AS i) ix
), c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12 FROM big GROUP BY 1, 2
), c1 AS (
  SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1
), v AS (
  SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v
  FROM (SELECT unnest(w) AS t FROM base)
), j AS (
  SELECT b.doc_id, ln((c12.c12 + 0.1) / (c1.c1 + 0.1 * v.v)) AS lp
  FROM big b JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  ROUND(AVG(-lp), 4) AS xent,
  ROUND(EXP(ROUND(AVG(-lp), 4)), 2) AS ppl
FROM j GROUP BY doc_id
"""



def q_scd2_merge(spark, sf_dir):
    """SCD2 dimension merge (the warehouse-native generalization of
    the reference's drop-and-swap refresh, SURVEY §2 S8): one full
    outer join on the business key + one explode generator emits the
    close-out/new/unchanged versions, history passes through
    untouched. Current state and incoming snapshot are both derived
    deterministically from the customer table."""
    from claims_data_spark.operators.scd import scd2_merge

    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    cur_open = c.filter(ck % 10 != 9).select(
        ck.alias("cust_key"),
        F.col("c_nationkey").cast("int").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    history = c.filter((ck % 10 != 9) & (ck % 5 == 0)).select(
        ck.alias("cust_key"),
        ((F.col("c_nationkey") + 1) % 25).cast("int").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2019-01-01").cast("date").alias("valid_from"),
        F.lit("2019-12-31").cast("date").alias("valid_to"),
        F.lit(0).alias("is_current"),
    )
    incoming = c.filter(ck % 11 != 0).select(
        ck.alias("cust_key"),
        F.when(ck % 7 == 0, (F.col("c_nationkey") + 3) % 25)
        .otherwise(F.col("c_nationkey")).cast("int").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
    )
    out = scd2_merge(
        cur_open.unionByName(history), incoming,
        ["cust_key"], ["nation", "seg"], "2021-06-15",
        close_missing=True,
    )
    return out.select(
        "cust_key", "nation", "seg",
        _ds(F.col("valid_from")).alias("valid_from"),
        _ds(F.col("valid_to")).alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


SQL_SCD2_MERGE = """
WITH cur AS (
  SELECT c_custkey AS k, CAST(c_nationkey AS INT) AS nation,
         c_mktsegment AS seg
  FROM customer WHERE c_custkey % 10 <> 9
), hist AS (
  SELECT c_custkey AS k,
         CAST((c_nationkey + 1) % 25 AS INT) AS nation,
         c_mktsegment AS seg
  FROM customer WHERE c_custkey % 10 <> 9 AND c_custkey % 5 = 0
), inc AS (
  SELECT c_custkey AS k,
         CAST(CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 3) % 25
              ELSE c_nationkey END AS INT) AS nation,
         c_mktsegment AS seg
  FROM customer WHERE c_custkey % 11 <> 0
), j AS (
  SELECT cur.k AS ck, cur.nation AS cn, cur.seg AS cs,
         inc.k AS ik, inc.nation AS inat, inc.seg AS iseg
  FROM cur FULL OUTER JOIN inc ON cur.k = inc.k
)
SELECT k AS cust_key, nation, seg, valid_from, valid_to, is_current
FROM (
  -- history pass-through
  SELECT k, nation, seg, '2019-01-01' AS valid_from,
         '2019-12-31' AS valid_to, 0 AS is_current FROM hist
  UNION ALL
  -- changed: close the open version
  SELECT ck, cn, cs, '2020-01-01', '2021-06-14', 0 FROM j
  WHERE ck IS NOT NULL AND ik IS NOT NULL
    AND (cn IS DISTINCT FROM inat OR cs IS DISTINCT FROM iseg)
  UNION ALL
  -- changed: open the new version
  SELECT ik, inat, iseg, '2021-06-15', NULL, 1 FROM j
  WHERE ck IS NOT NULL AND ik IS NOT NULL
    AND (cn IS DISTINCT FROM inat OR cs IS DISTINCT FROM iseg)
  UNION ALL
  -- unchanged
  SELECT ck, cn, cs, '2020-01-01', NULL, 1 FROM j
  WHERE ck IS NOT NULL AND ik IS NOT NULL
    AND cn IS NOT DISTINCT FROM inat AND cs IS NOT DISTINCT FROM iseg
  UNION ALL
  -- brand-new key
  SELECT ik, inat, iseg, '2021-06-15', NULL, 1 FROM j
  WHERE ck IS NULL AND ik IS NOT NULL
  UNION ALL
  -- missing from snapshot: closed (close_missing)
  SELECT ck, cn, cs, '2020-01-01', '2021-06-14', 0 FROM j
  WHERE ck IS NOT NULL AND ik IS NULL
)
"""


# ---------------------------------------------------------------------------
# Round-5 additions: semantic dedup, weighted sampling, mixture
# rebalancing, per-domain caps
# ---------------------------------------------------------------------------

def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style embedding-space pruning, full value-checked:
    fixed-quantizer cluster assignment (same codebook discipline as
    knn_ivf), then within-cluster cosine pairs >= 0.40 mark the
    higher id as a duplicate — pair work bounded by cluster size,
    never a global cartesian."""
    from claims_data_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    ).select("vec_id", F.col("vec").alias("embedding"))
    return semantic_dedup(
        emb, centroid_ids=[10, 60, 110, 160, 210, 260, 310, 360],
        threshold=0.40,
    )


SQL_SEMANTIC_DEDUP = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, vec AS cv FROM emb
  WHERE vec_id IN (10, 60, 110, 160, 210, 260, 310, 360)
), assigned AS (
  SELECT vec_id, vec, cid FROM (
    SELECT e.vec_id, e.vec, k.cid,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_SQL_COS.format(a="e.vec", b="k.cv")} DESC, k.cid
      ) AS rn
    FROM emb e CROSS JOIN cents k
  ) WHERE rn = 1
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_SQL_COS.format(a="a.vec", b="b.vec")} >= 0.40
)
SELECT a.vec_id, a.cid AS centroid_id,
  CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM assigned a LEFT JOIN dups d USING (vec_id)
"""


def q_diversity_sample(spark, sf_dir):
    """Cluster-balanced diversity sampling (operators/similarity.
    diversity_sample): nearest-centroid assignment over a fixed
    8-vector codebook (the knn_ivf coarse-quantizer discipline and its
    Arrow centroid ranker), then at most 40 survivors per cluster by
    the md5-pinned draw. Equal quotas flatten the embedding-space
    density — the coreset-selection step of data-pruning pipelines.
    Fully value-checked: assignment,
    draw ordering, and ranks are all engine-portable."""
    from claims_data_spark.operators.similarity import (
        _collect_fixed_centroids,
        diversity_sample,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    ).select("vec_id", F.col("vec").alias("embedding"))
    cents = _collect_fixed_centroids(
        emb, [10, 60, 110, 160, 210, 260, 310, 360], "vec_id", "embedding"
    )
    out = diversity_sample(
        emb, "embedding", "vec_id", [c for _, c in cents],
        n_per_cluster=40, seed="div",
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


SQL_DIVERSITY_SAMPLE = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, vec AS cv
  FROM emb WHERE vec_id IN (10, 60, 110, 160, 210, 260, 310, 360)
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, k.cid,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY {{_SQL_COS_A}} DESC, k.cid
      ) AS rn
    FROM emb e CROSS JOIN cents k
  ) WHERE rn = 1
), drawn AS (
  SELECT vec_id, cid,
    ROW_NUMBER() OVER (
      PARTITION BY cid
      ORDER BY CAST(concat('0x',
        substr(md5(CAST(vec_id AS VARCHAR) || 'div'), 1, 8)) AS BIGINT),
        vec_id
    ) AS rk
  FROM assigned
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
  CAST(rk AS BIGINT) AS sample_rank
FROM drawn WHERE rk <= 40
""".replace("{_SQL_COS_A}", _SQL_COS.format(a="e.vec", b="k.cv"))


def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement:
    top-150 documents by ln(u)/n_chars with md5-pinned uniforms —
    plans as TakeOrderedAndProject (local top-k per partition, O(k)
    driver merge, no global sort)."""
    from claims_data_spark.operators.corpus import weighted_sample

    d = spread(_t(spark, sf_dir, "documents"))
    return weighted_sample(
        d, k=150, weight_col="n_chars", id_col="doc_id",
    ).select("doc_id", "lang", "n_chars", "samp_key")


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, lang, n_chars, samp_key FROM (
  SELECT doc_id, lang, n_chars,
    ROUND(
      ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8))
           AS BIGINT) + 1.0) / 4294967296.0)
      / CAST(n_chars AS DOUBLE), 9) AS samp_key
  FROM documents WHERE n_chars > 0
) ORDER BY samp_key DESC, doc_id LIMIT 150
"""


def q_weighted_sample_grouped(spark, sf_dir):
    """Per-GROUP Efraimidis–Spirakis (operators/corpus.
    weighted_sample_grouped): exactly 3 docs per source, weighted by
    n_chars, md5-pinned uniforms — the per-domain quota form of
    weighted sampling. One exchange on the group key + a ranking
    window (P7 shape)."""
    from claims_data_spark.operators.corpus import weighted_sample_grouped

    d = spread(_t(spark, sf_dir, "documents"))
    return weighted_sample_grouped(
        d, k=3, weight_col="n_chars", id_col="doc_id", group_col="source",
    ).select("doc_id", "source", "n_chars", "samp_key")


SQL_WEIGHTED_SAMPLE_GROUPED = """
SELECT doc_id, source, n_chars, samp_key FROM (
  SELECT doc_id, source, n_chars, samp_key,
    ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY samp_key DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, source, n_chars,
      ROUND(
        ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'wsg'),
                 1, 8)) AS BIGINT) + 1.0) / 4294967296.0)
        / CAST(n_chars AS DOUBLE), 9) AS samp_key
    FROM documents WHERE n_chars > 0
  )
) WHERE rn <= 3
"""


def q_collocations(spark, sf_dir):
    """PMI collocation mining (operators/lm.collocations): global
    top-50 adjacent word pairs by pointwise mutual information with a
    >= 20 pair-count gate. One corpus-grain pair-count exchange;
    marginals are vocabulary-bounded rollups broadcast back; ln on
    exact integer ratios rounded to 6 dp before ranking (cross-engine
    1-ulp safety, the weighted_sample precedent)."""
    from claims_data_spark.operators.lm import collocations

    d = spread(_t(spark, sf_dir, "documents"))
    return collocations(d, min_count=20, top_k=50)


SQL_COLLOCATIONS = r"""
WITH w AS (
  SELECT list_filter(
    string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
  FROM documents WHERE text IS NOT NULL
), p AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || chr(31) || w[i + 1])) AS pk
  FROM w WHERE len(w) >= 2
), pc AS (
  SELECT split_part(pk, chr(31), 1) AS a, split_part(pk, chr(31), 2) AS b,
         COUNT(*) AS pair_n
  FROM p GROUP BY pk
), lm AS (SELECT a, SUM(pair_n) AS a_n FROM pc GROUP BY a),
rm AS (SELECT b, SUM(pair_n) AS b_n FROM pc GROUP BY b),
tot AS (SELECT SUM(pair_n) AS n_total FROM pc)
SELECT a, b, CAST(pair_n AS BIGINT) AS pair_n,
  CAST(a_n AS BIGINT) AS a_n, CAST(b_n AS BIGINT) AS b_n,
  ROUND(ln(CAST(pair_n AS DOUBLE) * CAST(n_total AS DOUBLE)
           / (CAST(a_n AS DOUBLE) * CAST(b_n AS DOUBLE))), 6) AS pmi
FROM pc JOIN lm USING (a) JOIN rm USING (b) CROSS JOIN tot
WHERE pair_n >= 20
ORDER BY pmi DESC, a, b LIMIT 50
"""


def q_mix_rebalance(spark, sf_dir):
    """Downsample-only mixture rebalancing to a target language
    distribution (the Pile/DoReMi domain-mixing step): T = min(W/p)
    over strata, per-stratum keep-rate p*T/W, md5-thinned — one tiny
    aggregate broadcast back, the corpus sees one map-only filter.
    Round-7: the mixture unit is TOKEN-weighted (``weight_col=
    'n_chars'`` — LLM mixtures are specified in token shares and
    doc-count mixing skews toward short-doc strata), so the stratum
    totals are char sums, exercising the weighted surface end-to-end."""
    from claims_data_spark.operators.corpus import mix_rebalance

    d = spread(_t(spark, sf_dir, "documents"))
    out = mix_rebalance(
        d, strata_col="lang",
        target={"en": 0.3, "de": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.1},
        id_col="doc_id",
        weight_col="n_chars",
    )
    return out.select(
        "doc_id", "lang", "source",
        F.round("keep_rate", 6).alias("keep_rate"),
    )


SQL_MIX_REBALANCE = """
WITH tgt(lang, p) AS (
  VALUES ('en', 0.3), ('de', 0.2), ('es', 0.2), ('fr', 0.2), ('zh', 0.1)
), n AS (
  SELECT lang, SUM(COALESCE(CAST(n_chars AS DOUBLE), 0.0)) AS n
  FROM documents GROUP BY lang
), t AS (
  SELECT MIN(n.n / tgt.p) AS t FROM n JOIN tgt USING (lang)
), rates AS (
  SELECT n.lang, LEAST(1.0, tgt.p * t.t / n.n) AS keep_rate
  FROM n JOIN tgt USING (lang), t
)
SELECT d.doc_id, d.lang, d.source, ROUND(r.keep_rate, 6) AS keep_rate
FROM documents d JOIN rates r USING (lang)
WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 8))
           AS BIGINT) / 4294967295.0 < r.keep_rate
"""


def q_domain_cap(spark, sf_dir):
    """C4/RefinedWeb per-domain document cap: host extracted from the
    URL by codegen regexp, blocklisted hosts filtered BEFORE the
    shuffle, top-15 docs per host by (n_chars desc, doc_id). The URL
    is derived deterministically from source/lang/doc_id (the corpus
    table carries no URL column)."""
    from claims_data_spark.operators.web import domain_cap

    d = spread(_t(spark, sf_dir, "documents")).withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ),
    )
    out = domain_cap(
        d, "url", k=15, order_cols=[F.col("n_chars").desc()],
        id_col="doc_id", blocklist=["src13.example.org"],
    )
    return out.select(
        "doc_id", "host", "n_chars",
        F.col("domain_rank").cast("long").alias("domain_rank"),
    )


SQL_DOMAIN_CAP = """
WITH d AS (
  SELECT doc_id, n_chars,
    lower(regexp_extract(
      'https://' || source || '.example.org/' || lang || '/'
        || CAST(doc_id AS VARCHAR),
      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
  FROM documents
)
SELECT doc_id, host, n_chars, domain_rank FROM (
  SELECT doc_id, host, n_chars,
    ROW_NUMBER() OVER (
      PARTITION BY host ORDER BY n_chars DESC, doc_id
    ) AS domain_rank
  FROM d WHERE host <> 'src13.example.org'
) WHERE domain_rank <= 15
"""


def q_record_linkage(spark, sf_dir):
    """Blocked fuzzy record linkage (the probabilistic step ahead of
    the reference's deterministic xwalk, tables/xwalk.py). Each
    customer carries an MRN-style surrogate identifier (16 hex chars
    of md5 — high-entropy, like real record numbers; the low-entropy
    synthetic name columns would make fuzzy matching degenerate);
    noisy copies ('a' -> '@') link back to their originals via an
    equi-join on (nation, 2-hex prefix) blocks and a THRESHOLDED JVM
    levenshtein verify <= 4 over candidates only, never all-pairs;
    best match per probe by (dist, lowest id). Rows whose block prefix
    was itself corrupted stay unmatched — the classic blocking miss."""
    from claims_data_spark.operators.linkage import blocked_link

    c = _t(spark, sf_dir, "customer")
    ent = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 16)
    noisy = F.regexp_replace(ent, "a", "@")
    left = c.select(
        F.col("c_custkey").alias("lid"),
        ent.alias("ltxt"),
        "c_nationkey",
        F.substring(ent, 1, 2).alias("blk"),
    )
    right = c.select(
        (F.col("c_custkey") + 10000000).alias("rid"),
        noisy.alias("rtxt"),
        "c_nationkey",
        F.substring(noisy, 1, 2).alias("blk"),
    )
    return blocked_link(
        left, right, ["c_nationkey", "blk"],
        left_id="lid", right_id="rid",
        left_text="ltxt", right_text="rtxt", max_dist=4,
    )


SQL_RECORD_LINKAGE = """
WITH base AS (
  SELECT c_custkey, c_nationkey,
         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS ent
  FROM customer
), l AS (
  SELECT c_custkey AS lid, ent AS ltxt, c_nationkey,
         substr(ent, 1, 2) AS blk
  FROM base
), r AS (
  SELECT c_custkey + 10000000 AS rid, replace(ent, 'a', '@') AS rtxt,
         c_nationkey, substr(replace(ent, 'a', '@'), 1, 2) AS blk
  FROM base
), pairs AS (
  SELECT r.rid, l.lid, levenshtein(l.ltxt, r.rtxt) AS dist,
         l.ltxt, r.rtxt
  FROM l JOIN r ON l.c_nationkey = r.c_nationkey AND l.blk = r.blk
)
SELECT rid, lid, CAST(dist AS INT) AS dist,
  ROUND(1.0 - dist / CAST(GREATEST(len(ltxt), len(rtxt)) AS DOUBLE), 6)
    AS sim
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY rid ORDER BY dist, lid) AS rn
  FROM pairs WHERE dist <= 4
) WHERE rn = 1
"""


_WP_VOCAB = [
    "table", "tab", "win", "dow", "window", "spark", "par", "scan",
    "sort", "str", "eam", "stream", "val", "ue", "quer", "cust",
    "omer", "join", "filt", "er", "ord", "dat", "gro", "up", "lin",
    "bat", "ch", "mer", "ge", "key", "agg", "row", "hash", "col",
    "umn", "sma", "ll", "big", "fas", "slo", "the",
]


def q_wordpiece_tokenize(spark, sf_dir):
    """True subword tokenization without a UDF: the vocab compiles to
    ONE longest-first alternation regexp, and regexp_extract_all's
    leftmost-first scan IS greedy longest-match wordpiece (single-char
    fallback = UNK-per-char). Map-only codegen at any corpus size;
    the md5 digest value-checks exact token boundaries, not just
    counts."""
    from claims_data_spark.functions.tokenize import wordpiece_tokens

    d = spread(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    toks = wordpiece_tokens(F.col("text"), _WP_VOCAB)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.array_join(toks, "|")).alias("tok_digest"),
    )


def _sql_wordpiece() -> str:
    from claims_data_spark.functions.tokenize import (
        compile_wordpiece_pattern,
    )

    pat = compile_wordpiece_pattern(_WP_VOCAB)
    return f"""
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_extract_all(lower(text), '{pat}', 1),
                x -> trim(x) <> '') AS toks
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
  md5(array_to_string(toks, '|')) AS tok_digest
FROM t
"""


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-frequency line dedup (operators/corpus.
    line_dedup): each document is segmented into 10-word "lines" with
    a per-source nav header and a per-language copyright footer
    prepended/appended — the boilerplate every crawl carries. Lines
    recurring in >= 5 distinct documents are dropped corpus-wide and
    the survivors reassemble in original order. One count exchange on
    the normalized line + one reassembly exchange on the doc id; the
    boilerplate set is the heavy-hitter head, so the kept-line check
    is a broadcast anti-lookup."""
    from claims_data_spark.operators.corpus import line_dedup

    d = spread(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    words = F.split(F.trim(F.col("text")), r"\s+")
    nseg = F.greatest(
        F.ceil(F.size(words) / F.lit(10.0)).cast("int"), F.lit(1)
    )
    segs = F.transform(
        F.sequence(F.lit(1), nseg),
        lambda i: F.array_join(F.slice(words, (i - 1) * 10 + 1, 10), " "),
    )
    lines = F.concat(
        F.array(
            F.concat_ws(
                " ", F.lit("nav"), F.col("source"),
                F.lit("home search login"),
            )
        ),
        segs,
        F.array(
            F.concat_ws(
                " ", F.lit("copyright"), F.col("lang"),
                F.lit("all rights reserved"),
            )
        ),
    )
    out = line_dedup(
        d.withColumn("lines", lines).select("doc_id", "lines"),
        "lines", min_docs=5,
    )
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        "n_kept",
        F.md5("text_clean").alias("clean_digest"),
    )


SQL_LINE_DEDUP = r"""
WITH d AS (
  SELECT doc_id, lang, source, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
), built AS (
  SELECT doc_id,
    ['nav ' || source || ' home search login']
    || list_transform(
         generate_series(1, greatest(CAST(ceil(len(w) / 10.0) AS INT), 1)),
         i -> array_to_string(w[(i-1)*10+1 : i*10], ' '))
    || ['copyright ' || lang || ' all rights reserved'] AS lines
  FROM d
), ex AS (
  SELECT doc_id, unnest(lines) AS line,
         generate_subscripts(lines, 1) AS pos
  FROM built
), normed AS (
  SELECT doc_id, pos, line,
    regexp_replace(lower(trim(line)), '\s+', ' ', 'g') AS norm
  FROM ex
), boiler AS (
  SELECT norm FROM normed GROUP BY norm
  HAVING COUNT(DISTINCT doc_id) >= 5
), kept AS (
  SELECT n.doc_id, COUNT(*) AS n_kept,
    string_agg(n.line, chr(10) ORDER BY n.pos) AS text_clean
  FROM normed n LEFT JOIN boiler b ON n.norm = b.norm
  WHERE b.norm IS NULL
  GROUP BY n.doc_id
), totals AS (
  SELECT doc_id, len(lines) AS n_lines FROM built
)
SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
  md5(COALESCE(k.text_clean, '')) AS clean_digest
FROM totals t LEFT JOIN kept k USING (doc_id)
"""


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-pruned decontamination (operators/corpus.
    bloom_decontaminate): every 37th document plays the eval suite;
    training docs sharing any word 6-gram are flagged (6-grams make
    contamination SPARSE — ~0.25% of sf0.1 docs — which is the
    scenario the Bloom exists for: the clean 99.7% exit at the MAP
    stage having joined nothing). The Bloom filter (16 KiB of longs,
    xxhash64 probes, getbit — all whole-stage codegen) only prunes;
    Bloom-positive grams reach the exact verify join, so the output is
    bit-identical to the exact operator — which is why the oracle here
    IS the exact decontamination SQL."""
    from claims_data_spark.operators.corpus import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    _clean, contaminated = bloom_decontaminate(train, bench, n=6)
    return contaminated.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
    )


SQL_BLOOM_DECONTAMINATE = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents WHERE text IS NOT NULL
), doc_grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
      unnest(list_transform(generate_series(1, len(w) - 5),
             i -> array_to_string(w[i:i+5], ' '))) AS gram
    FROM words WHERE len(w) >= 6
  ) WHERE LENGTH(gram) > 0
), bench AS (
  SELECT DISTINCT gram FROM doc_grams WHERE doc_id % 37 = 0
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, COUNT(*) AS n_hits
FROM doc_grams d JOIN bench USING (gram)
WHERE d.doc_id % 37 <> 0
GROUP BY d.doc_id
"""


def q_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (operators/web.url_dedup): five raw URL
    variants per page — www prefix, uppercase scheme/host + default
    port, tracking params, reordered query params — derived
    deterministically from doc_id (base = doc_id div 5 is the page).
    Canonicalization collapses variants 0-2 to one key and 3-4 to
    another; the survivor per key is the lowest doc_id and
    ``n_variants`` audits the collapse. Map-only codegen + ONE
    exchange on the canonical key."""
    from claims_data_spark.operators.web import url_dedup

    # narrow to the key BEFORE the operator: url_dedup's min_by
    # survivor struct references every input column, which would
    # defeat column pruning and ship the documents' text through the
    # canonical-key exchange for a query that only returns doc_id
    d = _t(spark, sf_dir, "documents").select("doc_id")
    base = F.expr("doc_id div 5").cast("string")
    hn = F.expr("(doc_id div 5) % 7").cast("string")
    stem = F.concat(F.lit("https://h"), hn, F.lit(".example.org/doc/"), base)
    variants = F.array(
        F.concat(
            F.lit("https://www.h"), hn, F.lit(".example.org/doc/"), base
        ),
        F.concat(
            F.lit("HTTPS://H"), hn, F.lit(".EXAMPLE.ORG:443/doc/"), base
        ),
        F.concat(stem, F.lit("/?utm_source=feed&utm_medium=rss")),
        F.concat(stem, F.lit("?a=1&b=2")),
        F.concat(stem, F.lit("/?b=2&a=1&fbclid=abc")),
    )
    url = F.element_at(variants, (F.col("doc_id") % 5 + 1).cast("int"))
    out = url_dedup(d.withColumn("url", url), "url", "doc_id")
    return out.select("doc_id", "canon_url", "n_variants")


SQL_URL_DEDUP = r"""
WITH d AS (
  SELECT doc_id, doc_id // 5 AS base, doc_id % 5 AS v,
         (doc_id // 5) % 7 AS hn
  FROM documents
), u AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://www.h' || hn || '.example.org/doc/' || base
      WHEN 1 THEN 'HTTPS://H' || hn || '.EXAMPLE.ORG:443/doc/' || base
      WHEN 2 THEN 'https://h' || hn || '.example.org/doc/' || base
                  || '/?utm_source=feed&utm_medium=rss'
      WHEN 3 THEN 'https://h' || hn || '.example.org/doc/' || base
                  || '?a=1&b=2'
      ELSE 'https://h' || hn || '.example.org/doc/' || base
           || '/?b=2&a=1&fbclid=abc'
    END AS url
  FROM d
), parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
      AS auth,
    regexp_replace(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      '/+$', '') AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS q
  FROM u
), canon AS (
  SELECT doc_id,
    scheme || '://' ||
    CASE
      WHEN scheme = 'http'
           AND regexp_replace(auth, '^www\.', '') LIKE '%:80'
        THEN regexp_replace(regexp_replace(auth, '^www\.', ''), ':80$', '')
      WHEN scheme = 'https'
           AND regexp_replace(auth, '^www\.', '') LIKE '%:443'
        THEN regexp_replace(regexp_replace(auth, '^www\.', ''), ':443$', '')
      ELSE regexp_replace(auth, '^www\.', '')
    END || path ||
    CASE WHEN qq <> '' THEN '?' || qq ELSE '' END AS canon_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(
        string_split(q, '&'),
        p -> len(p) > 0 AND NOT regexp_matches(
          p, '^(utm_[^=]*|fbclid|gclid|mc_cid|mc_eid|ref)='))), '&') AS qq
    FROM parts
  )
)
SELECT doc_id, canon_url, n_variants FROM (
  SELECT doc_id, canon_url,
    ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn,
    CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_variants
  FROM canon
) WHERE rn = 1
"""


def q_streaming_dedup(spark, sf_dir):
    """At-least-once replay dedup (streaming/ingest.streaming_dedup):
    the event feed unioned with an identical redelivered copy, deduped
    back to one row per event_id. The streaming form
    (dropDuplicatesWithinWatermark — state bounded by the watermark
    horizon, not stream lifetime) is pinned by
    tests/test_corpus_curation2.py with a real availableNow file stream; this
    oracle-comparable entry runs the operator's batch degradation over
    the same frame. Replayed rows are bit-identical, so the arbitrary
    survivor is value-deterministic."""
    from claims_data_spark.streaming.ingest import streaming_dedup

    ev = _events(spark, sf_dir)
    doubled = ev.unionByName(ev)
    out = streaming_dedup(doubled, ["event_id"], ts_col="ts")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.round("value", 6).alias("value"),
    )


SQL_STREAMING_DEDUP = """
SELECT DISTINCT event_id, user_id, event_type, ROUND(value, 6) AS value
FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
"""


def q_pagerank(spark, sf_dir):
    """Fixed-point PageRank (operators/graph.pagerank): a link graph
    synthesized from orders (page s = o_custkey mod 2000 cites page
    d = o_orderkey mod 2000), ranked for 5 power iterations. ALL
    arithmetic is BIGINT (truncating shares, integer damping), so the
    ranks are retry-stable under any partitioning AND bit-identical to
    the DuckDB oracle's unrolled recurrence — an iterative algorithm
    with a full value check, not rows-only. Per iteration: one join
    exchange on the source key + one partial-aggregated sum on the
    destination key; lineage checkpoint-truncated."""
    from claims_data_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 2000).cast("long").alias("src"),
        (F.col("o_orderkey") % 2000).cast("long").alias("dst"),
    )
    return pagerank(edges, iterations=5).select(
        "node", F.col("rank_fp").cast("long").alias("rank_fp")
    )


def _pagerank_oracle_sql(iterations: int = 5, damping: int = 85,
                         mass: int = 10**12) -> str:
    """Unroll the exact integer recurrence to `iterations` CTEs —
    DuckDB's `//` floor-division on BIGINTs matches Spark's `div`
    bit-for-bit on the non-negative ranks."""
    head = f"""
WITH e AS (
  SELECT DISTINCT CAST(o_custkey % 2000 AS BIGINT) AS s,
                  CAST(o_orderkey % 2000 AS BIGINT) AS d
  FROM orders WHERE o_custkey % 2000 <> o_orderkey % 2000
), nodes AS (
  SELECT DISTINCT s AS node FROM e UNION SELECT DISTINCT d FROM e
), cnt AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT s, COUNT(*) AS dg FROM e GROUP BY s),
r0 AS (
  SELECT node, {mass} // (SELECT n FROM cnt) AS r FROM nodes
)"""
    iters = []
    for i in range(1, iterations + 1):
        iters.append(f""",
r{i} AS (
  SELECT n.node,
    ((100 - {damping}) * ({mass} // (SELECT n FROM cnt))) // 100
      + ({damping} * COALESCE(c.contrib, 0)) // 100 AS r
  FROM nodes n LEFT JOIN (
    SELECT e.d AS node, SUM(r{i-1}.r // deg.dg) AS contrib
    FROM e JOIN r{i-1} ON r{i-1}.node = e.s JOIN deg ON deg.s = e.s
    GROUP BY e.d
  ) c ON c.node = n.node
)"""
        )
    return (
        head + "".join(iters)
        + f"\nSELECT node, CAST(r AS BIGINT) AS rank_fp FROM r{iterations}"
    )


SQL_PAGERANK = _pagerank_oracle_sql()

# demo model: int8-range weights from a fixed formula (training is
# offline in production; inference is what the engine runs at scale)
_HLC_WEIGHTS = [((i * 37) % 17) - 8 for i in range(64)]


def q_quality_classify(spark, sf_dir):
    """Hashed linear quality classifier (operators/classify): the
    fastText-style corpus-quality gate as pure map-only codegen —
    word unigram + bigram features hashed into 64 md5 buckets, int
    weight lookup from a plan-literal array, BIGINT logit sum,
    integer threshold gate (sigmoid is monotone, so thresholding the
    logit IS thresholding the probability without the transcendental).
    No joins, no shuffles; fixed-point arithmetic = retry-stable and
    bit-identical to the DuckDB oracle."""
    from claims_data_spark.operators.classify import quality_classify

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    out = quality_classify(
        d, "text", _HLC_WEIGHTS, bias=3, threshold=0, word_ngrams=2
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "logit_fp", "keep"
    )


SQL_QUALITY_CLASSIFY = f"""
WITH d AS (
  SELECT doc_id,
    list_filter(
      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
      w -> len(w) > 0) AS words
  FROM documents WHERE text IS NOT NULL
), f AS (
  SELECT doc_id,
    words || CASE WHEN len(words) >= 2 THEN
      list_transform(generate_series(1, len(words) - 1),
                     i -> words[i] || ' ' || words[i + 1])
      ELSE [] END AS feats
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(3 + COALESCE(list_sum(list_transform(feats,
    t -> list_extract({_HLC_WEIGHTS},
           CAST(concat('0x', substr(md5(t || 'hlc'), 1, 8)) AS BIGINT)
             % 64 + 1))), 0) AS BIGINT) AS logit_fp,
  CAST(3 + COALESCE(list_sum(list_transform(feats,
    t -> list_extract({_HLC_WEIGHTS},
           CAST(concat('0x', substr(md5(t || 'hlc'), 1, 8)) AS BIGINT)
             % 64 + 1))), 0) AS BIGINT) >= 0 AS keep
FROM f
"""


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequent words (operators/sketches.
    cms_heavy_hitters): words recurring >= 40 times corpus-wide, with
    the CMS estimate. The grid build is groupBy(depth, bucket) —
    partial aggregation makes each task emit at most depth x width
    pre-merged rows, so the exchange is FIXED-SIZE regardless of item
    cardinality (the 100 TB argument). md5 hash family => every
    collision is deterministic, so the estimates are value-checked
    against the oracle's replica grid, not tolerance-tested."""
    from claims_data_spark.operators.sketches import cms_heavy_hitters

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.select(
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                    " ",
                ),
                lambda w: F.length(w) > 0,
            )
        ).alias("word")
    )
    out = cms_heavy_hitters(words, "word", threshold=40, hash_family="md5")
    return out.select("word", F.col("est_count").cast("long").alias("est_count"))


SQL_CMS_HEAVY_HITTERS = r"""
WITH occ AS (
  SELECT unnest(list_filter(
    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
    w -> len(w) > 0)) AS item
  FROM documents WHERE text IS NOT NULL
), keyed AS (
  SELECT item, j,
    CAST(concat('0x', substr(md5(item || chr(31) || 'cms' || chr(31)
                                  || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
      % 8192 AS b
  FROM occ, generate_series(0, 3) AS t(j)
), grid AS (
  SELECT j, b, COUNT(*) AS n FROM keyed GROUP BY j, b
), cand AS (
  SELECT DISTINCT item, j, b FROM keyed
)
SELECT c.item AS word, CAST(MIN(g.n) AS BIGINT) AS est_count
FROM cand c JOIN grid g USING (j, b)
GROUP BY c.item
HAVING MIN(g.n) >= 40
"""


def q_knn_rh_lsh(spark, sf_dir):
    """Random-hyperplane LSH kNN (operators/similarity.rh_lsh_topk):
    the codebook-free ANN path — signatures are sign bits of INTEGER
    dot products (int8-quantized vectors x md5-derived integer
    hyperplanes), so candidate generation is engine-exact; candidates
    equi-join on (band, packed-key) buckets and verify with exact
    float cosine before ranking. 24 planes, 3 bands of 8 bits, k=5
    over the embeddings table (queries = vec_id < 5)."""
    from claims_data_spark.operators.similarity import rh_lsh_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform("embedding", lambda x: x.cast("double"))
    ).select("vec_id", F.col("vec").alias("embedding"))
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return rh_lsh_topk(corpus, queries_df, dim=64, k=5).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("vec_id").cast("long").alias("vec_id"),
        "cos_sim",
        "rank",
    )


def _rh_lsh_oracle_sql(num_planes: int = 24, band_size: int = 8,
                       dim: int = 64, k: int = 5) -> str:
    """Replicate quantization, integer sign bits, band keys, the
    bucket join and the cosine-verified ranking in DuckDB, with the
    same md5-derived hyperplanes embedded as literals."""
    from claims_data_spark.operators.similarity import rh_planes

    planes = rh_planes(num_planes, dim)
    planes_lit = "[" + ", ".join(
        "[" + ", ".join(str(c) for c in p) + "]" for p in planes
    ) + "]"
    band_key = lambda bi: " + ".join(  # noqa: E731
        f"(CASE WHEN list_aggregate(list_transform(generate_series(1, {dim}),"
        f" i -> q[i] * pl[{bi * band_size + j + 1}][i]), 'sum') >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(band_size)
    )
    bands_struct = ", ".join(
        f"{{'band': {bi}, 'key': {band_key(bi)}}}"
        for bi in range(num_planes // band_size)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), quant AS (
  SELECT vec_id, v,
    CASE WHEN list_max(list_transform(v, x -> ABS(x))) > 0
      THEN list_transform(v,
        x -> CAST(FLOOR(x / (list_max(list_transform(v, y -> ABS(y)))
                             / 127.0) + 0.5) AS INT))
      ELSE list_transform(v, x -> 0) END AS q
  FROM emb
), keyed AS (
  SELECT vec_id, v, unnest([{bands_struct}]) AS bk
  FROM (SELECT vec_id, v, q, {planes_lit} AS pl FROM quant)
), cb AS (
  SELECT vec_id, v, bk.band AS band, bk.key AS key FROM keyed
  WHERE vec_id >= 5
), qb AS (
  SELECT vec_id AS query_id, v AS qv, bk.band AS band, bk.key AS key
  FROM keyed WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT qb.query_id, cb.vec_id
  FROM cb JOIN qb USING (band, key)
), scored AS (
  SELECT c.query_id, c.vec_id,
    {_SQL_COS.format(a="e.v", b="q.qv")} AS cs
  FROM cand c
  JOIN emb e ON e.vec_id = c.vec_id
  JOIN (SELECT DISTINCT query_id, qv FROM qb) q ON q.query_id = c.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(vec_id AS BIGINT) AS vec_id,
       ROUND(cs, 6) AS cos_sim, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


SQL_KNN_RH_LSH = _rh_lsh_oracle_sql()


def q_image_resize(spark, sf_dir):
    """REAL BMP resize through the strict media path (operators/
    multimodal.image_resize): executors encode an 8x8 gradient BMP
    per document (pixel(r,c) = [(r*16+c+doc_id)%256, (c*3)%256, 7]),
    the operator byte-parses it, nearest-neighbor resamples to 4x4
    with integer index maps (src row = (r*8) div 4 = 2r) and
    re-encodes; ``pixel_sum`` integrates the output channels. The
    index arithmetic is exact, so DuckDB verifies the whole
    decode-resize-reencode analytically from the gradient formula —
    no decoder on the oracle side. Both stages are Arrow mapInPandas;
    map-only, zero shuffles."""
    import numpy as np

    from claims_data_spark.operators.codecs import encode_bmp
    from claims_data_spark.operators.multimodal import image_resize

    d = spread(_t(spark, sf_dir, "documents"))

    def make_images(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                px = np.zeros((8, 8, 3), np.uint8)
                for r in range(8):
                    for c in range(8):
                        px[r, c] = [(r * 16 + c + did) % 256, (c * 3) % 256, 7]
                rows.append((did, encode_bmp(px)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = d.select("doc_id").mapInPandas(
        make_images, "media_id long, content binary"
    )
    out = image_resize(media, 4, 4, method="nearest")
    return out.select(
        "media_id", "out_width", "out_height", "pixel_sum"
    )


SQL_IMAGE_RESIZE = """
WITH g AS (
  SELECT r.x AS r, c.x AS c
  FROM generate_series(0, 3) r(x), generate_series(0, 3) c(x)
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CAST(4 AS INT) AS out_width, CAST(4 AS INT) AS out_height,
  CAST(SUM(((2 * r) * 16 + 2 * c + doc_id) % 256
           + ((2 * c) * 3) % 256 + 7) AS BIGINT) AS pixel_sum
FROM documents, g
GROUP BY doc_id
"""


def q_text_normalize(spark, sf_dir):
    """Unicode normalization gate (functions/text.normalize_text):
    documents wrapped in the typographic noise crawls carry — curly
    quotes, NBSP, em dash, ellipsis, a zero-width space — then folded
    to canonical ASCII-ish form. Pure translate/regexp codegen,
    map-only; digest + length pin every folding rule byte-for-byte."""
    from claims_data_spark.functions.text import normalize_text

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    noisy = F.concat(
        F.lit("“"), F.col("source"), F.lit("”\u00a0— "),
        F.col("text"), F.lit(" …\u200b"),
    )
    norm = normalize_text(noisy)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(norm).alias("norm_digest"),
        F.length(norm).cast("long").alias("n_chars"),
    )


SQL_TEXT_NORMALIZE = r"""
WITH noisy AS (
  SELECT doc_id,
    chr(8220) || source || chr(8221) || chr(160) || chr(8212) || ' '
      || text || ' ' || chr(8230) || chr(8203) AS t
  FROM documents WHERE text IS NOT NULL
), folded AS (
  SELECT doc_id,
    translate(
      regexp_replace(
        regexp_replace(t,
          chr(8203)||'|'||chr(8204)||'|'||chr(8205)||'|'||chr(65279)
            ||'|'||chr(173), '', 'g'),
        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      chr(8216)||chr(8217)||chr(8218)||chr(8249)||chr(8250)
        ||chr(8220)||chr(8221)||chr(8222)||chr(171)||chr(187)
        ||chr(8211)||chr(8212)||chr(8722)||chr(160)||chr(12288),
      repeat(chr(39), 3) || '<>' || repeat(chr(34), 5)
        || '---' || '  ') AS t
  FROM noisy
), norm AS (
  SELECT doc_id,
    trim(regexp_replace(lower(replace(t, chr(8230), '...')),
                        '\s+', ' ', 'g')) AS t
  FROM folded
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(t) AS norm_digest,
       CAST(length(t) AS BIGINT) AS n_chars
FROM norm
"""


def q_learn_bpe(spark, sf_dir):
    """Distributed BPE vocabulary induction (operators/bpe.learn_bpe):
    6 merge rounds over the documents word-frequency table. The merge
    loop is data-dependent (each round re-segments by the previous
    argmax), but with the round COUNT fixed the recurrence unrolls
    into a DuckDB CTE chain (the pagerank_authority precedent): each
    round is one weighted pair-count aggregate, a deterministic argmax
    (cnt desc, pair asc — WHERE cnt >= min_pair_count, so early stop
    falls out as an empty winner CTE whose rounds pass through
    unchanged), and one greedy left-to-right re-segmentation — which
    on the double-space-delimited symbol form IS non-overlapping
    string replace (the boundary algebra the driver already value-
    proved on bpe_encode). Exact-mirror pytests in tests/test_bpe.py
    remain. Corpus touched once; each round = one dimension-scale
    pair-count exchange + a 1-row argmax collect."""
    from claims_data_spark.operators.bpe import learn_bpe

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    merges, _vocab = learn_bpe(d, num_merges=6)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_idx int, left string, right string",
    )


def _learn_bpe_oracle(num_merges: int = 6, min_pair_count: int = 2) -> str:
    """Unroll ``num_merges`` Sennrich rounds as a DuckDB CTE
    recurrence over the word-frequency table. Round r: p{r} counts
    adjacent symbol pairs weighted by word count (symbols recovered by
    splitting the delimited form on the double-space separator — a
    symbol can never contain a space), w{r} is the deterministic
    argmax gated on min_pair_count, t{r} re-segments via ONE
    non-overlapping left-to-right replace (scalar subqueries; an empty
    winner makes replace NULL and coalesce passes the table through —
    the engine's early-stop break, expressed statefully)."""
    parts = [r"""WITH words AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(list_filter(
      string_split(trim(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), ' '),
      x -> length(x) > 0)) AS w
    FROM documents WHERE text IS NOT NULL
  ) GROUP BY w
), t0 AS MATERIALIZED (
  SELECT word, n,
    ' ' || regexp_replace(word, '(.)', '\1  ', 'g') || '</w> ' AS sym
  FROM words
)"""]
    for r in range(1, num_merges + 1):
        parts.append(f""", p{r} AS MATERIALIZED (
  SELECT l[i] AS a, l[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt FROM (
    SELECT n, unnest(range(1, len(l))) AS i, l
    FROM (SELECT n, string_split(trim(sym, ' '), '  ') AS l FROM t{r-1})
  ) GROUP BY 1, 2
), w{r} AS MATERIALIZED (
  SELECT a, b FROM p{r} WHERE cnt >= {min_pair_count}
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
), t{r} AS MATERIALIZED (
  SELECT word, n,
    coalesce(replace(sym,
      (SELECT ' ' || a || '  ' || b || ' ' FROM w{r}),
      (SELECT ' ' || a || b || ' ' FROM w{r})), sym) AS sym
  FROM t{r-1}
)""")
    union = "\n  UNION ALL ".join(
        f'SELECT CAST({r - 1} AS INTEGER) AS merge_idx, '
        f'a AS "left", b AS "right" FROM w{r}'
        for r in range(1, num_merges + 1)
    )
    parts.append(f'\nSELECT merge_idx, "left", "right" FROM (\n  {union}\n)')
    return "".join(parts)


SQL_LEARN_BPE = _learn_bpe_oracle(num_merges=6, min_pair_count=2)


# pinned BPE merge table for the encode query — a realistic learned
# ordering over the documents vocabulary (suffix merges first). The
# oracle's whole-document replace chain is exact ONLY because no left
# side is (or ends with) '</w>': such a pair could match across a word
# boundary, and no learned merge can ever produce one ('</w>' is
# always word-final during training).
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("e", "r"), ("er", "</w>"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("o", "r"), ("b", "a"),
    ("ba", "t"), ("bat", "c"), ("batc", "h"), ("t", "a"), ("j", "o"),
    ("jo", "i"), ("joi", "n"), ("join", "</w>"),
]
assert not any(a == "</w>" or a.endswith("</w>") for a, _ in _BPE_MERGES)


def q_bpe_encode(spark, sf_dir):
    """BPE corpus encoding (operators/bpe.bpe_encode): apply the
    pinned 18-merge table to every document; per-doc token count plus
    an md5 digest of the exact token sequence. The engine encodes the
    DISTINCT-WORD dimension table (one map-only replace per merge —
    greedy Sennrich re-segmentation IS non-overlapping left-to-right
    string replace on the double-space-delimited symbol form) and
    broadcast-joins the encoded words back to the positional word
    stream; the oracle independently encodes each WHOLE document with
    the same replace algebra (sound because no merge's left side ends
    in '</w>' — see _BPE_MERGES). Same values, genuinely different
    computation paths."""
    from claims_data_spark.operators.bpe import bpe_encode

    d = spread(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    out = bpe_encode(d.select("doc_id", "text"), _BPE_MERGES)
    return out.select(
        "doc_id",
        "n_tokens",
        F.md5(F.array_join("tokens", "|")).alias("tok_digest"),
    )


def _sql_bpe_encode() -> str:
    chain = "seed"
    for a, b in _BPE_MERGES:
        chain = f"replace({chain}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
WITH seeded AS (
  SELECT doc_id,
    CASE WHEN norm = '' THEN ''
         ELSE ' ' || replace(
                regexp_replace(norm, '([^ ])', '\\1  ', 'g'),
                '   ', '  </w>  ') || '</w> '
    END AS seed
  FROM (
    SELECT doc_id,
      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
    FROM documents WHERE text IS NOT NULL
  )
), merged AS (
  SELECT doc_id, trim({chain}) AS tokstr FROM seeded
)
SELECT doc_id,
  CAST(CASE WHEN tokstr = '' THEN 0
            ELSE len(string_split(tokstr, '  ')) END AS BIGINT)
    AS n_tokens,
  md5(replace(tokstr, '  ', '|')) AS tok_digest
FROM merged
"""


SQL_BPE_ENCODE = _sql_bpe_encode()


def q_html_extract(spark, sf_dir):
    """HTML boilerplate extraction (operators/web.html_extract): the
    step BEFORE every text operator in a crawl pipeline. Deterministic
    HTML wrappers (head/script/style/comment/anchors, entity-escaped
    body, one doc in five with a tracking-pixel script block) are
    synthesized around each document's text from doc_id, then the
    extractor recovers the visible text plus the n_links and
    html_ratio crawl-audit columns. Pure regexp/replace codegen,
    map-only, no shuffle; the SAME rule set runs on java.util.regex
    (engine) and RE2 (oracle) — patterns use no lookaround or
    backreferences, and the oracle passes explicit 'g' flags where
    DuckDB defaults to first-match-only."""
    from claims_data_spark.operators.web import html_extract

    d = spread(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    k = F.col("doc_id")
    body = F.replace(F.col("text"), F.lit("a"), F.lit("&amp;"))
    html = F.concat(
        F.lit("<html><head><title>doc "), k.cast("string"),
        F.lit("</title>"),
        F.when(
            k % 5 == 0,
            F.concat(F.lit("<script type='text/javascript'>track("),
                     k.cast("string"), F.lit(");</script>")),
        ).otherwise(F.lit("")),
        F.lit("<style>p{margin:0}</style></head><body><h1>H</h1><p>"),
        body,
        F.lit("</p><a href='/d/"), k.cast("string"),
        F.lit("'>self</a><a name='x'>plain</a><!-- crawler:"),
        k.cast("string"), F.lit(" --></body></html>"),
    )
    out = html_extract(
        d.select("doc_id", html.alias("html")), "html"
    )
    return out.select(
        "doc_id",
        F.md5("text_extracted").alias("text_digest"),
        F.length("text_extracted").cast("long").alias("text_len"),
        "n_links",
        "html_ratio",
    )


SQL_HTML_EXTRACT = """
WITH raw AS (
  SELECT doc_id,
    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title>'
    || CASE WHEN doc_id % 5 = 0
            THEN '<script type=''text/javascript''>track('
                 || CAST(doc_id AS VARCHAR) || ');</script>'
            ELSE '' END
    || '<style>p{margin:0}</style></head><body><h1>H</h1><p>'
    || replace(text, 'a', '&amp;')
    || '</p><a href=''/d/' || CAST(doc_id AS VARCHAR)
    || '''>self</a><a name=''x''>plain</a><!-- crawler:'
    || CAST(doc_id AS VARCHAR) || ' --></body></html>' AS html
  FROM documents WHERE text IS NOT NULL
), stripped AS (
  SELECT doc_id, html,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(html,
                '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
              '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS t
  FROM raw
)
SELECT doc_id, md5(t) AS text_digest,
  CAST(length(t) AS BIGINT) AS text_len,
  CAST(len(regexp_extract_all(html, '(?i)<a\\s[^>]*href', 0)) AS BIGINT)
    AS n_links,
  CASE WHEN length(html) > 0
       THEN round((length(html) - length(t)) / CAST(length(html) AS DOUBLE), 6)
       ELSE 0.0 END AS html_ratio
FROM stripped
"""


def q_corpus_diff(spark, sf_dir):
    """Corpus snapshot diff (operators/corpus.corpus_diff +
    corpus_diff_summary): release N vs a synthesized release N+1
    (every 7th doc removed, every 5th surviving doc's text edited,
    one new doc per 11th id) — per-status doc counts plus an ORDERLESS
    id checksum (sum of 60-bit md5 ints as DECIMAL(38,0), the portable
    md5 family) so a downstream system can verify delta membership
    without ordering. ONE full-outer shuffle join on the id + one
    map-side-partial aggregation."""
    from claims_data_spark.operators.corpus import (
        corpus_diff,
        corpus_diff_summary,
    )

    d = spread(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    old = d.select("doc_id", "text", "lang")
    surviving = d.filter(F.col("doc_id") % 7 != 0)
    edited = surviving.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
        "lang",
    )
    added = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.col("text"),
        F.lit("new").alias("lang"),
    )
    new = edited.unionByName(added)
    return corpus_diff_summary(corpus_diff(old, new, "doc_id"))


SQL_CORPUS_DIFF = """
WITH base AS (
  SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL
), old AS (
  SELECT * FROM base
), new AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
    lang
  FROM base WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text, 'new' AS lang
  FROM base WHERE doc_id % 11 = 0
), diff AS (
  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
    CASE WHEN o.doc_id IS NULL THEN 'added'
         WHEN n.doc_id IS NULL THEN 'removed'
         WHEN o.text IS NOT DISTINCT FROM n.text
          AND o.lang IS NOT DISTINCT FROM n.lang THEN 'unchanged'
         ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(CAST(sum(CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS UBIGINT) AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR)
    AS id_checksum
FROM diff GROUP BY status
"""


def q_top_causes_window(spark, sf_dir):
    """Top causes with the round-7 parameter-parity surface
    (api.top_causes; R/top_causes.R:55-346): per-person date windows
    (``ind_dates=True`` — cohort rows outside the global window drop,
    windows clip to it, claims count only inside THAT person's
    window), ``type='ed'`` (distinct-ED-episode counting via the
    type→event-id map), the reference's ``IN ('01','admit')``
    primary-dx rule (some claims carry an 'admit'-numbered primary
    row), and ``catch_all=False`` (CCS categories flagged catch-all
    drop, NULL-flag rows keep). Fixture: cohort/window grid from
    ``customer``, headers from ``orders`` (every 13th claim loses its
    primary diagnosis, every 3rd carries an ED episode id), a
    two-row-per-claim dx table, and a 40-code x 2-version CCS
    reference grid built from ``range``."""
    from claims_data_spark.api import top_causes

    gf, gt = "1995-01-01", "1996-12-31"
    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    cohort = c.select(
        ck.alias("id_mcaid"),
        F.date_add(F.lit(gf).cast("date"), ((ck % 200) * 5).cast("int"))
        .alias("from_date"),
        F.date_add(F.lit(gf).cast("date"), ((ck % 200) * 5 + 180).cast("int"))
        .alias("to_date"),
    )
    o = _t(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    header = o.select(
        F.col("o_custkey").alias("id_mcaid"),
        ok.alias("claim_header_id"),
        F.col("o_orderdate").cast("date").alias("first_service_date"),
        F.when(ok % 3 == 0, F.floor(ok / 3)).alias("ed_pophealth_id"),
        F.when(ok % 13 != 0, F.lit("dx")).alias("primary_diagnosis"),
    )
    ver = F.when(ok % 2 == 0, 9).otherwise(10).cast("int")
    dx_a = o.select(
        ok.alias("claim_header_id"),
        F.when(ok % 7 == 0, "admit")
        .when(ok % 11 == 0, "03")
        .otherwise("01")
        .alias("icdcm_number"),
        F.concat(F.lit("C"), (ok % 40).cast("int").cast("string"))
        .alias("icdcm_norm"),
        ver.alias("icdcm_version"),
    )
    dx_b = o.select(
        ok.alias("claim_header_id"),
        F.lit("02").alias("icdcm_number"),
        F.concat(F.lit("C"), ((ok + 17) % 40).cast("int").cast("string"))
        .alias("icdcm_norm"),
        ver.alias("icdcm_version"),
    )
    icdcm = dx_a.unionByName(dx_b)
    # 80-row CCS reference grid as a LocalRelation (a driver-side
    # literal list, zero scan jobs; a range x crossJoin build spent a
    # BroadcastNestedLoopJoin job on 80 rows)
    ref = spark.createDataFrame(
        [
            (
                f"C{i}",
                v,
                f"cat{i % 12}",
                1 if i % 10 == 0 else (None if i % 5 == 0 else 0),
            )
            for i in range(40)
            for v in (9, 10)
        ],
        "icdcm string, icdcm_version int, ccs_detail_desc string, "
        "ccs_catch_all int",
    )
    out = top_causes(
        cohort, header, icdcm, ref, gf, gt,
        top_n=10, type="ed", catch_all=False, primary_dx=True,
        ind_dates=True,
    )
    return out.select(
        "ccs_detail_desc",
        F.col("event_count").cast("long").alias("event_count"),
        F.col("rk").cast("long").alias("rk"),
    )


SQL_TOP_CAUSES_WINDOW = """
WITH coh AS (
  SELECT DISTINCT c_custkey AS id,
    GREATEST(DATE '1995-01-01' + CAST((c_custkey % 200) * 5 AS INT),
             DATE '1995-01-01') AS f,
    LEAST(DATE '1995-01-01' + CAST((c_custkey % 200) * 5 + 180 AS INT),
          DATE '1996-12-31') AS t
  FROM customer
  WHERE NOT (DATE '1995-01-01' + CAST((c_custkey % 200) * 5 + 180 AS INT)
               < DATE '1995-01-01'
          OR DATE '1995-01-01' + CAST((c_custkey % 200) * 5 AS INT)
               > DATE '1996-12-31')
), ev AS (
  SELECT o.o_orderkey AS claim,
         CAST(FLOOR(o.o_orderkey / 3) AS BIGINT) AS ed_id
  FROM orders o JOIN coh c ON o.o_custkey = c.id
  WHERE CAST(o.o_orderdate AS DATE)
          BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    AND o.o_orderkey % 13 <> 0
    AND o.o_orderkey % 3 = 0
    AND CAST(o.o_orderdate AS DATE) BETWEEN c.f AND c.t
), dx AS (
  -- the primary-dx rule is IN ('01','admit'): row A is 'admit' for
  -- every 7th claim (kept), '03' for every 11th (dropped), '01'
  -- otherwise; row B ('02') never qualifies
  SELECT o_orderkey AS claim,
         'C' || CAST(o_orderkey % 40 AS INT) AS code,
         CASE WHEN o_orderkey % 2 = 0 THEN 9 ELSE 10 END AS ver
  FROM orders
  WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 <> 0
), ref AS (
  SELECT 'C' || CAST(r.range AS INT) AS code, v.ver,
         'cat' || CAST(r.range % 12 AS INT) AS cat,
         CASE WHEN r.range % 10 = 0 THEN 1
              WHEN r.range % 5 = 0 THEN NULL ELSE 0 END AS catch_all
  FROM range(40) r CROSS JOIN (VALUES (9), (10)) v(ver)
), counted AS (
  SELECT ref.cat AS ccs_detail_desc,
         COUNT(DISTINCT ev.ed_id) AS event_count
  FROM ev
  JOIN dx ON ev.claim = dx.claim
  JOIN ref ON dx.code = ref.code AND dx.ver = ref.ver
  WHERE ref.catch_all IS NULL OR ref.catch_all = 0
  GROUP BY ref.cat
)
SELECT ccs_detail_desc, CAST(event_count AS BIGINT) AS event_count,
       CAST(rk AS BIGINT) AS rk
FROM (SELECT *, RANK() OVER (ORDER BY event_count DESC) AS rk
      FROM counted)
WHERE rk <= 10
"""


def q_shard_manifest(spark, sf_dir):
    """Release-shard manifest (sources/io.shard_manifest + the
    export_shards writer): deterministic md5-pinned shard assignment
    (the assign_splits hash family, mod 8) and the per-shard
    verification triple a downstream trainer checks after transfer —
    doc count, total characters, ORDERLESS 60-bit-md5 id checksum
    (associative-commutative, so it reduces map-side and is
    partitioning-invariant). ONE aggregation; output bounded by the
    shard count."""
    from claims_data_spark.sources.io import shard_manifest

    d = spread(_t(spark, sf_dir, "documents"))
    out = shard_manifest(d, "doc_id", 8, text_col="text")
    return out.select(
        F.col("shard").cast("int").alias("shard"),
        "n_docs",
        "id_checksum",
        "n_chars",
    )


SQL_SHARD_MANIFEST = """
WITH s AS (
  SELECT doc_id, text,
    CAST(CAST('0x' || substring(
           md5(CAST(doc_id AS VARCHAR) || 'shard'), 1, 15)
         AS UBIGINT) % 8 AS INT) AS shard
  FROM documents
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(COALESCE(
         sum(CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS UBIGINT) AS HUGEINT))
         % 1152921504606846976, 0) AS BIGINT)
    AS id_checksum,
  CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM s GROUP BY shard
"""


def q_threshold_sweep(spark, sf_dir):
    """Quality-filter calibration sweep
    (operators/classify.threshold_sweep): precision / recall / F1 at
    every candidate keep-threshold over 20 score bins — the table an
    engineer reads to pick the corpus-quality cutoff. Fixture: a
    deterministic md5-uniform score blended (0.6/0.4) with a
    length>=200 label signal so the curve is non-trivial and both
    engines derive score and label identically. ONE n_bins-bounded
    aggregate + a 20-row dimension window."""
    from claims_data_spark.operators.classify import threshold_sweep

    d = spread(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("ts"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967295.0)
    )
    lbl = (F.length("text") >= 200).cast("int")
    scored = d.select(
        (F.lit(0.6) * u + F.lit(0.4) * lbl).alias("score"),
        lbl.alias("label"),
    )
    out = threshold_sweep(scored, "score", "label", n_bins=20)
    return out.select(
        "threshold", "kept", "true_pos", "precision", "recall", "f1"
    )


SQL_THRESHOLD_SWEEP = """
WITH scored AS (
  SELECT
    0.6 * (CAST(CAST('0x' || substring(
               md5(CAST(doc_id AS VARCHAR) || 'ts'), 1, 8)
             AS UBIGINT) AS DOUBLE) / 4294967295.0)
      + 0.4 * CAST(length(text) >= 200 AS INT) AS score,
    CAST(length(text) >= 200 AS INT) AS label
  FROM documents WHERE text IS NOT NULL
), bins AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(score * 20) AS INT), 0), 19) AS bin,
         count(*) AS n, sum(label) AS npos
  FROM scored GROUP BY 1
), cum AS (
  SELECT bin,
         sum(n) OVER (ORDER BY bin DESC) AS kept,
         sum(npos) OVER (ORDER BY bin DESC) AS tp,
         sum(npos) OVER () AS allpos
  FROM bins
)
SELECT CAST(bin AS DOUBLE) / 20 AS threshold,
       CAST(kept AS BIGINT) AS kept,
       CAST(tp AS BIGINT) AS true_pos,
       CAST(tp AS DOUBLE) / kept AS "precision",
       CAST(tp AS DOUBLE) / allpos AS recall,
       2 * CAST(tp AS DOUBLE) / (kept + allpos) AS f1
FROM cum
"""


def q_cross_source_overlap(spark, sf_dir):
    """Cross-source n-gram contamination matrix
    (operators/corpus.cross_source_contamination): pairwise distinct-
    trigram overlap between four synthetic sources — the release
    report that catches two ingested sources carrying the same
    underlying content before their duplicates dilute a mixture
    weight. ONE corpus-grain exchange (the gram shuffle) folds each
    gram's source set into a bit_or mask; everything after runs over
    dimension-sized frames. Sources index by SORTED name on both
    engines."""
    from claims_data_spark.operators.corpus import (
        cross_source_contamination,
    )

    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        F.concat(F.lit("src"), (F.col("doc_id") % 4).cast("int").cast("string"))
        .alias("src"),
        "text",
    )
    out = cross_source_contamination(d, "src", "text", n=3)
    return out.select(
        "source_a", "source_b", "shared_ngrams", "total_a", "total_b",
        "jaccard",
    )


SQL_CROSS_SOURCE_OVERLAP = """
WITH d AS (
  SELECT 'src' || CAST(CAST(doc_id % 4 AS INT) AS VARCHAR) AS src,
         CAST(doc_id % 4 AS INT) AS sidx, text
  FROM documents WHERE text IS NOT NULL
), words AS (
  SELECT sidx, string_split_regex(lower(trim(text)), '\\s+') AS w FROM d
), grams AS (
  SELECT DISTINCT sidx, gram FROM (
    SELECT sidx,
      unnest(list_transform(generate_series(1, len(w) - 2),
             i -> array_to_string(w[i:i+2], ' '))) AS gram
    FROM words WHERE len(w) >= 3
  ) WHERE LENGTH(gram) > 0
), masks AS (
  SELECT gram, bit_or(CAST(1 AS BIGINT) << sidx) AS mask
  FROM grams GROUP BY gram
), pairs AS (
  SELECT CAST(a.range AS INT) AS ia, CAST(b.range AS INT) AS ib
  FROM range(4) a, range(4) b WHERE a.range < b.range
), agg AS (
  SELECT ia, ib,
    sum(CASE WHEN (mask & (CAST(1 AS BIGINT) << ia)) <> 0
              AND (mask & (CAST(1 AS BIGINT) << ib)) <> 0
             THEN 1 ELSE 0 END) AS shared,
    sum(CASE WHEN (mask & (CAST(1 AS BIGINT) << ia)) <> 0
             THEN 1 ELSE 0 END) AS ta,
    sum(CASE WHEN (mask & (CAST(1 AS BIGINT) << ib)) <> 0
             THEN 1 ELSE 0 END) AS tb
  FROM masks CROSS JOIN pairs GROUP BY ia, ib
)
SELECT 'src' || CAST(ia AS VARCHAR) AS source_a,
       'src' || CAST(ib AS VARCHAR) AS source_b,
       CAST(shared AS BIGINT) AS shared_ngrams,
       CAST(ta AS BIGINT) AS total_a,
       CAST(tb AS BIGINT) AS total_b,
       CASE WHEN ta + tb - shared > 0
            THEN CAST(shared AS DOUBLE) / (ta + tb - shared)
            ELSE 0.0 END AS jaccard
FROM agg
"""


def q_hedis_year_merge(spark, sf_dir):
    """HEDIS/QRS value-set year-merge
    (load_claims.ref_hedis_value_sets_apde_2018-2023.R:687-730): two
    measurement years with DRIFTING schemas (2023 adds
    value_set_version) bind by name, each row year-tagged, then the
    ICD vocabulary normalizes once — punctuation stripped from
    ICD-9/10-CM, ICD-9 padded to 5 with trailing zeros."""
    from claims_data_spark.tables.ref_lookups import (
        build_ref_hedis_value_sets,
    )

    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    b = (k % 4).cast("int")
    code = (
        F.when(b == 0, F.format_string(
            "F%02d.%02d", (k % 50).cast("int"), (k % 100).cast("int")))
        .when(b == 1, F.format_string("%03d", (100 + k % 900).cast("int")))
        .when(b == 2, F.format_string(
            "%03d.%01d", (100 + k % 900).cast("int"), (k % 10).cast("int")))
        .otherwise(F.format_string("9%04d", (k % 10000).cast("int")))
    )
    system = (
        F.when(b == 0, "ICD10CM")
        .when(b.isin(1, 2), "ICD9CM")
        .otherwise("CPT")
    )
    base = p.select(
        F.concat(F.lit("vs-"), b.cast("string")).alias("value_set_name"),
        system.alias("code_system"),
        code.alias("code"),
        (k % 2).alias("_half"),
    )
    y2022 = base.filter(F.col("_half") == 0).drop("_half")
    y2023 = base.filter(F.col("_half") == 1).drop("_half").withColumn(
        "value_set_version", F.lit("2023-03-31")
    )
    out = build_ref_hedis_value_sets({2022: y2022, 2023: y2023})
    return out.select(
        F.col("year").cast("int").alias("year"),
        "value_set_name", "code_system", "code", "value_set_version",
    )


SQL_HEDIS_YEAR_MERGE = """
WITH base AS (
  SELECT 'vs-' || CAST(p_partkey % 4 AS VARCHAR) AS value_set_name,
    CASE WHEN p_partkey % 4 = 0 THEN 'ICD10CM'
         WHEN p_partkey % 4 IN (1, 2) THEN 'ICD9CM'
         ELSE 'CPT' END AS code_system,
    CASE WHEN p_partkey % 4 = 0
           THEN printf('F%02d.%02d', p_partkey % 50, p_partkey % 100)
         WHEN p_partkey % 4 = 1
           THEN printf('%03d', 100 + p_partkey % 900)
         WHEN p_partkey % 4 = 2
           THEN printf('%03d.%01d', 100 + p_partkey % 900, p_partkey % 10)
         ELSE printf('9%04d', p_partkey % 10000) END AS code,
    p_partkey % 2 AS half
  FROM part
), u AS (
  SELECT 2022 AS year, value_set_name, code_system, code,
         CAST(NULL AS VARCHAR) AS value_set_version
  FROM base WHERE half = 0
  UNION ALL
  SELECT 2023, value_set_name, code_system, code, '2023-03-31'
  FROM base WHERE half = 1
), stripped AS (
  SELECT year, value_set_name, code_system,
    CASE WHEN code_system IN ('ICD10CM', 'ICD9CM')
         THEN regexp_replace(code, '[[:punct:]]', '', 'g')
         ELSE code END AS c1,
    value_set_version
  FROM u
)
SELECT year, value_set_name, code_system,
  CASE WHEN code_system = 'ICD9CM' AND length(c1) = 3 THEN c1 || '00'
       WHEN code_system = 'ICD9CM' AND length(c1) = 4 THEN c1 || '0'
       ELSE c1 END AS code,
  value_set_version
FROM stripped
"""


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/selection, Xie et al.
    2023): hashed-unigram bucket models over a target slice vs the raw
    pool, per-document log importance weights (every ln over exact
    integer ratios, rounded 6dp), Gumbel-top-k resample without
    replacement with md5-pinned uniforms. Two dim-bounded count
    aggregates + map-only scoring + TakeOrdered — no corpus-grain
    join anywhere."""
    from claims_data_spark.operators.selection import dsir_select

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    target = d.filter(F.col("doc_id") < 20).select("doc_id", "text")
    raw = d.filter(F.col("doc_id") >= 20).select("doc_id", "text")
    out = dsir_select(raw, target, "text", "doc_id", k=40, dim=64)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "logw", "samp_key", "rank",
    )


_SQL_DSIR_BUCKET = (
    "CAST(concat('0x', substr(md5({t} || 'dsir'), 1, 8)) AS BIGINT) % 64"
)

SQL_DSIR_SELECT = f"""
WITH d AS (
  SELECT doc_id,
    list_filter(
      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
      w -> len(w) > 0) AS words
  FROM documents WHERE text IS NOT NULL
), ttok AS (
  SELECT {_SQL_DSIR_BUCKET.format(t='t.w')} AS b
  FROM (SELECT unnest(words) AS w FROM d WHERE doc_id < 20) t
), rtok AS (
  SELECT {_SQL_DSIR_BUCKET.format(t='t.w')} AS b
  FROM (SELECT unnest(words) AS w FROM d WHERE doc_id >= 20) t
), buckets AS (
  SELECT unnest(generate_series(0, 63)) AS b
), lam AS (
  SELECT bk.b,
    ROUND(
      ln(CAST(COALESCE(tc.n, 0) + 1 AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM ttok) + 64 AS DOUBLE))
      - ln(CAST(COALESCE(rc.n, 0) + 1 AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM rtok) + 64 AS DOUBLE)), 6
    ) AS lam
  FROM buckets bk
  LEFT JOIN (SELECT b, COUNT(*) AS n FROM ttok GROUP BY b) tc
    ON bk.b = tc.b
  LEFT JOIN (SELECT b, COUNT(*) AS n FROM rtok GROUP BY b) rc
    ON bk.b = rc.b
), lam_arr AS (
  SELECT list(lam ORDER BY b) AS arr FROM lam
), scored AS (
  SELECT d.doc_id,
    ROUND(COALESCE(list_sum(list_transform(d.words,
      w -> list_extract(la.arr,
             CAST({_SQL_DSIR_BUCKET.format(t='w')} + 1 AS INT)))), 0.0),
      6) AS logw
  FROM d CROSS JOIN lam_arr la
  WHERE d.doc_id >= 20
), keyed AS (
  SELECT doc_id, logw,
    ROUND(logw - ln(-ln(LEAST(
      (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
        || 'dsir|gumbel'), 1, 8)) AS BIGINT) + 1) / 4294967296.0,
      1.0 - 1.1641532182693481e-10))), 6) AS samp_key
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, logw, samp_key,
  ROW_NUMBER() OVER (ORDER BY samp_key DESC, doc_id) AS rank
FROM keyed
ORDER BY samp_key DESC, doc_id
LIMIT 40
"""


def q_substring_spans(spark, sf_dir):
    """Exact shared-substring spans (operators/dedup.
    substring_dup_spans, Lee et al. 2021): strided 50-char shingle
    fingerprints -> one corpus-grain groupBy (singletons die in the
    partial agg) -> pair join on hot fingerprints -> EXACT substring
    verify. A deterministic boilerplate prefix is planted on every
    97th document so the fixture carries guaranteed aligned spans;
    organic corpus duplicates surface too. Output aggregated per
    document pair."""
    from claims_data_spark.operators.dedup import substring_dup_spans

    lic = ("this software is provided as is without warranty of any "
           "kind express or implied ")
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.when(
                F.col("doc_id") % 97 == 0,
                F.concat(F.lit(lic), F.col("text")),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    spans = substring_dup_spans(d, span=50, stride=10)
    return (
        spans.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.min("pos_a").alias("first_pos_a"),
            F.min("pos_b").alias("first_pos_b"),
        )
    )


SQL_SUBSTRING_SPANS = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CASE WHEN doc_id % 97 = 0 THEN
      'this software is provided as is without warranty of any kind express or implied '
      || text ELSE text END AS text
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id, p.pos,
    substr(text, p.pos, 50) AS s,
    md5(substr(text, p.pos, 50)) AS fp
  FROM d, LATERAL (
    SELECT unnest(generate_series(1, len(text) - 49, 10)) AS pos
  ) p
  WHERE len(text) >= 50
), hot AS (
  SELECT fp FROM sh GROUP BY fp
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
     AND COUNT(*) <= 256
), cand AS (
  SELECT sh.* FROM sh JOIN hot USING (fp)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    a.pos AS pos_a, b.pos AS pos_b, a.fp
  FROM cand a JOIN cand b
    ON a.fp = b.fp AND a.doc_id < b.doc_id AND a.s = b.s
)
SELECT id_a, id_b, COUNT(*) AS n_spans,
  MIN(pos_a) AS first_pos_a, MIN(pos_b) AS first_pos_b
FROM pairs GROUP BY id_a, id_b
"""


def q_redact_spans(spark, sf_dir):
    """Span redaction (operators/dedup.redact_spans — the APPLY side
    of substring_dup_spans, Lee et al. 2021 remove the duplicated
    substrings, not the documents): the substring_spans fixture's
    pair table feeds the keep-min policy (the later copy's positions
    redact), overlapping spans merge into islands, and each flagged
    document's text is rebuilt around them. Output: one row per
    REDACTED doc with the island count, chars removed, and the md5 of
    the rebuilt text — so the island merge, the segment arithmetic
    and the rebuilt bytes all get a value-level oracle signal."""
    from claims_data_spark.operators.dedup import (
        redact_spans,
        substring_dup_spans,
    )

    lic = ("this software is provided as is without warranty of any "
           "kind express or implied ")
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.when(
                F.col("doc_id") % 97 == 0,
                F.concat(F.lit(lic), F.col("text")),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    pairs = substring_dup_spans(d, span=50, stride=10)
    out = redact_spans(
        d, pairs.selectExpr("id_b AS doc_id", "pos_b AS pos"), span=50
    )
    return out.filter(F.col("n_redacted_spans") > 0).select(
        "doc_id",
        F.col("n_redacted_spans").cast("long").alias("n_redacted_spans"),
        F.col("chars_removed").cast("long").alias("chars_removed"),
        F.md5("text_redacted").alias("redacted_md5"),
    )


SQL_REDACT_SPANS = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CASE WHEN doc_id % 97 = 0 THEN
      'this software is provided as is without warranty of any kind express or implied '
      || text ELSE text END AS text
  FROM documents WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id, p.pos,
    substr(text, p.pos, 50) AS s,
    md5(substr(text, p.pos, 50)) AS fp
  FROM d, LATERAL (
    SELECT unnest(generate_series(1, len(text) - 49, 10)) AS pos
  ) p
  WHERE len(text) >= 50
), hot AS (
  SELECT fp FROM sh GROUP BY fp
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
     AND COUNT(*) <= 256
), cand AS (
  SELECT sh.* FROM sh JOIN hot USING (fp)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    a.pos AS pos_a, b.pos AS pos_b
  FROM cand a JOIN cand b
    ON a.fp = b.fp AND a.doc_id < b.doc_id AND a.s = b.s
), redspans AS (
  SELECT DISTINCT id_b AS doc_id, CAST(pos_b AS BIGINT) AS s,
    CAST(pos_b + 49 AS BIGINT) AS e
  FROM pairs
), marked AS (
  SELECT doc_id, s, e,
    CASE WHEN s > COALESCE(MAX(e) OVER (
        PARTITION BY doc_id ORDER BY s
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
      THEN 1 ELSE 0 END AS new_island
  FROM redspans
), numbered AS (
  SELECT doc_id, s, e,
    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s) AS isl
  FROM marked
), merged AS (
  SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e
  FROM numbered GROUP BY doc_id, isl
), with_prev AS (
  SELECT doc_id, s, e,
    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS prev_e
  FROM merged
), segs AS (
  SELECT w.doc_id, w.s AS ord,
    substr(d.text, CAST(w.prev_e + 1 AS INT),
           CAST(w.s - w.prev_e - 1 AS INT)) AS seg
  FROM with_prev w JOIN d USING (doc_id)
  UNION ALL
  SELECT t.doc_id, CAST(9223372036854775807 AS BIGINT) AS ord,
    substr(d.text, CAST(t.last_e + 1 AS INT)) AS seg
  FROM (SELECT doc_id, MAX(e) AS last_e FROM merged GROUP BY doc_id) t
  JOIN d USING (doc_id)
  WHERE t.last_e < len(d.text)
), rebuilt AS (
  SELECT m.doc_id,
    COALESCE((SELECT string_agg(seg, '' ORDER BY ord)
              FROM segs WHERE segs.doc_id = m.doc_id), '') AS txt,
    COUNT(*) AS n_isl
  FROM merged m GROUP BY m.doc_id
)
SELECT r.doc_id,
  CAST(r.n_isl AS BIGINT) AS n_redacted_spans,
  CAST(len(d.text) - len(r.txt) AS BIGINT) AS chars_removed,
  md5(r.txt) AS redacted_md5
FROM rebuilt r JOIN d USING (doc_id)
"""


def q_corpus_card(spark, sf_dir):
    """One-row corpus card (operators/corpus.corpus_report): docs /
    tokens / chars / emptiness / exact-dup rate / quality profile in
    ONE aggregate scan. Driver surface runs the fixed-point mode —
    quality/punct profiles as BIGINT sums of 4dp per-doc scores
    (float-avg summation order varies with partitioning; integer sums
    never do) — and drops the approx length quantiles
    (percentile_approx is a bounded sketch, not an ANSI value)."""
    from claims_data_spark.operators.corpus import corpus_report

    d = _t(spark, sf_dir, "documents")
    return corpus_report(d, fixed_point=True).select(
        "n_docs", "n_distinct_ids", "n_empty", "n_chars", "n_tokens",
        "n_distinct_texts", "sum_quality_fp", "sum_punct_fp",
        "exact_dup_rate",
    )


SQL_CORPUS_CARD = """
WITH per AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0 THEN 0
         ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tok,
    CASE WHEN text IS NULL THEN NULL
         WHEN LENGTH(regexp_replace(text, '\\s', '', 'g')) = 0 THEN 0.0
         ELSE LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
              / LENGTH(regexp_replace(text, '\\s', '', 'g')) END AS pr,
    CASE WHEN text IS NULL THEN NULL
         ELSE len(list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
             x -> x IN ('the','a','an','and','or','of','to','in','is','it')))
           * 1.0 / len(string_split_regex(LOWER(TRIM(text)), '\\s+')) END AS sr
  FROM documents
), scored AS (
  SELECT *,
    CASE WHEN text IS NULL THEN NULL
         ELSE ROUND((LEAST(n_tok / 50.0, 1.0)
                     + GREATEST(0.0, 1.0 - pr * 4)
                     + LEAST(sr * 5.0, 1.0)) / 3.0, 4) END AS q
  FROM per
), agg AS (
  SELECT
    COUNT(*) AS n_docs,
    COUNT(DISTINCT doc_id) AS n_distinct_ids,
    SUM(CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0
             THEN 1 ELSE 0 END) AS n_empty,
    SUM(COALESCE(LENGTH(text), 0)) AS n_chars,
    SUM(CASE WHEN text IS NOT NULL THEN n_tok ELSE 0 END) AS n_tokens,
    COUNT(DISTINCT CASE WHEN text IS NOT NULL
                         AND LENGTH(TRIM(text)) > 0
                        THEN MD5(text) END) AS n_distinct_texts,
    SUM(CASE WHEN text IS NOT NULL
             THEN CAST(ROUND(q * 10000) AS BIGINT) ELSE 0 END)
      AS sum_quality_fp,
    SUM(CASE WHEN text IS NOT NULL
             THEN CAST(ROUND(pr * 10000) AS BIGINT) ELSE 0 END)
      AS sum_punct_fp
  FROM scored
)
SELECT n_docs, n_distinct_ids,
  CAST(n_empty AS BIGINT) AS n_empty,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  n_distinct_texts,
  CAST(sum_quality_fp AS BIGINT) AS sum_quality_fp,
  CAST(sum_punct_fp AS BIGINT) AS sum_punct_fp,
  ROUND((n_docs - n_empty - n_distinct_texts) * 1.0
        / GREATEST(n_docs - n_empty, 1), 4) AS exact_dup_rate
FROM agg
"""


def q_winnow_near_dup(spark, sf_dir):
    """Winnowing-fingerprint near-dup pairs (operators/dedup.
    winnow_fingerprints + winnow_near_dup_pairs — Schleimer et al.
    2003, the MOSS local fingerprinting scheme): hash every 8-char
    gram, keep each 8-window's minimum, bucket docs on shared
    fingerprints. The differentiator vs the strided grid of
    substring_spans is the ANY-ALIGNMENT guarantee (a shared
    substring >= k+w-1 chars always shares a fingerprint), which the
    fixture exercises: every third document also appears as a
    PREFIX-SHIFTED copy ('prefix ' + text), misaligned with its
    original by 7 chars — a shift the strided fixture would miss
    entirely. Map-only fingerprinting; two candidate-grain exchanges
    (fp buckets with a 64-doc cap, then the pair rollup); never
    all-pairs."""
    from claims_data_spark.operators.dedup import winnow_near_dup_pairs

    # distinctive texts minted from doc_id (md5-hex chunks): the raw
    # documents prose draws on a ~30-word vocabulary, so char-gram
    # buckets degenerate (every doc collides with every doc — measured
    # pair blow-up at sf0.1); hex chunks make grams unique per doc, so
    # the output is exactly the planted structure: a prefix-SHIFTED
    # full copy of every 3rd doc (misaligned by 7 chars — the
    # any-alignment case the strided substring_spans grid misses) and
    # a half-overlap variant of every 5th doc (first half shared,
    # second half re-minted)
    out = winnow_near_dup_pairs(
        _winnow_fixture(spark, sf_dir), k=8, w=8,
        min_shared=2, max_bucket_docs=64,
    )
    return out.select(
        "id_a", "id_b", "shared_fps", "n_a", "n_b", "jaccard_est"
    )


def _winnow_fixture(spark, sf_dir):
    """Planted near-dup corpus for the winnowing queries (shared by
    the md5-oracle stream and the xxhash64 production-stream bench
    variant, so both time the same input)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    did = F.col("doc_id").cast("string")
    chunks = [F.md5(F.concat(did, F.lit(f"|w{j}"))) for j in range(6)]
    base_text = F.concat_ws(" ", *chunks)
    half_text = F.concat_ws(
        " ",
        *chunks[:3],
        *[F.md5(F.concat(did, F.lit(f"|v{j}"))) for j in range(3)],
    )
    base = d.select("doc_id", base_text.alias("text"))
    shifted = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.lit("prefix "), base_text).alias("text"),
    )
    half = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
        half_text.alias("text"),
    )
    return base.unionByName(shifted).unionByName(half)


SQL_WINNOW_NEAR_DUP = r"""
WITH ids AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS s
  FROM documents WHERE text IS NOT NULL
), minted AS (
  SELECT doc_id,
    md5(s || '|w0') || ' ' || md5(s || '|w1') || ' ' || md5(s || '|w2')
      || ' ' || md5(s || '|w3') || ' ' || md5(s || '|w4') || ' '
      || md5(s || '|w5') AS base_text,
    md5(s || '|w0') || ' ' || md5(s || '|w1') || ' ' || md5(s || '|w2')
      || ' ' || md5(s || '|v0') || ' ' || md5(s || '|v1') || ' '
      || md5(s || '|v2') AS half_text
  FROM ids
), raw AS (
  SELECT doc_id, base_text AS t0 FROM minted
  UNION ALL
  SELECT doc_id + 10000000, 'prefix ' || base_text
  FROM minted WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 20000000, half_text FROM minted WHERE doc_id % 5 = 0
), d AS (
  SELECT doc_id, regexp_replace(lower(trim(t0)), '\s+', ' ', 'g') AS t
  FROM raw
), g AS (
  SELECT doc_id, t, length(t) - 7 AS ng FROM d
), h AS MATERIALIZED (
  SELECT doc_id, ng, list_transform(range(1, ng + 1),
    i -> CAST(CAST('0x' || substring(md5(substring(t, CAST(i AS INT), 8)),
                                     1, 15) AS UBIGINT) AS BIGINT)) AS hs
  FROM g WHERE ng >= 1
), fp AS MATERIALIZED (
  SELECT doc_id, CASE WHEN ng >= 8
    THEN list_sort(list_distinct(list_transform(range(1, ng - 6), j ->
         list_aggregate(hs[CAST(j AS INT):CAST(j + 7 AS INT)], 'min'))))
    ELSE [list_aggregate(hs, 'min')] END AS fps
  FROM h
), e AS MATERIALIZED (
  SELECT doc_id, len(fps) AS n_fps, unnest(fps) AS fp FROM fp
), caps AS (
  SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 64
), ee AS MATERIALIZED (
  SELECT e.* FROM e JOIN caps USING (fp)
), pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps,
         a.n_fps AS n_a, b.n_fps AS n_b
  FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 4, 5
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(shared_fps AS BIGINT) AS shared_fps,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(shared_fps AS DOUBLE) / (n_a + n_b - shared_fps) AS jaccard_est
FROM pr WHERE shared_fps >= 2
"""


def q_profile_drift(spark, sf_dir):
    """Snapshot column-profile drift report (operators/profile.
    profile_drift): old = the documents table, new = a perturbed
    release candidate (6% of rows dropped, lang NULLed for every
    13th doc, every 7th source renamed, every 5th n_chars shifted)
    — the per-column null-rate / total-variation / max-bucket-shift
    table a release gate reads before shipping snapshot N+1. All
    drift math is exact integer/decimal cross-product arithmetic
    with one final division (order-free, partitioning-invariant,
    type-strict) — see the operator docstring for why PSI/chi-square
    are deliberately absent. One scan per snapshot; the single
    exchange is (n_cols x n_buckets)-grain."""
    from claims_data_spark.operators.profile import profile_drift

    d = _t(spark, sf_dir, "documents")
    old = d.select("doc_id", "lang", "source", "n_chars")
    new = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("lang")).alias("lang"),
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("source"), F.lit("_v2"))
        ).otherwise(F.col("source")).alias("source"),
        F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") + 50)
        .otherwise(F.col("n_chars")).alias("n_chars"),
    )
    return profile_drift(old, new, n_buckets=16)


SQL_PROFILE_DRIFT = r"""
WITH oldt AS (
  SELECT doc_id, lang, source, n_chars FROM documents
), newt AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
    CASE WHEN doc_id % 7 = 0 THEN source || '_v2' ELSE source END AS source,
    CASE WHEN doc_id % 5 = 0 THEN n_chars + 50 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 17 <> 0
), ob AS (
  SELECT col_name, bucket, count(*) AS cnt_old FROM (
    SELECT 'doc_id' AS col_name, CASE WHEN doc_id IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
           1, 15) AS UBIGINT) % 16 AS BIGINT) AS INT) END AS bucket FROM oldt
    UNION ALL
    SELECT 'lang', CASE WHEN lang IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(lang), 1, 15)
           AS UBIGINT) % 16 AS BIGINT) AS INT) END FROM oldt
    UNION ALL
    SELECT 'source', CASE WHEN source IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(source), 1, 15)
           AS UBIGINT) % 16 AS BIGINT) AS INT) END FROM oldt
    UNION ALL
    SELECT 'n_chars', CASE WHEN n_chars IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(CAST(n_chars AS VARCHAR)),
           1, 15) AS UBIGINT) % 16 AS BIGINT) AS INT) END FROM oldt
  ) GROUP BY 1, 2
), nb AS (
  SELECT col_name, bucket, count(*) AS cnt_new FROM (
    SELECT 'doc_id' AS col_name, CASE WHEN doc_id IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
           1, 15) AS UBIGINT) % 16 AS BIGINT) AS INT) END AS bucket FROM newt
    UNION ALL
    SELECT 'lang', CASE WHEN lang IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(lang), 1, 15)
           AS UBIGINT) % 16 AS BIGINT) AS INT) END FROM newt
    UNION ALL
    SELECT 'source', CASE WHEN source IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(source), 1, 15)
           AS UBIGINT) % 16 AS BIGINT) AS INT) END FROM newt
    UNION ALL
    SELECT 'n_chars', CASE WHEN n_chars IS NULL THEN -1
      ELSE CAST(CAST(CAST('0x' || substring(md5(CAST(n_chars AS VARCHAR)),
           1, 15) AS UBIGINT) % 16 AS BIGINT) AS INT) END FROM newt
  ) GROUP BY 1, 2
), j AS (
  SELECT coalesce(ob.col_name, nb.col_name) AS col_name,
         coalesce(ob.bucket, nb.bucket) AS bucket,
         coalesce(cnt_old, 0) AS cnt_old,
         coalesce(cnt_new, 0) AS cnt_new
  FROM ob FULL OUTER JOIN nb
    ON ob.col_name = nb.col_name AND ob.bucket = nb.bucket
), t AS (
  SELECT *,
    sum(cnt_old) OVER (PARTITION BY col_name) AS n_old,
    sum(cnt_new) OVER (PARTITION BY col_name) AS n_new
  FROM j
), t2 AS (
  SELECT *, CAST(cnt_new AS HUGEINT) * n_old
            - CAST(cnt_old AS HUGEINT) * n_new AS d
  FROM t
)
SELECT col_name,
  CAST(n_old AS BIGINT) AS n_old,
  CAST(n_new AS BIGINT) AS n_new,
  CAST(sum(CASE WHEN bucket = -1 THEN cnt_old ELSE 0 END) AS DOUBLE)
    / n_old AS null_rate_old,
  CAST(sum(CASE WHEN bucket = -1 THEN cnt_new ELSE 0 END) AS DOUBLE)
    / n_new AS null_rate_new,
  CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_buckets_drifted,
  CAST(sum(abs(d)) AS DOUBLE)
    / (2.0 * CAST(CAST(n_old AS HUGEINT) * n_new AS DOUBLE))
    AS tv_distance,
  CAST(max(abs(d)) AS DOUBLE)
    / CAST(CAST(n_old AS HUGEINT) * n_new AS DOUBLE) AS linf_distance
FROM t2
GROUP BY col_name, n_old, n_new
"""


def production_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Production-hash-family variants of the md5-oracle-pinned
    queries, over the SAME fixtures as their `queries()` twins.

    The md5 streams exist so a DuckDB oracle can value-check every
    signature/draw bit-for-bit; a deployment runs the native JVM
    families (murmur3 `hash`, `xxhash64`) instead — one hash call per
    row/gram versus md5's hex round-trip. DuckDB has neither family,
    so these are NOT driver-checkable; cross-stream property tests
    (tests/) pin that both families traverse identical plans. bench.py
    times this set next to the oracle-stream totals so the artifact
    of record carries the honest production number (round-8 verdict
    task 6) rather than penalizing oracle portability.
    """
    from claims_data_spark.operators.corpus import assign_splits
    from claims_data_spark.operators.dedup import (
        simhash_near_dup_pairs,
        winnow_near_dup_pairs,
    )
    from claims_data_spark.operators.sketches import cms_heavy_hitters

    def p_minhash(spark, sf_dir):
        d = _t(spark, sf_dir, "documents")
        return minhash_near_dup_pairs(
            d, "doc_id", "text", shingle_k=3, num_hashes=32, bands=8,
            jaccard_threshold=0.8, portable=False,
        )

    def p_simhash(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
        return simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=4)

    def p_winnow(spark, sf_dir):
        out = winnow_near_dup_pairs(
            _winnow_fixture(spark, sf_dir), k=8, w=8,
            min_shared=2, max_bucket_docs=64, hash_family="xxhash64",
        )
        return out.select(
            "id_a", "id_b", "shared_fps", "n_a", "n_b", "jaccard_est"
        )

    def p_split_assign(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat(F.lit("dom"), (F.col("doc_id") % 23).cast("string"))
            .alias("domain"),
        )
        out = assign_splits(
            d, {"train": 8, "val": 1, "test": 1},
            id_col="doc_id", group_col="domain", hash_family="xxhash64",
        )
        return out.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("domain").alias("n_domains"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )

    def p_cms(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
        words = d.select(
            F.explode(
                F.filter(
                    F.split(
                        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                        " ",
                    ),
                    lambda w: F.length(w) > 0,
                )
            ).alias("word")
        )
        out = cms_heavy_hitters(
            words, "word", threshold=40, hash_family="xxhash64"
        )
        return out.select(
            "word", F.col("est_count").cast("long").alias("est_count")
        )

    return {
        "minhash_near_dup": p_minhash,
        "simhash_near_dup": p_simhash,
        "winnow_near_dup": p_winnow,
        "split_assign": p_split_assign,
        "cms_heavy_hitters": p_cms,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the correctness driver checks the first 50 entries.
    # Rotation policy lives in WINDOW.md: red/changed/new queries pin
    # into the window, queries driver-green two consecutive rounds
    # rotate out, and the freed rows backfill with the queries that
    # have gone longest without a driver row (every entry in the tail
    # is still covered by tools/parity.py and pytest each round).
    return {
        # ---- driver window (first 50): round-11 rotation, WINDOW.md ----
        # rule-1 pins first: the four queries whose implementation
        # changed THIS round (fused as-of flags + asof_join key fix,
        # the Arrow knn_ivf ranking, the guarded top_causes broadcast),
        # then the 15 round-10-touched queries the r10 verdict requires
        # pinned (their changes landed after the r10 rotation, so they
        # ended round 10 without a driver value row); then rule-3
        # backfill: the r11 queue (oldest r08-green entries first) and
        # the head of the r09-green cohort to fill the window.
        "fuh_followup": q_fuh_followup,
        "pcr_readmission": q_pcr_readmission,
        "knn_ivf": q_knn_ivf,
        "top_causes_window": q_top_causes_window,
        "minhash_near_dup": q_minhash_dedup,
        "simhash_near_dup": q_simhash_dedup,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "bigram_lm": q_bigram_lm,
        "collocations": q_collocations,
        "decontaminate": q_decontaminate,
        "bloom_decontaminate": q_bloom_decontaminate,
        "contamination_report": q_contamination_report,
        "cross_source_overlap": q_cross_source_overlap,
        "quality_classify": q_quality_classify,
        "dsir_select": q_dsir_select,
        "threshold_sweep": q_threshold_sweep,
        "repetition_filter": q_repetition_filter,
        "mix_rebalance": q_mix_rebalance,
        "tabloop_suppress": q_tabloop,
        "tabloop_fixed": q_tabloop_fixed,
        "split_assign": q_split_assign,
        "substring_spans": q_substring_spans,
        "bpe_encode": q_bpe_encode,
        "html_extract": q_html_extract,
        "shard_manifest": q_shard_manifest,
        "diversity_sample": q_diversity_sample,
        "json_props": q_json_props,
        "grouping_sets": q_grouping_sets,
        "corpus_clean": q_corpus_clean,
        "embedding_near_dup": q_embedding_near_dup,
        "ndc_normalize": q_ndc_normalize,
        "address_clean": q_address_clean,
        "windowed_events": q_windowed_events,
        "sliding_windows": q_sliding_windows,
        "multimodal_decode": q_multimodal_decode,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "apcd_ed_episode": q_apcd_ed_episode,
        "chunk_documents": q_chunk_documents,
        "combined_claim_children": q_combined_claim_children,
        "window_lag_gap": q_window_lag,
        "pii_scrub": q_pii_scrub,
        "quantize_embeddings": q_quantize_embeddings,
        "calendar_join": q_calendar_join,
        "dedup_first_row": q_first_order,
        "dedup_priority": q_dedup_priority,
        "dedup_seeded": q_dedup_seeded,
        "except_distinct": q_except,
        # ---- tail (parity- and pytest-verified every round) ----
        # r10-green cohort first (rotated out on second green or
        # displaced by rule-1 pins), then the rest of the r09-green
        # cohort in queue order.
        "elig_cohort_filters": q_elig_cohort_filters,
        "sketch_distinct_rollup": q_sketch_distinct,
        "ccw_two_claim": q_ccw_two_claim,
        "ccw_combined": q_ccw_combined,
        "mode_random_tiebreak": q_mode_random_tiebreak,
        "format_classify": q_format_classify,
        "icd_normalize": q_icd_normalize,
        "text_stats": q_text_stats,
        "theta_or_join": q_theta_or_join,
        "topk_ties": q_topk_ties,
        "typed_projection": q_typed_projection,
        "union_bindrows": q_union_bindrows,
        "union_stack": q_union,
        "unpivot_long": q_unpivot,
        "quality_fingerprint": q_quality,
        "right_join": q_right_join,
        "dedup_exact": q_dedup_exact,
        "knn_bruteforce": q_knn_bruteforce,
        "record_linkage": q_record_linkage,
        "hedis_year_merge": q_hedis_year_merge,
        "image_resize": q_image_resize,
        "text_normalize": q_text_normalize,
        "streaming_dedup": q_streaming_dedup,
        "weighted_sample_grouped": q_weighted_sample_grouped,
        "coverage_stats": q_coverage,
        "interval_resegment": q_resegment,
        "episodes_dense_id": q_episodes,
        "islands_collapse": q_islands,
        "rolling_months": q_rolling_months,
        "asof_running_min": q_asof_min,
        "tx_pen_measure": q_tx_pen,
        "ah_utilization": q_ah_utilization,
        "claim_value_set": q_claim_value_set,
        "apcd_elig_month": q_apcd_elig_month,
        "stage_mcaid_elig": q_stage_mcaid_elig,
        "demo_summary": q_demo_summary,
        "provider_master_rank": q_provider_master_rank,
        "claims_summary": q_claims_summary,
        "housing_status": q_housing_status,
        "spatial_pip": q_spatial_pip,
        "perf_measure_ed": q_perf_measure_ed,
        "lcs_match": q_lcs_match,
        "amr_measure": q_amr_measure,
        "session_windows": q_session_windows,
        "multimodal_features": q_multimodal_features,
        "apcd_plr": q_apcd_plr,
        "url_dedup": q_url_dedup,
        "learn_bpe": q_learn_bpe,
        "winnow_near_dup": q_winnow_near_dup,
        "profile_drift": q_profile_drift,
        "redact_spans": q_redact_spans,
        "corpus_card": q_corpus_card,
        "corpus_diff": q_corpus_diff,
        "grid_zerofill": q_grid_zerofill,
        "lang_id": q_lang_id,
        "mode_tiebreak": q_mode,
        "mode_weighted": q_mode_weighted,
        "pct_flags": q_pct_flags,
        "prefix_join": q_prefix_join,
        "pricing_summary": q_pricing_summary,
        "scalar_datetime": q_scalar_datetime,
        "submonth_clip": q_submonth_clip,
        "semantic_dedup": q_semantic_dedup,
        "scd2_merge": q_scd2_merge,
        "pagerank_authority": q_pagerank,
        "dense_global_id": q_dense_global,
        "comorb_scores": q_comorb_scores,
        "claim_moud": q_claim_moud,
        "mcare_timevar": q_mcare_timevar,
        "mcare_elig_month": q_mcare_elig_month,
        "knn_rh_lsh": q_knn_rh_lsh,
        "rda_value_set": q_rda_value_set,
        "bm25_topk": q_bm25_topk,
        "weighted_sample": q_weighted_sample,
        "domain_cap": q_domain_cap,
        "wordpiece_tokenize": q_wordpiece_tokenize,
        "line_dedup": q_line_dedup,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "multi_left_join_flags": q_order_flags,
        "dynamic_filter": q_dynamic_filter,
        "count_distinct": q_count_distinct,
        "distinct_dedup": q_distinct,
        "intersect_keys": q_intersect,
        "full_outer_coalesce": q_full_outer,
        "perf_measure_fua": q_perf_measure_fua,
    }

def oracle_sql() -> dict[str, str]:
    return {
        "hedis_year_merge": SQL_HEDIS_YEAR_MERGE,
        "dsir_select": SQL_DSIR_SELECT,
        "substring_spans": SQL_SUBSTRING_SPANS,
        "corpus_card": SQL_CORPUS_CARD,
        "contamination_report": SQL_CONTAMINATION_REPORT,
        "split_assign": SQL_SPLIT_ASSIGN,
        "bpe_encode": SQL_BPE_ENCODE,
        "learn_bpe": SQL_LEARN_BPE,
        "winnow_near_dup": SQL_WINNOW_NEAR_DUP,
        "profile_drift": SQL_PROFILE_DRIFT,
        "html_extract": SQL_HTML_EXTRACT,
        "corpus_diff": SQL_CORPUS_DIFF,
        "top_causes_window": SQL_TOP_CAUSES_WINDOW,
        "shard_manifest": SQL_SHARD_MANIFEST,
        "threshold_sweep": SQL_THRESHOLD_SWEEP,
        "cross_source_overlap": SQL_CROSS_SOURCE_OVERLAP,
        "fuzzy_decontaminate": SQL_FUZZY_DECONTAMINATE,
        "diversity_sample": SQL_DIVERSITY_SAMPLE,
        "redact_spans": SQL_REDACT_SPANS,
        "pricing_summary": SQL_PRICING,
        "typed_projection": SQL_TYPED_PROJECTION,
        "dynamic_filter": SQL_DYNAMIC_FILTER,
        "distinct_dedup": SQL_DISTINCT,
        "dedup_priority": SQL_DEDUP_PRIORITY,
        "dedup_first_row": SQL_FIRST_ORDER,
        "dedup_seeded": SQL_DEDUP_SEEDED,
        "icd_normalize": SQL_ICD_NORMALIZE,
        "format_classify": SQL_FORMAT_CLASSIFY,
        "join_revenue_by_nation": SQL_JOIN_REVENUE,
        "multi_left_join_flags": SQL_ORDER_FLAGS,
        "right_join": SQL_RIGHT_JOIN,
        "full_outer_coalesce": SQL_FULL_OUTER,
        "grid_zerofill": SQL_GRID_ZEROFILL,
        "semi_join": SQL_SEMI_JOIN,
        "anti_join": SQL_ANTI_JOIN,
        "except_distinct": SQL_EXCEPT,
        "asof_running_min": SQL_ASOF_MIN,
        "calendar_join": SQL_CALENDAR_JOIN,
        "prefix_join": SQL_PREFIX_JOIN,
        "window_lag_gap": SQL_WINDOW_LAG,
        "islands_collapse": SQL_ISLANDS,
        "coverage_stats": SQL_COVERAGE,
        "episodes_dense_id": SQL_EPISODES,
        "rolling_months": SQL_ROLLING_MONTHS,
        "mode_tiebreak": SQL_MODE,
        "mode_weighted": SQL_MODE_WEIGHTED,
        "pct_flags": SQL_PCT_FLAGS,
        "count_distinct": SQL_COUNT_DISTINCT,
        "topk_ties": SQL_TOPK_TIES,
        "unpivot_long": SQL_UNPIVOT,
        "union_stack": SQL_UNION,
        "intersect_keys": SQL_INTERSECT,
        "scalar_datetime": SQL_SCALAR_DATETIME,
        "dense_global_id": SQL_DENSE_GLOBAL,
        "tabloop_suppress": SQL_TABLOOP,
        "tabloop_fixed": SQL_TABLOOP_FIXED,
        "interval_resegment": SQL_RESEGMENT,
        "dedup_exact": SQL_DEDUP_EXACT,
        "text_stats": SQL_TEXT_STATS,
        "lang_id": _sql_lang_id(),
        "quality_fingerprint": SQL_QUALITY,
        "knn_bruteforce": SQL_KNN_BRUTEFORCE,
        "theta_or_join": SQL_THETA_OR,
        "submonth_clip": SQL_SUBMONTH_CLIP,
        "mode_random_tiebreak": SQL_MODE_RANDOM,
        "union_bindrows": SQL_UNION_BINDROWS,
        "windowed_events": SQL_WINDOWED_EVENTS,
        "sliding_windows": SQL_SLIDING_WINDOWS,
        "session_windows": SQL_SESSION_WINDOWS,
        "multimodal_features": SQL_MULTIMODAL,
        "multimodal_decode": SQL_MULTIMODAL_DECODE,
        "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
        "grouping_sets": SQL_GROUPING_SETS,
        "json_props": SQL_JSON_PROPS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_near_dup": SQL_MINHASH_NEAR_DUP,
        "simhash_near_dup": SQL_SIMHASH_NEAR_DUP,
        "knn_ivf": SQL_KNN_IVF,
        "repetition_filter": SQL_REPETITION_FILTER,
        "bm25_topk": SQL_BM25_TOPK,
        "bigram_lm": SQL_BIGRAM_LM,
        "scd2_merge": SQL_SCD2_MERGE,
        "semantic_dedup": SQL_SEMANTIC_DEDUP,
        "weighted_sample": SQL_WEIGHTED_SAMPLE,
        "mix_rebalance": SQL_MIX_REBALANCE,
        "domain_cap": SQL_DOMAIN_CAP,
        "record_linkage": SQL_RECORD_LINKAGE,
        "wordpiece_tokenize": _sql_wordpiece(),
        "line_dedup": SQL_LINE_DEDUP,
        "bloom_decontaminate": SQL_BLOOM_DECONTAMINATE,
        "url_dedup": SQL_URL_DEDUP,
        "streaming_dedup": SQL_STREAMING_DEDUP,
        "pagerank_authority": SQL_PAGERANK,
        "quality_classify": SQL_QUALITY_CLASSIFY,
        "cms_heavy_hitters": SQL_CMS_HEAVY_HITTERS,
        "knn_rh_lsh": SQL_KNN_RH_LSH,
        "image_resize": SQL_IMAGE_RESIZE,
        "text_normalize": SQL_TEXT_NORMALIZE,
        "weighted_sample_grouped": SQL_WEIGHTED_SAMPLE_GROUPED,
        "collocations": SQL_COLLOCATIONS,
        "quantize_embeddings": SQL_QUANTIZE_EMBEDDINGS,
        "pii_scrub": SQL_PII_SCRUB,
        "chunk_documents": SQL_CHUNK_DOCUMENTS,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "ccw_two_claim": SQL_CCW_TWO_CLAIM,
        "ccw_combined": SQL_CCW_COMBINED,
        "combined_claim_children": SQL_COMBINED_CLAIM_CHILDREN,
        "rda_value_set": SQL_RDA_VALUE_SET,
        "claims_summary": SQL_CLAIMS_SUMMARY,
        "corpus_clean": SQL_CORPUS_CLEAN,
        "decontaminate": SQL_DECONTAMINATE,
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "apcd_ed_episode": SQL_APCD_ED_EPISODE,
        "fuh_followup": SQL_FUH_FOLLOWUP,
        "pcr_readmission": SQL_PCR_READMISSION,
        "tx_pen_measure": SQL_TX_PEN,
        "ah_utilization": SQL_AH_UTILIZATION,
        "claim_moud": SQL_CLAIM_MOUD,
        "claim_value_set": SQL_CLAIM_VALUE_SET,
        # (as of round 9 no registry entry is rows-only: the former
        # holdout sketch_distinct_rollup gained the deterministic
        # md5-register mirror below)
        "sketch_distinct_rollup": SQL_SKETCH_DISTINCT,
        "elig_cohort_filters": SQL_ELIG_COHORT_FILTERS,
        "mcare_timevar": SQL_MCARE_TIMEVAR,
        "mcare_elig_month": SQL_MCARE_ELIG_MONTH,
        "apcd_plr": SQL_APCD_PLR,
        "apcd_elig_month": SQL_APCD_ELIG_MONTH,
        "stage_mcaid_elig": SQL_STAGE_MCAID_ELIG,
        "demo_summary": SQL_DEMO_SUMMARY,
        "comorb_scores": SQL_COMORB_SCORES,
        "provider_master_rank": SQL_PROVIDER_MASTER_RANK,
        "ndc_normalize": SQL_NDC_NORMALIZE,
        "housing_status": SQL_HOUSING_STATUS,
        "address_clean": SQL_ADDRESS_CLEAN,
        "spatial_pip": SQL_SPATIAL_PIP,
        "perf_measure_ed": SQL_PERF_MEASURE_ED,
        "perf_measure_fua": SQL_PERF_MEASURE_FUA,
        "lcs_match": SQL_LCS_MATCH,
        "amr_measure": SQL_AMR_MEASURE,
    }

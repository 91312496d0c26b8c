"""Plan-shape guards: the scale properties SCALE.md documents, asserted
on the physical plans so a regression (extra shuffle, lost broadcast,
lost pushdown) fails CI instead of silently degrading at 100 TB."""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(plan: str) -> int:
    # count shuffle exchanges only (broadcast exchanges are fine)
    return len(re.findall(r"Exchange (?:hash|range)partitioning", plan))


def test_coverage_stats_single_shuffle(spark, sf_dir):
    from claims_data_spark.operators.intervals import coverage_stats

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("to_date"),
    )
    cov = coverage_stats(
        o, ["o_custkey"], "from_date", "to_date", "1996-01-01", "1996-12-31"
    )
    plan = _plan(cov)
    # the whole islands+clip+gaps pipeline reuses ONE shuffle on the id
    assert _n_exchanges(plan) == 1, plan


def test_islands_single_shuffle(spark, sf_dir):
    from claims_data_spark.operators.intervals import collapse_islands

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.col("o_orderdate").cast("date").alias("to_date"),
    )
    islands = collapse_islands(o, ["o_custkey"], max_gap_days=30)
    assert _n_exchanges(_plan(islands)) == 1


def test_dim_joins_broadcast_not_shuffle(spark, sf_dir):
    """The fact table must not shuffle for dimension joins — only the
    final aggregation exchange is allowed."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    agg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(agg)
    assert "BroadcastHashJoin" in plan
    assert _n_exchanges(plan) <= 1, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(
        F.col("l_shipdate").cast("date") <= F.lit("1996-01-01").cast("date")
    ).select("l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "LessThan" in plan, plan
    # column pruning: the scan reads only the two needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 2, plan


def test_resegment_no_cartesian(spark, sf_dir):
    from claims_data_spark.operators.intervals import resegment_overlaps

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.date_add(F.col("o_orderdate").cast("date"), 20).alias("to_date"),
    )
    seg = resegment_overlaps(o, o, "o_custkey")
    plan = _plan(seg)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # sweep line: no join at all
    assert "BroadcastNestedLoop" not in plan

def test_ccw_single_dx_scan(spark, sf_dir):
    """The CCW engine must scan the dx table ONCE for all conditions:
    the flag matrix melts to a broadcast long map, so N conditions are
    one join + one aggregation, not N differently-filtered joins
    (reference runs 31 sequential per-condition builds)."""
    from claims_data_spark.tables.conditions import build_claim_ccw

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
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
        *[
            F.when(F.col("id") % 7 == i, 1).otherwise(0).alias(f"ccw_c{i}")
            for i in range(5)
        ],
    )
    cfg = [
        {"ccw_abbrev": f"ccw_c{i}", "dx_fields": "any", "claim_type_1": "1",
         "claim_type_2": "2;3", "condition_type": 2, "lookback_months": 12}
        for i in range(5)
    ]
    ccw = build_claim_ccw(icdcm, header, ref, cfg)
    plan = _plan(ccw)
    # one scan of lineitem (the dx fact) regardless of condition count
    assert plan.count("lineitem.parquet") == 1, plan
    # round 6: at most TWO shuffle exchanges — the claim-grain
    # membership groupBy (free when the dx fact arrives claim-keyed, as
    # at scale; one exchange when the fixture's broadcast join leaves
    # hits unpartitioned) and the (abbrev, person) repartition that the
    # distinct, the two-claim window and the final collapse all reuse;
    # config lookups are literal maps, never broadcast-join stages, and
    # the header joins at hit grain so it can never become a post-agg
    # claim-grain SortMergeJoin (the sf10 trap)
    assert _n_exchanges(plan) <= 2, plan


def test_rda_value_set_two_shuffles(spark, sf_dir):
    """The RDA value-set assembly pays exactly two shuffle exchanges:
    the (code_set, code) repartition serving the normalize distinct +
    longest-raw window, and the final repartition serving the
    keep-first collapse; config catalogs compile to CASE/map literals
    and the one ref_icdcm broadcast also describes the NO-HARMS
    extras."""
    from claims_data_spark.tables.rda_value_set import (
        build_ref_rda_value_set,
    )

    new_raw = spark.createDataFrame(
        [("mh", "vs", "diagnosis", "ICDCM", "2960", "MOOD"),
         ("sud", "vs", "pharmacy", "NDC", "123", "NALTREXONE HCL")],
        "value_set_group string, value_set_name string,"
        " data_source_type string, code_set string, code string,"
        " desc string",
    )
    ref = spark.createDataFrame(
        [("29600", 9, "5.8", "MOOD EP")],
        "icdcm string, icdcm_version int, ccs_detail_code string,"
        " icdcm_description string",
    )
    pharm = spark.createDataFrame(
        [("Naltrexone HCl", "Naltrexone")],
        "desc_1 string, sub_group_pharmacy string",
    )
    out = build_ref_rda_value_set(spark, new_raw, ref, pharm)
    plan = _plan(out)
    assert _n_exchanges(plan) == 2, plan


def test_plr_multi_year_scan_count_constant(spark, sf_dir):
    """build_apcd_elig_plr_multi must not scan the timevar source once
    per year: the year dimension broadcast-joins the intervals, so the
    physical scan count (and exchange count) is IDENTICAL for 1 year
    and 5 years — the plan property that turns the reference's
    unrolled per-year loop into one pass."""
    import re

    from pyspark.sql import functions as F
    from claims_data_spark.tables.apcd import build_apcd_elig_plr_multi

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    tv = o.select(
        F.col("o_custkey").alias("id_apcd"),
        F.col("o_orderdate").cast("date").alias("from_date"),
        F.date_add(F.col("o_orderdate").cast("date"), 400).alias("to_date"),
        F.lit("98101").alias("geo_zip"),
        F.lit(1).alias("med_covgrp"), F.lit(0).alias("pharm_covgrp"),
        F.lit(0).alias("dental_covgrp"), F.lit(0).alias("dual_flag"),
        F.lit(1).alias("med_medicaid"), F.lit(0).alias("med_medicare"),
        F.lit(0).alias("med_commercial"),
        F.lit(0).alias("pharm_medicaid"), F.lit(0).alias("pharm_medicare"),
        F.lit(0).alias("pharm_commercial"),
    )
    demo = o.select(F.col("o_custkey").alias("id_apcd")).distinct().select(
        "id_apcd",
        F.lit("1980-01-01").cast("date").alias("dob"),
        F.lit(0).alias("ninety_only"),
        *[F.lit(None).cast("string").alias(c) for c in (
            "gender_me", "gender_recent", "race_eth_me", "race_me",
            "race_eth_recent", "race_recent")],
        *[F.lit(0).alias(c) for c in (
            "gender_female", "gender_male", "race_aian", "race_asian",
            "race_black", "race_latino", "race_nhpi", "race_white",
            "race_unknown")],
    )

    def counts(years):
        plan = build_apcd_elig_plr_multi(tv, demo, years)._jdf \
            .queryExecution().executedPlan().toString()
        scans = len(re.findall(r"Scan parquet", plan))
        exchanges = len(
            re.findall(r"Exchange (?:hash|range)partitioning", plan)
        )
        return scans, exchanges

    one = counts([1995])
    five = counts([1994, 1995, 1996, 1997, 1998])
    assert one == five, (one, five)


def test_header_flags_consumer_skips_reassembly(spark, sf_dir):
    """The APCD header's final frame serves person/date/flag/id columns
    from the checkpointed minting pipeline, and the extras side is a
    LEFT join against a dropDuplicates-backed (provably unique) frame.
    A consumer selecting ONLY flag/id columns must therefore reference
    NO parquet scan at all — the assembly ran once into the checkpoint
    and Catalyst eliminates the entire extras branch, header re-scan
    included."""
    import __spark_entry__ as entrymod

    df = entrymod.q_apcd_ed_episode(spark, sf_dir)
    plan = _plan(df)
    # the minting pipeline surfaces as a checkpointed-RDD scan
    assert "ExistingRDD" in plan
    assert plan.count("lineitem.parquet") == 0, plan[:2000]
    assert plan.count("orders.parquet") == 0, plan[:2000]


def test_weighted_sample_plans_take_ordered(spark, sf_dir):
    """The ES sample's global top-k must plan as TakeOrderedAndProject
    (partition-local k + driver merge), never a global Sort exchange."""
    from claims_data_spark.operators.corpus import weighted_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = weighted_sample(d, k=100, weight_col="n_chars", id_col="doc_id")
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert _n_exchanges(plan) == 0, plan


def test_mix_rebalance_fact_side_map_only(spark, sf_dir):
    """The corpus side of the rebalance joins the (broadcast) rate
    table and filters — no shuffle of the fact; the only exchanges
    belong to the tiny per-stratum aggregate."""
    from claims_data_spark.operators.corpus import mix_rebalance

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mix_rebalance(
        d, "lang", {"en": 0.5, "de": 0.5}, id_col="doc_id"
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # exchanges only on the counts aggregate (lang-grain, tiny)
    assert _n_exchanges(plan) <= 2, plan


def test_domain_cap_blocklist_before_exchange(spark, sf_dir):
    """The blocklist filter must sit under the host exchange so
    blocked giants never shuffle."""
    from claims_data_spark.operators.web import domain_cap

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"),
                        F.lit(".example.org/"), F.col("doc_id").cast("string")),
    )
    out = domain_cap(
        d, "url", k=5, order_cols=[F.col("n_chars").desc()],
        id_col="doc_id", blocklist=["src13.example.org"],
    )
    plan = _plan(out)
    ex = plan.index("Exchange hashpartitioning")
    flt = plan.index("Filter NOT (lower(regexp_extract")
    assert flt > ex, plan  # deeper in the tree = earlier in execution


def test_semantic_dedup_pairs_keyed_on_cluster(spark, sf_dir):
    """The pair join must key on centroid_id (bucketed pairs), with no
    cartesian product anywhere in the plan."""
    from pyspark.sql import functions as F2
    from claims_data_spark.operators.similarity import semantic_dedup

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("vec", F2.transform("embedding", lambda x: x.cast("double")))
        .select("vec_id", F2.col("vec").alias("embedding"))
    )
    out = semantic_dedup(emb, centroid_ids=[10, 60, 110, 160], threshold=0.4)
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "centroid_id" in plan, plan
    # assignment is the Arrow ranker, not centroid coefficients
    # compiled into the plan as an element_at(...) literal tree
    assert "element_at(" not in plan, plan


def test_no_generator_filter_pushed_below_spread_exchange(spark, sf_dir):
    """Regression guard for the InferFiltersFromGenerate trap
    (SCALE.md round 5): `explode(heavy_expr)` must not leave an
    inferred size()>0 filter carrying the n-gram/probe tree BELOW the
    spread() exchange, where it executes serially in the single-task
    scan and duplicates the most expensive expression in the query.
    Both decontamination paths use explode_outer, so no node between
    the scan and the exchange may contain a lambda."""
    import __spark_entry__ as m

    def _connector_depth(line: str) -> int:
        for marker in ("+- ", ":- "):
            i = line.find(marker)
            if i >= 0:
                return i
        return -1

    for name in ("decontaminate", "bloom_decontaminate"):
        df = m.queries()[name](spark, sf_dir)
        plan = _plan(df)
        lines = plan.splitlines()
        ex_rows = [i for i, ln in enumerate(lines) if "REPARTITION_BY_NUM" in ln]
        assert ex_rows, plan
        for ex in ex_rows:
            d = _connector_depth(lines[ex])
            subtree = []
            for ln in lines[ex + 1:]:
                dd = _connector_depth(ln)
                if 0 <= dd <= d:
                    break  # left the exchange's subtree
                subtree.append(ln)
            scan_side = "\n".join(subtree)
            assert "lambdafunction" not in scan_side, (name, scan_side)


def test_substring_spans_single_shingle_exchange(spark, sf_dir):
    """The shingle stream must shuffle ONCE (fp-bucket collect; pairs
    generate row-locally from the bucket list) — the self-join shape
    computed and exchanged the stream twice, costing 8x at sf1. The
    only other exchange is the pair-grain distinct."""
    from claims_data_spark.operators.dedup import substring_dup_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("text").isNotNull())
    plan = _plan(substring_dup_spans(docs, span=50, stride=10))
    assert plan.count("documents.parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "HashJoin" not in plan, plan
    assert _n_exchanges(plan) <= 3, plan  # spread + fp + distinct


def test_ccw_bucketed_inputs_single_exchange(spark):
    """The production CCW path reads a STORED claim-bucketed dx fact
    and header (the reference's Synapse HASH(claim) distribution,
    load_ccw.R:522-541): with both inputs bucketed on the claim key,
    the dx-header join and the claim-grain membership aggregation
    reuse the bucket partitioning, and the whole engine runs with
    exactly ONE shuffle — the explicit (abbrev, id) repartition that
    the distinct, the two-claim window and the final collapse share.
    This pins the round-6 scale fix: no claim-grain exchange can
    reappear regardless of header size (the old broadcast->SMJ trap)."""
    import shutil

    from claims_data_spark.sources.io import write_bucketed
    from claims_data_spark.tables.conditions import build_claim_ccw

    for t in ("t_ccw_dx_b", "t_ccw_hdr_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    n = 2000
    dx = spark.range(n).select(
        (F.col("id") % 300).alias("id_mcaid"),
        F.col("id").alias("claim_header_id"),
        F.date_add(F.lit("2017-01-01").cast("date"),
                   (F.col("id") % 365).cast("int")).alias("first_service_date"),
        F.format_string("C%03d", F.col("id") % 50).alias("icdcm_norm"),
        F.lit(10).alias("icdcm_version"),
        F.lpad((F.col("id") % 3 + 1).cast("string"), 2, "0").alias("icdcm_number"),
    )
    hdr = spark.range(n).select(
        F.col("id").alias("claim_header_id"),
        (F.col("id") % 6).cast("int").alias("claim_type_id"),
    )
    write_bucketed(dx, "t_ccw_dx_b", ["claim_header_id"], num_buckets=8,
                   sort_cols=["claim_header_id"])
    write_bucketed(hdr, "t_ccw_hdr_b", ["claim_header_id"], num_buckets=8,
                    sort_cols=["claim_header_id"])
    ref = spark.range(50).select(
        F.format_string("C%03d", F.col("id")).alias("icdcm"),
        F.lit(10).alias("icdcm_version"),
        F.when(F.col("id") < 5, 1).otherwise(0).alias("ccw_synth"),
        F.when(F.col("id") >= 45, 1).otherwise(0).alias("ccw_synth_exclude1"),
    )
    cfg = [
        {"ccw_abbrev": "ccw_synth", "dx_fields": "1-2",
         "claim_type_1": "1", "claim_type_2": "2;3",
         "condition_type": 2, "lookback_months": 12},
        {"ccw_abbrev": "ccw_synth_exclude1", "dx_fields": "any"},
    ]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the header must NOT be broadcastable: at 100 TB it isn't,
        # and the bucketed merge path is exactly what runs
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = build_claim_ccw(
            spark.table("t_ccw_dx_b"), spark.table("t_ccw_hdr_b"), ref, cfg
        )
        out.count()  # materialize so AQE finalizes the plan
        plan = _plan(out)
        assert _n_exchanges(plan) == 1, plan
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ccw_flag_codes_pushed_to_scan(spark, tmp_path):
    """The compiled flag-code In() filter must reach the parquet scan
    (PushedFilters), not sit above the join — at 100 TB this is the
    difference between decoding every dx row and dictionary-skipping
    the ~80-95% that match no condition."""
    from claims_data_spark.tables.conditions import build_claim_ccw

    p = str(tmp_path / "dx")
    spark.range(2000).select(
        (F.col("id") % 300).alias("id_mcaid"),
        F.col("id").alias("claim_header_id"),
        F.date_add(F.lit("2017-01-01").cast("date"),
                   (F.col("id") % 365).cast("int")).alias("first_service_date"),
        F.format_string("C%03d", F.col("id") % 50).alias("icdcm_norm"),
        F.lit(10).alias("icdcm_version"),
        F.lpad((F.col("id") % 3 + 1).cast("string"), 2, "0").alias(
            "icdcm_number"),
    ).write.parquet(p)
    dx = spark.read.parquet(p)
    hdr = spark.range(2000).select(
        F.col("id").alias("claim_header_id"),
        (F.col("id") % 6).cast("int").alias("claim_type_id"),
    )
    ref = spark.range(50).select(
        F.format_string("C%03d", F.col("id")).alias("icdcm"),
        F.lit(10).alias("icdcm_version"),
        F.when(F.col("id") < 5, 1).otherwise(0).alias("ccw_synth"),
        F.when(F.col("id") >= 45, 1).otherwise(0).alias(
            "ccw_synth_exclude1"),
    )
    cfg = [
        {"ccw_abbrev": "ccw_synth", "dx_fields": "1-2",
         "claim_type_1": "1", "claim_type_2": "2;3",
         "condition_type": 2, "lookback_months": 12},
        {"ccw_abbrev": "ccw_synth_exclude1", "dx_fields": "any"},
    ]
    out = build_claim_ccw(dx, hdr, ref, cfg)
    plan = _plan(out)
    scan = plan[plan.index("FileScan parquet"):]
    pushed = scan[scan.index("PushedFilters"):][:400]
    assert "icdcm_norm" in pushed and "In(" in pushed, pushed
    assert out.count() > 0


def test_corpus_diff_bucketed_snapshots_zero_exchange(spark):
    """BASELINE.md's claim that at stored-corpus scale corpus_diff's
    full-outer exchange disappears: with both snapshots written
    bucketed on the doc id (io.write_bucketed — how release artifacts
    should be stored), the diff executes with ZERO shuffle exchanges
    (the join zips co-located buckets) and the per-status summary
    needs only the final single-partition agg exchange at most."""
    import shutil

    from claims_data_spark.operators.corpus import (
        corpus_diff,
        corpus_diff_summary,
    )
    from claims_data_spark.sources.io import write_bucketed

    for t in ("t_diff_old_b", "t_diff_new_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    old = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.format_string("text-%d", F.col("id")).alias("text"),
    )
    new = spark.range(1100).filter(F.col("id") % 7 != 0).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0,
               F.format_string("text-%d-v2", F.col("id")))
         .otherwise(F.format_string("text-%d", F.col("id"))).alias("text"),
    )
    write_bucketed(old, "t_diff_old_b", ["doc_id"], num_buckets=8,
                   sort_cols=["doc_id"])
    write_bucketed(new, "t_diff_new_b", ["doc_id"], num_buckets=8,
                   sort_cols=["doc_id"])
    diff = corpus_diff(
        spark.table("t_diff_old_b"), spark.table("t_diff_new_b"), "doc_id"
    )
    plan = diff._jdf.queryExecution().executedPlan().toString()
    assert _n_exchanges(plan) == 0, plan
    # the values stay right on the bucketed path
    got = dict(
        corpus_diff_summary(diff).select("status", "n_docs").collect()
    )
    assert got["added"] > 0 and got["removed"] > 0
    assert got["changed"] > 0 and got["unchanged"] > 0
    total = sum(got.values())
    assert total == diff.count()


def test_assign_splits_map_only(spark):
    """assign_splits is a pure md5 cut: ZERO shuffle exchanges — the
    split column must attach map-side at any corpus scale (BASELINE's
    floor-trend note leans on this shape)."""
    from claims_data_spark.operators.corpus import assign_splits

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37).cast("string").alias("domain"),
    )
    out = assign_splits(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="doc_id", group_col="domain",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _n_exchanges(plan) == 0, plan


def test_shard_assign_map_only_manifest_one_exchange(spark):
    """shard_assign is a pure md5-mod projection: ZERO exchanges (the
    shard id is a free column on the release scan at any scale);
    shard_manifest pays exactly ONE exchange — the shard-key hash agg
    with map-side partials, state bounded by num_shards."""
    from claims_data_spark.sources.io import shard_assign, shard_manifest

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("text"),
    )
    assigned = shard_assign(docs, "doc_id", 16)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert _n_exchanges(plan) == 0, plan

    man = shard_manifest(docs, "doc_id", 16, text_col="text")
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert _n_exchanges(plan) == 1, plan


def test_threshold_sweep_one_exchange(spark):
    """threshold_sweep pays ONE corpus-grain exchange (the n_bins-
    bounded hash agg with map-side partials); the cumulative window
    runs over the bin table, a dimension-sized single partition."""
    from claims_data_spark.operators.classify import threshold_sweep

    docs = spark.range(1000).select(
        ((F.col("id") % 97) / 97.0).alias("score"),
        (F.col("id") % 3 == 0).cast("int").alias("label"),
    )
    out = threshold_sweep(docs, "score", "label", 20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the bin agg exchange + the SinglePartition exchange feeding the
    # 20-row window — corpus-size-dependent shuffles: exactly one
    assert _n_exchanges(plan) == 1, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_cross_source_overlap_one_corpus_exchange(spark):
    """cross_source_contamination pays ONE corpus-grain exchange (the
    gram shuffle that unifies each gram's source set into a bit_or
    mask); the mask rollup, pair expansion and totals are all
    dimension-sized. The pair table is broadcast, never shuffled."""
    from claims_data_spark.operators.corpus import (
        cross_source_contamination,
    )

    docs = spark.createDataFrame(
        [(f"s{i % 3}", f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(200)],
        "src string, text string",
    )
    out = cross_source_contamination(docs, "src", "text", n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # corpus-size-dependent shuffles: the gram agg (+ the spread
    # repartition on a tiny local input); mask/pair stages are bounded
    assert _n_exchanges(plan) <= 3, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan \
        or "CartesianProduct" not in plan, plan


def test_fuzzy_decontaminate_bench_side_broadcast(spark, sf_dir):
    # the decontamination asymmetry: the benchmark's band table and
    # shingle sets BROADCAST, the corpus pays one scan — the band
    # probe must plan as a BroadcastHashJoin, never a corpus-grain
    # SortMergeJoin, and the only shuffle exchanges are
    # candidate-grain (the distinct + per-doc best-match aggregate)
    from claims_data_spark.operators.corpus import fuzzy_decontaminate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    _, cont = fuzzy_decontaminate(d, bench)
    plan = _plan(cont)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("SortMergeJoin") == 0, plan
    # candidate-grain exchanges only: the distinct over (doc, bench)
    # pairs and the groupBy(doc) aggregate — ≤ 4 with partials
    assert _n_exchanges(plan) <= 4, plan


def test_diversity_sample_assignment_map_only(spark, sf_dir):
    # nearest-centroid assignment is one map-only Arrow ranker node —
    # no join; the only exchanges are the rank windows (1 single-phase,
    # 2 with the salted pre-prune)
    from claims_data_spark.operators.similarity import diversity_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cents = [[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62]
    one = diversity_sample(emb, "v", "vec_id", cents, 5)
    plan = _plan(one)
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" in plan, plan
    assert _n_exchanges(plan) == 1, plan
    two = diversity_sample(emb, "v", "vec_id", cents, 5, two_phase=True)
    assert _n_exchanges(_plan(two)) == 2


def test_top_causes_bucketed_inputs_no_claim_exchange(spark):
    """The production top_causes path reads STORED claim-bucketed
    header and dx tables (the Synapse HASH-distribution layout the
    reference queries, same ruling as the CCW proof): the cohort
    broadcasts (MB-sized next to the claim facts), so the header keeps
    its bucket partitioning through the semi-join and the events-dx
    join runs bucket-local — no claim-grain exchange anywhere. The
    only shuffles left are dimension-sized: the CCS-category
    countDistinct and the global rank window."""
    import shutil

    from claims_data_spark.api import top_causes
    from claims_data_spark.sources.io import write_bucketed

    for t in ("t_tc_hdr_b", "t_tc_dx_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    n = 3000
    hdr = spark.range(n).select(
        (F.col("id") % 400).alias("id_mcaid"),
        F.col("id").alias("claim_header_id"),
        F.date_add(F.lit("1995-01-01").cast("date"),
                   (F.col("id") % 700).cast("int")).alias("first_service_date"),
        F.when(F.col("id") % 3 == 0, F.floor(F.col("id") / 3))
        .alias("ed_pophealth_id"),
        F.when(F.col("id") % 13 != 0, F.lit("dx")).alias("primary_diagnosis"),
    )
    dx = spark.range(n).select(
        F.col("id").alias("claim_header_id"),
        F.lit("01").alias("icdcm_number"),
        F.format_string("C%02d", F.col("id") % 40).alias("icdcm_norm"),
        F.lit(10).alias("icdcm_version"),
    )
    write_bucketed(hdr, "t_tc_hdr_b", ["claim_header_id"], num_buckets=8)
    write_bucketed(dx, "t_tc_dx_b", ["claim_header_id"], num_buckets=8)
    cohort = spark.range(300).select(F.col("id").alias("id_mcaid"))
    ref = spark.range(40).select(
        F.format_string("C%02d", F.col("id")).alias("icdcm"),
        F.lit(10).alias("icdcm_version"),
        F.format_string("cat%d", F.col("id") % 12).alias("ccs_detail_desc"),
        F.lit(0).alias("ccs_catch_all"),
    )
    out = top_causes(
        cohort, spark.table("t_tc_hdr_b"), spark.table("t_tc_dx_b"), ref,
        "1995-01-01", "1996-12-31", top_n=10, type="ed",
    )
    plan = _plan(out)
    # claim-grain inputs are bucketed: the events-dx join must not
    # exchange; the residual hash exchanges are the category
    # countDistinct's (dimension-sized state)
    assert _n_exchanges(plan) <= 2, plan
    # and none of them may partition on the claim key
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "claim_header_id" not in m.group(1), plan

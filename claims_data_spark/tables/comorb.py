"""Comorbidity reference tables + scoring (Charlson / Elixhauser / Gagne).

Reference: claims_db/phclaims/ref/tables/load_ref.comorb_ref_tables.sql
  - ref.comorb_cond_lookup  (:10-65)   43 conditions with the three
    published weight columns (Quan 2005 / Quan 2011 updates).
  - ref.comorb_dx_lookup    (:185-192) wide per-dx flag matrix, one
    TINYINT column per condition short_name.
  - ref.comorb_value_set    (:199-209) long (dx, dx_ver, cond_id,
    weights, flag) normal form.

The reference expands its rules by materializing substring columns
ICD9_3/4/5 and ICD10_3..7 of every code in ref.dx_lookup and running a
43-arm CASE per ICD version (:220-990).  Spark-first design: the rules
are ~543 (prefix_len, lo, hi, cond_id) rows — broadcast them and join
on (dx_ver, prefix_len) equi keys with a BETWEEN residual, one scan of
the dx catalog, no per-condition passes.  At 100 TB the value set is
still tiny (bounded by the ICD catalog, ~100k rows); the scoring join
against claim dx lines broadcasts it, so scoring is one shuffle on the
person id regardless of claim volume.

The reference ships no scoring consumer; `build_comorb_scores` is the
standard downstream use of the weight columns (sum of per-condition
weights with the published supersession pairs: complicated diabetes
over uncomplicated, severe liver over mild, metastatic over solid
tumor, complicated hypertension over uncomplicated).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claims_data_spark.schema import local_frame
from claims_data_spark.tables.comorb_catalog import (
    COMORB_COND_LOOKUP,
    COMORB_DX_RULES,
)

# (winner_short_name, loser_short_name): when both flags are set for a
# person, the loser's weight is not counted for that score family.
# Standard Quan/Charlson + Elixhauser supersession pairs.
SUPERSEDES = {
    "charlson": [("DiabC_Ch", "DiabU_Ch"), ("SevereLiver_Ch", "MildLiver_Ch"),
                 ("Metastatic", "Tumor_Ch")],
    "elixhauser": [("DiabC_El", "DiabU_El"), ("Metastatic", "Tumor_El"),
                   ("HypertC", "HypertU")],
    "gagne": [("Metastatic", "Tumor_Ch")],
}

_WGT_IDX = {"elixhauser": 4, "charlson": 5, "gagne": 6}


# driver->JVM conversion of the static catalogs costs ~100 ms per
# call and every comorbidity build makes two of them — memoized per
# SparkSession. Keyed weakly by the session OBJECT (not applicationId):
# sibling sessions from newSession() share an applicationId but must
# not share frames, and entries from stopped sessions are reclaimed
# with the session instead of lingering forever.
import weakref

_REF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _memo_df(spark: SparkSession, key: str, rows, schema: str) -> DataFrame:
    """``rows`` as a driver-local frame (:func:`local_frame`), memoized."""
    per_session = _REF_CACHE.setdefault(spark, {})
    df = per_session.get(key)
    if df is None:
        df = local_frame(spark, rows, schema)
        per_session[key] = df
    return df


def build_comorb_cond_lookup(spark: SparkSession) -> DataFrame:
    """ref.comorb_cond_lookup — 43 conditions with weight columns."""
    return _memo_df(
        spark, "cond_lookup",
        [(c[0], c[1], c[2], c[3], c[4], c[5], c[6]) for c in COMORB_COND_LOOKUP],
        "cond_id int, short_name string, long_name string, definition string, "
        "elixhauser_wgt int, charlson_wgt int, gagne_wgt int",
    )


def _rules_df(spark: SparkSession) -> DataFrame:
    return _memo_df(
        spark, "dx_rules", COMORB_DX_RULES,
        "dx_ver int, prefix_len int, lo string, hi string, cond_id int",
    )


def match_comorb_conds(dx: str, dx_ver: int) -> set[int]:
    """Pure-Python rule matcher: cond_ids whose prefix/range rules
    cover ``dx`` — the same semantics as the distributed expansion in
    ``build_comorb_value_set`` (pinned equal by
    ``test_python_matcher_equals_spark_expansion``)."""
    out = set()
    for ver, plen, lo, hi, cond_id in COMORB_DX_RULES:
        if ver == dx_ver and len(dx) >= plen and lo <= dx[:plen] <= hi:
            out.add(cond_id)
    return out


def compile_comorb_masks(
    dx_rows: list[tuple[str, int]]
) -> dict[tuple[int, str], int]:
    """Driver-side (ver, dx) -> condition bitmask for a BOUNDED dx
    catalog (bit i set iff cond_id i matches; cond_ids are 1..43).

    The reference pre-materializes exactly this lookup as the wide
    ref.comorb_dx_lookup matrix (load_ref.comorb_ref_tables.sql:
    185-192); queries consume the precomputed matrix, they do not
    re-expand the rules per run. Compiling a small catalog on the
    driver (543 static rules x |catalog|) costs microseconds and zero
    Spark jobs; large catalogs go through the distributed
    ``build_comorb_value_set`` instead. Only dx rows matching at least
    one condition appear in the result."""
    masks: dict[tuple[int, str], int] = {}
    for dx, ver in dx_rows:
        m = 0
        for cid in match_comorb_conds(dx, ver):
            m |= 1 << cid
        if m:
            masks[(ver, dx)] = m
    return masks


def build_comorb_value_set(spark: SparkSession, dx_lookup: DataFrame) -> DataFrame:
    """Expand the prefix rules against a dx catalog (dx, dx_ver).

    Returns the normal-form value set: one row per (dx, dx_ver, cond_id)
    with the condition's name/definition/weights and flag = 1
    (ref.comorb_value_set, load_ref.comorb_ref_tables.sql:199-209).

    Plan: one scan of dx_lookup, explode to the prefix lengths that
    exist for its ICD version (3-5 for ICD-9, 3-7 for ICD-10,
    :220-250), broadcast-join the 543 rules on (dx_ver, prefix_len)
    with lo <= prefix <= hi as the residual, then distinct — a dx can
    match a condition through several rules but appears once.
    """
    lens = F.when(F.col("dx_ver") == 9, F.array(*[F.lit(i) for i in (3, 4, 5)])).otherwise(
        F.array(*[F.lit(i) for i in (3, 4, 5, 6, 7)])
    )
    exploded = (
        dx_lookup.select("dx", "dx_ver")
        .where(F.col("dx_ver").isin(9, 10))
        .distinct()
        .select("dx", "dx_ver", F.explode(lens).alias("prefix_len"))
        .where(F.length("dx") >= F.col("prefix_len"))
        .withColumn("prefix", F.expr("substring(dx, 1, prefix_len)"))
    )
    rules = _rules_df(dx_lookup.sparkSession)
    matched = (
        exploded.join(
            F.broadcast(rules),
            on=[
                exploded["dx_ver"] == rules["dx_ver"],
                exploded["prefix_len"] == rules["prefix_len"],
                exploded["prefix"] >= rules["lo"],
                exploded["prefix"] <= rules["hi"],
            ],
        )
        .select(exploded["dx"], exploded["dx_ver"], rules["cond_id"])
        .distinct()
    )
    lookup = build_comorb_cond_lookup(dx_lookup.sparkSession)
    return matched.join(F.broadcast(lookup), "cond_id").select(
        "dx", "dx_ver", "cond_id", "short_name", "definition",
        "elixhauser_wgt", "charlson_wgt", "gagne_wgt", F.lit(1).alias("flag"),
    )


def build_comorb_dx_lookup(value_set: DataFrame) -> DataFrame:
    """Wide per-dx matrix: one TINYINT-ish flag column per short_name
    (ref.comorb_dx_lookup, load_ref.comorb_ref_tables.sql:185-192).

    One conditional-agg pass instead of PIVOT: groupBy(dx, dx_ver) with
    43 max(when(...)) columns, all JVM codegen.
    """
    aggs = [
        F.coalesce(
            F.max(F.when(F.col("cond_id") == cid, F.lit(1))), F.lit(0)
        ).alias(short)
        for cid, short, *_ in COMORB_COND_LOOKUP
    ]
    return value_set.groupBy("dx", "dx_ver").agg(*aggs)


def build_comorb_scores(
    dx_events: DataFrame,
    value_set: DataFrame | None,
    *,
    id_col: str = "id_mcaid",
    dx_col: str = "dx",
    ver_col: str = "dx_ver",
    date_col: str | None = None,
    from_date: str | None = None,
    to_date: str | None = None,
    compile_threshold: int = 4096,
    compiled_masks: dict[tuple[int, str], int] | None = None,
) -> DataFrame:
    """Per-person comorbidity flags and the three weighted scores.

    dx_events: claim dx lines (e.g. the icdcm_header child table) with
    person id, normalized dx, ICD version, and optionally a service
    date restricted to [from_date, to_date] (the usual 1-year lookback).

    Plan: filter -> attach a per-row CONDITION BITMASK (cond_ids are
    1..43, so one long carries all flags) -> ONE bit_or aggregate on
    the person id -> flags and the three score polynomials as shift-
    and-mask arithmetic at person grain. Exactly one shuffle, keyed by
    person, with a primitive-long partial aggregate (no per-row object
    sets, no 43-branch CASE per dx row) — scale-safe at any claim
    volume.

    The dx->mask attachment dispatches on catalog size, mirroring the
    reference's own precomputed wide matrix (ref.comorb_dx_lookup,
    load_ref.comorb_ref_tables.sql:185-192): when the value set
    collapses to <= ``compile_threshold`` distinct (dx_ver, dx) rows,
    the lookup is compiled into a literal CASE expression (pure
    whole-stage codegen, no join — the rda_value_set compiled-CASE
    design); above it, the mask frame is broadcast-joined (a 100k-row
    ICD catalog stays a few MB). Both paths drop dx rows matching no
    condition before the shuffle, like the reference's inner join.

    Callers that know their catalog ahead of time pass
    ``compiled_masks`` (from ``compile_comorb_masks``) and may leave
    ``value_set=None`` — the plan is then built with ZERO eager jobs
    (the collect-based dispatch costs a small job per build).
    """
    ev = dx_events
    if date_col is not None and from_date is not None:
        ev = ev.where(F.col(date_col).between(F.lit(from_date), F.lit(to_date)))
    dx_masks = None
    if compiled_masks is not None:
        pairs = [(ver, dx, m) for (ver, dx), m in compiled_masks.items()]
    else:
        # one long per (dx_ver, dx): bit i set iff cond_id i matches
        dx_masks = value_set.groupBy("dx_ver", "dx").agg(
            F.expr("bit_or(cast(1 as bigint) << cond_id)").alias("_mask")
        )
        collected = dx_masks.limit(compile_threshold + 1).collect()
        pairs = (
            [(r["dx_ver"], r["dx"], r["_mask"]) for r in collected]
            if len(collected) <= compile_threshold
            else None
        )
    if pairs is not None:
        by_ver: dict[int, list] = {}
        for ver, dx, m in pairs:
            by_ver.setdefault(ver, []).append((dx, m))
        arms = []
        for ver, vpairs in sorted(by_ver.items()):
            # dx values come from DATA (the collected catalog), so
            # escape embedded quotes before splicing into SQL text
            inner = " ".join(
                "WHEN '" + dx.replace("'", "''") + f"' THEN {m}L"
                for dx, m in sorted(vpairs)
            )
            arms.append(
                f"WHEN `{ver_col}` = {int(ver)} "
                f"THEN (CASE `{dx_col}` {inner} END)"
            )
        mask_expr = F.expr("CASE " + " ".join(arms) + " END")
        masked = ev.withColumn("_mask", mask_expr).where(
            F.col("_mask").isNotNull()
        )
    else:
        vs = dx_masks.select(
            F.col("dx").alias("_vs_dx"),
            F.col("dx_ver").alias("_vs_ver"),
            "_mask",
        )
        masked = ev.join(
            F.broadcast(vs),
            on=[
                F.col(dx_col) == F.col("_vs_dx"),
                F.col(ver_col) == F.col("_vs_ver"),
            ],
        )
    # flag expressions and the three ~35-term score polynomials are
    # compiled as SQL text shipped in TWO selectExpr batches: per-column
    # F.expr()/withColumns assembly costs a py4j round-trip per
    # expression (~46 crossings ≈ 0.2 s of driver time per build,
    # profiled); selectExpr parses the whole batch JVM-side in one
    # crossing. Parsed trees are identical.
    flag_exprs = [
        f"cast((_conds >> {int(cid)}) & 1 as int) as `{short}`"
        for cid, short, *_ in COMORB_COND_LOOKUP
    ]
    flags = (
        masked.groupBy(F.col(id_col))
        .agg(F.expr("bit_or(_mask)").alias("_conds"))
        .selectExpr(f"`{id_col}`", *flag_exprs)
    )

    short_to_row = {c[1]: c for c in COMORB_COND_LOOKUP}
    score_exprs = []
    for family, wgt_idx in _WGT_IDX.items():
        losers = {loser for _, loser in SUPERSEDES[family]}
        terms = []
        for row in COMORB_COND_LOOKUP:
            short, w = row[1], row[wgt_idx]
            if w is None:
                continue
            flag = f"`{short}`"
            if short in losers:
                winner = next(w_ for w_, l_ in SUPERSEDES[family] if l_ == short)
                if short_to_row[winner][wgt_idx] is not None:
                    flag = (
                        f"(case when `{winner}` = 1 then 0 else {flag} end)"
                    )
            terms.append(f"{flag} * {int(w)}")
        score_exprs.append(
            "cast((" + " + ".join(terms) + f") as int) as {family}_score"
        )
    return flags.selectExpr("*", *score_exprs)

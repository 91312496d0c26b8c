"""Data-quality assertion suite (SURVEY.md §5 — the reference's QA
scripts re-expressed as DataFrame property checks, e.g.
``qa_stage.mcaid_elig_timevar.R``, ``load_stage.apcd_claim_header.R:1104-1253``).

Each check returns a (name, passed, detail) tuple; ``run_qa`` collects
them into a QA-log DataFrame like the reference's
``metadata.qa_mcaid`` table.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QaResult = tuple[str, bool, str]


def check_keys_unique(df: DataFrame, keys: list[str], name: str = "") -> QaResult:
    """Distinct-rows == total-rows on the key columns
    (``qa_stage.mcaid_elig_timevar.R:152-191``)."""
    total = df.count()
    distinct = df.select(*keys).distinct().count()
    return (
        name or f"unique({','.join(keys)})",
        total == distinct,
        f"total={total} distinct={distinct}",
    )


def check_referential(
    child: DataFrame, parent: DataFrame, keys: list[str], name: str = ""
) -> QaResult:
    """Every child key exists in the parent — left-anti must be empty
    (``load_stage.apcd_claim_header.R:1129-1148``)."""
    orphans = child.select(*keys).distinct().join(
        parent.select(*keys).distinct(), keys, "left_anti"
    ).count()
    return (name or f"referential({','.join(keys)})", orphans == 0, f"orphans={orphans}")


def check_event_id_single_person(
    df: DataFrame, event_id: str, person_id: str, name: str = ""
) -> QaResult:
    """No event id spans >1 person
    (``load_stage.apcd_claim_header.R:1165-1212``)."""
    bad = (
        df.filter(F.col(event_id).isNotNull())
        .groupBy(event_id)
        .agg(F.countDistinct(person_id).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    return (name or f"one-person({event_id})", bad == 0, f"violations={bad}")


def check_event_ids_dense(df: DataFrame, event_id: str, name: str = "") -> QaResult:
    """Dense ids skip no values (``:1213-1225``)."""
    agg = df.filter(F.col(event_id).isNotNull()).agg(
        F.countDistinct(event_id).alias("n"),
        F.min(event_id).alias("lo"),
        F.max(event_id).alias("hi"),
    ).collect()[0]
    dense = agg["n"] == 0 or (agg["lo"] == 1 and agg["hi"] == agg["n"])
    return (
        name or f"dense({event_id})",
        bool(dense),
        f"n={agg['n']} lo={agg['lo']} hi={agg['hi']}",
    )


def check_intervals_valid(
    df: DataFrame, from_col: str = "from_date", to_col: str = "to_date", name: str = ""
) -> QaResult:
    """from <= to on every row."""
    bad = df.filter(F.col(from_col) > F.col(to_col)).count()
    return (name or "intervals-valid", bad == 0, f"violations={bad}")


def check_no_overlap_within_person(
    df: DataFrame, id_cols: list[str], from_col: str = "from_date",
    to_col: str = "to_date", name: str = "",
) -> QaResult:
    """Per-person interval rows must not overlap (timevar invariant)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*id_cols).orderBy(from_col)
    bad = (
        df.withColumn("_prev_to", F.lag(to_col).over(w))
        .filter(F.col("_prev_to") >= F.col(from_col))
        .count()
    )
    return (name or "no-overlap", bad == 0, f"violations={bad}")


def check_member_count_match(
    built: DataFrame,
    raw: DataFrame,
    built_id: str,
    raw_id: str,
    name: str = "member-count-match",
) -> QaResult:
    """Distinct member count of the built table equals the raw
    extract's (``qa_stage.mcaid_elig_timevar.R:109-151``). Two partial
    countDistinct aggregates — no join, no full-width scan."""
    b = built.select(F.countDistinct(built_id).alias("n")).collect()[0]["n"]
    r = raw.select(F.countDistinct(raw_id).alias("n")).collect()[0]["n"]
    return (name, b == r, f"built={b} raw={r}")


def check_date_range_within(
    built: DataFrame,
    raw: DataFrame,
    from_col: str = "from_date",
    to_col: str = "to_date",
    raw_month_col: str = "CLNDR_YEAR_MNTH",
    name: str = "date-range",
) -> QaResult:
    """Built from/to dates fall inside the raw extract's yyyymm month
    range (``qa_stage.mcaid_elig_timevar.R:190-243``): min(from) >=
    first day of min month, max(to) <= last day of max month."""
    b = built.agg(
        F.min(from_col).alias("lo"), F.max(to_col).alias("hi")
    ).collect()[0]
    r = raw.agg(
        F.min(raw_month_col).alias("lo"), F.max(raw_month_col).alias("hi")
    ).collect()[0]
    raw_lo = datetime.date(int(str(r["lo"])[:4]), int(str(r["lo"])[4:6]), 1)
    hi_y, hi_m = int(str(r["hi"])[:4]), int(str(r["hi"])[4:6])
    if hi_m == 12:
        raw_hi = datetime.date(hi_y + 1, 1, 1) - datetime.timedelta(days=1)
    else:
        raw_hi = datetime.date(hi_y, hi_m + 1, 1) - datetime.timedelta(days=1)
    ok = b["lo"] >= raw_lo and b["hi"] <= raw_hi
    return (
        name, bool(ok),
        f"built=[{b['lo']},{b['hi']}] raw=[{raw_lo},{raw_hi}]",
    )


def timevar_golden_qa(
    timevar: DataFrame,
    raw_elig: DataFrame,
    id_col: str = "id_mcaid",
    raw_id_col: str = "MBR_H_SID",
    raw_month_col: str = "CLNDR_YEAR_MNTH",
) -> list[QaResult]:
    """The reference's elig_timevar table-level gate
    (``qa_stage.mcaid_elig_timevar.R``): distinct-segment uniqueness,
    member-count parity with the raw extract, and the date-range
    containment spot check — the automatable part of its
    golden-record section."""
    out = fused_table_qa(
        timevar,
        unique_keys=[id_col, "from_date", "to_date"],
        interval_cols=("from_date", "to_date"),
        overlap_ids=[id_col],
    )
    out.append(
        check_member_count_match(timevar, raw_elig, id_col, raw_id_col)
    )
    out.append(
        check_date_range_within(timevar, raw_elig, raw_month_col=raw_month_col)
    )
    return out


def fused_table_qa(
    df: DataFrame,
    unique_keys: list[str] | None = None,
    interval_cols: tuple[str, str] | None = None,
    overlap_ids: list[str] | None = None,
    event_id: str | None = None,
    person_id: str | None = None,
    extra_flags: dict[str, F.Column] | None = None,
    event_ids: list[str] | None = None,
) -> list[QaResult]:
    """Run every per-table invariant in ONE Spark action.

    The per-check helpers above each trigger 1-2 jobs; a 5-check gate
    on a warehouse-scale table becomes ~8 full scans. This fuses them:
    row-local violations become flag columns, per-person overlap and
    per-event single-person become window flags (each window shares or
    adds one shuffle, not one scan), and everything collapses in a
    single ``agg`` — count, countDistinct on keys, sums of violation
    flags (reference QA suites: ``qa_stage.mcaid_elig_timevar.R``,
    ``load_stage.apcd_claim_header.R:964-1253``).

    ``extra_flags`` maps check name -> boolean VIOLATION predicate
    evaluated per row in the same pass (the predicate may reference
    window-derived columns the caller attached beforehand).

    ``event_ids`` generalizes ``event_id`` to several id families in
    the SAME action (one window per family, one shared agg) — the
    mcare / combined headers carry four (pc_visit / inpatient /
    ed_perform / ed_pophealth).
    """
    from pyspark.sql import Window

    work = df
    aggs = [F.count(F.lit(1)).alias("_total")]
    if unique_keys:
        aggs.append(
            F.countDistinct(*[F.col(k) for k in unique_keys]).alias("_distinct_keys")
        )
    if interval_cols:
        frm, to = interval_cols
        work = work.withColumn(
            "_iv_bad", (F.col(frm) > F.col(to)).cast("int")
        )
        aggs.append(F.sum("_iv_bad").alias("_iv_bad"))
    if overlap_ids:
        frm, to = interval_cols or ("from_date", "to_date")
        w = Window.partitionBy(*overlap_ids).orderBy(frm)
        work = work.withColumn(
            "_ov_bad",
            (F.lag(to).over(w) >= F.col(frm)).cast("int"),
        )
        aggs.append(F.sum(F.coalesce("_ov_bad", F.lit(0))).alias("_ov_bad"))
    ev_list = list(event_ids or ([event_id] if event_id else []))
    for j, ev in enumerate(ev_list):
        if person_id:
            we = Window.partitionBy(ev)
            work = work.withColumn(
                f"_ev_multi_{j}",
                F.when(
                    F.col(ev).isNotNull()
                    & (F.size(F.collect_set(person_id).over(we)) > 1),
                    1,
                ).otherwise(0),
            )
            aggs.append(F.max(f"_ev_multi_{j}").alias(f"_ev_multi_{j}"))
        nn = F.when(F.col(ev).isNotNull(), F.col(ev))
        aggs += [
            F.countDistinct(nn).alias(f"_ev_n_{j}"),
            F.min(nn).alias(f"_ev_lo_{j}"),
            F.max(nn).alias(f"_ev_hi_{j}"),
        ]
    for i, (fname, pred) in enumerate((extra_flags or {}).items()):
        work = work.withColumn(f"_xf_{i}", pred.cast("int"))
        aggs.append(F.sum(F.coalesce(f"_xf_{i}", F.lit(0))).alias(f"_xf_{i}"))

    row = work.agg(*aggs).collect()[0]
    out: list[QaResult] = []
    if unique_keys:
        out.append(
            (
                f"unique({','.join(unique_keys)})",
                row["_total"] == row["_distinct_keys"],
                f"total={row['_total']} distinct={row['_distinct_keys']}",
            )
        )
    if interval_cols:
        out.append(
            ("intervals-valid", (row["_iv_bad"] or 0) == 0, f"violations={row['_iv_bad'] or 0}")
        )
    if overlap_ids:
        out.append(
            ("no-overlap", (row["_ov_bad"] or 0) == 0, f"violations={row['_ov_bad'] or 0}")
        )
    for j, ev in enumerate(ev_list):
        if person_id:
            out.append(
                (f"one-person({ev})", (row[f"_ev_multi_{j}"] or 0) == 0,
                 f"multi-person-events={row[f'_ev_multi_{j}'] or 0}")
            )
        dense = row[f"_ev_n_{j}"] == 0 or (
            row[f"_ev_lo_{j}"] == 1 and row[f"_ev_hi_{j}"] == row[f"_ev_n_{j}"]
        )
        out.append(
            (f"dense({ev})", bool(dense),
             f"n={row[f'_ev_n_{j}']} lo={row[f'_ev_lo_{j}']} "
             f"hi={row[f'_ev_hi_{j}']}")
        )
    for i, fname in enumerate(extra_flags or {}):
        bad = row[f"_xf_{i}"] or 0
        out.append((fname, bad == 0, f"violations={bad}"))
    return out


def run_qa(spark: SparkSession, checks: list[QaResult], table: str) -> DataFrame:
    """Collect results into a QA-log DataFrame (the reference writes
    PASS/FAIL rows into ``metadata.qa_mcaid``)."""
    rows = [(table, n, "PASS" if ok else "FAIL", detail) for n, ok, detail in checks]
    log = spark.createDataFrame(
        rows, "table string, qa_item string, qa_result string, note string"
    ).withColumn("qa_date", F.current_timestamp())
    return log


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Column profile in ONE aggregation pass — the engine's version
    of the reference's metadata sprocs (``metadata/sprocs/
    create_metadata.sp_profile_table.sql`` / ``sp_min_max_value.sql``:
    per-column min / max / null counts driven by dynamic SQL, one
    query per column there, one fused ``agg`` here).

    Returns one row per profiled column: (column, non_null_count,
    null_count, approx_distinct, min_value, max_value) — min/max as
    strings so heterogeneous column types stack in one long frame.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"_cnt_{c}"),
            F.sum(col.isNull().cast("long")).alias(f"_null_{c}"),
            F.approx_count_distinct(col).alias(f"_dist_{c}"),
            F.min(col).cast("string").alias(f"_min_{c}"),
            F.max(col).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"_cnt_{c}").alias("non_null_count"),
                    F.col(f"_null_{c}").alias("null_count"),
                    F.col(f"_dist_{c}").alias("approx_distinct"),
                    F.col(f"_min_{c}").alias("min_value"),
                    F.col(f"_max_{c}").alias("max_value"),
                )
                for c in cols
            ])
        ).alias("p")
    )
    return stacked.select("p.*")


def distinct_values_list(
    df: DataFrame, column: str, sep: str = ", ", limit: int = 1000
) -> DataFrame:
    """Sorted comma-separated distinct values of one column
    (``sp_comma_separated_list.sql`` — its FOR XML PATH idiom is
    ``array_join(sort_array(collect_set(...)))`` here, one partial-
    aggregated pass). ``limit`` caps the collected set so a
    high-cardinality column cannot blow the driver row."""
    return df.select(
        F.array_join(
            F.slice(
                F.sort_array(F.collect_set(F.col(column).cast("string"))),
                1, limit,
            ),
            sep,
        ).alias("values")
    )


def ccw_table_qa(
    ccw: DataFrame,
    expected_conditions: list[str],
    population: int | None = None,
    id_col: str = "id_mcaid",
    cond_col: str = "ccw_desc",
) -> list[QaResult]:
    """Condition-table QA (``qa_stage.mcaid_claim_ccw.R`` — the same
    script QAs the APCD/mcare/combined variants through their yaml
    configs): the distinct-condition surface must match the configured
    catalog, encounter date ranges must be ordered, and per-condition
    prevalence is computed for the analyst review step (the
    reference's compare-to-APCD-estimates item) — all from ONE
    aggregation pass plus one tiny distinct.
    """
    got = {
        r[0] for r in ccw.select(cond_col).distinct().collect()
    }
    missing = sorted(set(expected_conditions) - got)
    extra = sorted(got - set(expected_conditions))
    results: list[QaResult] = [(
        "distinct-conditions-match",
        not missing and not extra,
        f"missing={missing} extra={extra}",
    )]
    stats = (
        ccw.groupBy(cond_col)
        .agg(
            F.countDistinct(id_col).alias("persons"),
            F.sum(
                (
                    F.col("first_encounter_date")
                    > F.col("last_encounter_date")
                ).cast("int")
            ).alias("bad_order"),
        )
        .collect()
    )
    bad_order = sum(int(r["bad_order"] or 0) for r in stats)
    results.append((
        "encounter-dates-ordered", bad_order == 0,
        f"{bad_order} rows with first>last",
    ))
    if population:
        prev = {
            r[cond_col]: round(100.0 * r["persons"] / population, 2)
            for r in stats
        }
        results.append((
            "prevalence-for-review", True, f"pct-of-population {prev}"
        ))
    return results


def xwalk_qa(
    xwalk: DataFrame,
    prior: dict[str, int] | None = None,
    id_cols: tuple = ("id_apde", "id_mcaid", "id_mcare"),
) -> tuple[list[QaResult], dict[str, int]]:
    """Identity-crosswalk QA (``qa_stage.xwalk_apde_mcaid_mcare_pha.R``):
    row and distinct-id counts must never SHRINK between refreshes
    (identities are only ever added), and the minted id must be unique
    per row — the reference compares against the metadata log's prior
    run; here the caller passes the prior snapshot and receives the
    new one to store. ONE aggregation pass for all counts.
    """
    row = xwalk.agg(
        F.count(F.lit(1)).alias("row_count"),
        *[F.countDistinct(c).alias(f"distinct_{c}") for c in id_cols
          if c in xwalk.columns],
    ).first()
    counts = {k: int(row[k] or 0) for k in row.asDict()}
    results: list[QaResult] = [(
        "id_apde-unique-per-row",
        counts.get("distinct_id_apde", 0) == counts["row_count"],
        f"{counts}",
    )]
    for k, v in (prior or {}).items():
        if k in counts:
            results.append((
                f"{k}-not-shrinking", counts[k] >= v,
                f"prior={v} now={counts[k]}",
            ))
    return results, counts


def refresh_acceptance_qa(
    tables: dict[str, DataFrame],
    archive_tables: dict[str, DataFrame] | None = None,
    cutoff_dates: dict[str, tuple[str, str]] | None = None,
    extract_col: str = "extract_id",
) -> DataFrame:
    """Quarterly-refresh acceptance suite
    (``qa_stage.apcd_all_tables_quarterly_refresh.sql``) as ONE result
    frame: per-table row/column counts; for tables whose trailing
    months are overwritten, the pre-cutoff row count in stage vs
    archive (rows before the cutoff must be untouched by the refresh);
    and per-extract min/max service dates when the extract column is
    present. ``cutoff_dates`` maps table -> (date_col, cutoff).
    One count/agg job per table — no cross-table shuffles.
    """
    rows = []
    for name, df in tables.items():
        aggs = [F.count(F.lit(1)).alias("_n")]
        date_col, cutoff = (cutoff_dates or {}).get(name, (None, None))
        if date_col is not None:
            aggs.append(
                F.sum(
                    (F.col(date_col) <= F.lit(cutoff).cast("date"))
                    .cast("long")
                ).alias("_pre")
            )
        r = df.agg(*aggs).first()
        pre = int(r["_pre"] or 0) if date_col is not None else None
        arch_pre = None
        if (archive_tables and name in archive_tables
                and date_col is not None):
            arch_pre = int(
                archive_tables[name]
                .filter(F.col(date_col) <= F.lit(cutoff).cast("date"))
                .count()
            )
        ranges = None
        if extract_col in df.columns and date_col is not None:
            ranges = "; ".join(
                f"{x[extract_col]}:[{x['_mn']}..{x['_mx']}]"
                for x in df.groupBy(extract_col).agg(
                    F.min(date_col).alias("_mn"),
                    F.max(date_col).alias("_mx"),
                ).collect()
            )
        rows.append((
            name, int(r["_n"]), len(df.columns), pre, arch_pre,
            None if (pre is None or arch_pre is None)
            else ("PASS" if pre == arch_pre else "FAIL"),
            ranges,
        ))
    spark = next(iter(tables.values())).sparkSession
    return spark.createDataFrame(
        rows,
        "table_name string, row_count long, col_count int,"
        " pre_cutoff_rows long, archive_pre_cutoff_rows long,"
        " pre_cutoff_match string, extract_date_ranges string",
    )


# ---------------------------------------------------------------------------
# Per-table claim-family QA gates (round 6): the remaining reference
# suites — qa_stage.mcaid_claim_line/pharm/procedure/icdcm_header/
# naloxone/preg_episode.R — each fused into ONE aggregate action
# (broadcast membership markers + row-local format flags + conditional
# min/max/countDistinct collapse together), plus the qa_final.apcd_*
# stage-vs-final promotion gate.
# ---------------------------------------------------------------------------

def _digits_only(col: F.Column) -> F.Column:
    """T-SQL ``isnumeric() = 1`` as the reference QA uses it on code
    fields: every character a digit."""
    return ~col.rlike("[^0-9]")


def _with_elig_marker(df: DataFrame, elig: DataFrame, id_col: str):
    """Left-join a broadcast membership marker from the elig-demo ids
    (qa_stage.mcaid_claim_*.R check 1: 'IDs are all found in the elig
    tables'). Marker form so the violation count folds into the same
    aggregate as every other flag."""
    ids = elig.select(F.col(id_col)).distinct().withColumn(
        "_in_elig", F.lit(1)
    )
    return df.join(F.broadcast(ids), id_col, "left")


def qa_mcaid_claim_line(
    line: DataFrame,
    elig: DataFrame,
    raw_distinct_lines: int | None = None,
    id_col: str = "id_mcaid",
) -> list[QaResult]:
    """qa_stage.mcaid_claim_line.R:9-14 — ids in elig, distinct
    claim-line count vs raw, rev_code 4-digit-numeric format."""
    work = _with_elig_marker(line, elig, id_col)
    rc = F.col("rev_code")
    row = work.agg(
        F.sum(F.when(F.col("_in_elig").isNull(), 1).otherwise(0))
        .alias("_no_elig"),
        F.countDistinct("claim_line_id").alias("_n_lines"),
        F.sum(
            F.when(
                rc.isNotNull()
                & ((F.length(rc) != 4) | ~_digits_only(rc)),
                1,
            ).otherwise(0)
        ).alias("_bad_rev"),
    ).first()
    out = [
        ("ids-in-elig", (row["_no_elig"] or 0) == 0,
         f"violations={row['_no_elig'] or 0}"),
        ("rev_code-format", (row["_bad_rev"] or 0) == 0,
         f"violations={row['_bad_rev'] or 0}"),
    ]
    if raw_distinct_lines is not None:
        out.append((
            "distinct-lines-vs-raw",
            row["_n_lines"] == raw_distinct_lines,
            f"table={row['_n_lines']} raw={raw_distinct_lines}",
        ))
    return out


def qa_mcaid_claim_pharm(
    pharm: DataFrame, elig: DataFrame, id_col: str = "id_mcaid"
) -> list[QaResult]:
    """qa_stage.mcaid_claim_pharm.R:9-12 — ids in elig; NDC 11-digit
    numeric (:116-121)."""
    work = _with_elig_marker(pharm, elig, id_col)
    ndc = F.col("ndc")
    row = work.agg(
        F.sum(F.when(F.col("_in_elig").isNull(), 1).otherwise(0))
        .alias("_no_elig"),
        F.sum(
            F.when(
                ndc.isNotNull()
                & ((F.length(ndc) != 11) | ~_digits_only(ndc)),
                1,
            ).otherwise(0)
        ).alias("_bad_ndc"),
    ).first()
    return [
        ("ids-in-elig", (row["_no_elig"] or 0) == 0,
         f"violations={row['_no_elig'] or 0}"),
        ("ndc-format", (row["_bad_ndc"] or 0) == 0,
         f"violations={row['_bad_ndc'] or 0}"),
    ]


def procedure_code_system(code: F.Column) -> F.Column:
    """The reference's code-system classifier CASE
    (qa_stage.mcaid_claim_procedure.R:123-139): CPT I/II/III/other,
    HCPCS, ICD-9-PCS, ICD-10-PCS, else UNKNOWN."""
    four_num = _digits_only(F.substring(code, 1, 4))
    last = F.substring(code, 5, 1)
    return (
        F.when((F.length(code) == 5) & _digits_only(code),
               "CPT Category I")
        .when((F.length(code) == 5) & four_num & (last == "F"),
              "CPT Category II")
        .when((F.length(code) == 5) & four_num & (last == "T"),
              "CPT Category III")
        .when((F.length(code) == 5) & four_num & last.isin("M", "U"),
              "CPT Other")
        .when(
            (F.length(code) == 5)
            & F.substring(code, 1, 1).rlike("[A-Z]")
            & _digits_only(F.substring(code, 2, 4)),
            "HCPCS",
        )
        .when(F.length(code).isin(3, 4) & _digits_only(code), "ICD-9-PCS")
        .when(F.length(code) == 7, "ICD-10-PCS")
        .otherwise("UNKNOWN")
    )


def qa_mcaid_claim_procedure(
    proc: DataFrame,
    elig: DataFrame,
    id_col: str = "id_mcaid",
    unknown_limit: int = 50,
) -> list[QaResult]:
    """qa_stage.mcaid_claim_procedure.R:10-14 — ids in elig; distinct
    UNKNOWN-code-system procedure codes below the reference's
    tolerance (< 50, :152)."""
    work = _with_elig_marker(proc, elig, id_col).withColumn(
        "_sys", procedure_code_system(F.col("procedure_code"))
    )
    row = work.agg(
        F.sum(F.when(F.col("_in_elig").isNull(), 1).otherwise(0))
        .alias("_no_elig"),
        F.countDistinct(
            F.when(F.col("_sys") == "UNKNOWN", F.col("procedure_code"))
        ).alias("_unknown"),
    ).first()
    return [
        ("ids-in-elig", (row["_no_elig"] or 0) == 0,
         f"violations={row['_no_elig'] or 0}"),
        ("procedure-code-format",
         (row["_unknown"] or 0) < unknown_limit,
         f"unknown-codes={row['_unknown'] or 0} (limit {unknown_limit})"),
    ]


def qa_mcaid_claim_icdcm_header(
    icdcm: DataFrame,
    elig: DataFrame,
    ref_icdcm: DataFrame,
    id_col: str = "id_mcaid",
    unmatched_dx_limit: int = 350,
) -> list[QaResult]:
    """qa_stage.mcaid_claim_icdcm_header.R:9-15 fused to one action —
    ids in elig; ICD-9 codes exactly 5 chars (:129-130); ICD-10 codes
    3-7 chars (:163-164); icdcm_number in 01-12/admit (:197-206);
    distinct dx not joining the ICD-CM reference below the tolerance
    (< 350, :234-243)."""
    ref = ref_icdcm.select(
        F.col("icdcm").alias("icdcm_norm"),
        "icdcm_version",
        F.lit(1).alias("_in_ref"),
    ).distinct()
    work = (
        _with_elig_marker(icdcm, elig, id_col)
        .join(F.broadcast(ref), ["icdcm_norm", "icdcm_version"], "left")
    )
    ln = F.length("icdcm_norm")
    v9 = F.col("icdcm_version") == 9
    v10 = F.col("icdcm_version") == 10
    num_ok = F.col("icdcm_number").isin(
        *[f"{i:02d}" for i in range(1, 13)], "admit"
    )
    row = work.agg(
        F.sum(F.when(F.col("_in_elig").isNull(), 1).otherwise(0))
        .alias("_no_elig"),
        F.min(F.when(v9, ln)).alias("_v9_lo"),
        F.max(F.when(v9, ln)).alias("_v9_hi"),
        F.min(F.when(v10, ln)).alias("_v10_lo"),
        F.max(F.when(v10, ln)).alias("_v10_hi"),
        F.sum(F.when(~num_ok, 1).otherwise(0)).alias("_bad_num"),
        F.countDistinct(
            F.when(
                F.col("_in_ref").isNull(),
                F.concat_ws("-", "icdcm_version", "icdcm_norm"),
            )
        ).alias("_no_ref"),
    ).first()
    v9_ok = row["_v9_lo"] is None or (
        row["_v9_lo"] == 5 and row["_v9_hi"] == 5
    )
    v10_ok = row["_v10_lo"] is None or (
        row["_v10_lo"] >= 3 and row["_v10_hi"] <= 7
    )
    return [
        ("ids-in-elig", (row["_no_elig"] or 0) == 0,
         f"violations={row['_no_elig'] or 0}"),
        ("icd9-length-5", v9_ok,
         f"len-range=[{row['_v9_lo']}..{row['_v9_hi']}]"),
        ("icd10-length-3-7", v10_ok,
         f"len-range=[{row['_v10_lo']}..{row['_v10_hi']}]"),
        ("icdcm_number-range", (row["_bad_num"] or 0) == 0,
         f"violations={row['_bad_num'] or 0}"),
        ("dx-in-ref", (row["_no_ref"] or 0) < unmatched_dx_limit,
         f"unmatched={row['_no_ref'] or 0} (limit {unmatched_dx_limit})"),
    ]


def qa_ids_in_elig(
    df: DataFrame, elig: DataFrame, id_col: str = "id_mcaid"
) -> list[QaResult]:
    """The single-check suites (qa_stage.mcaid_claim_naloxone.R:9-10,
    qa_stage.mcaid_claim_preg_episode.R:9-10): every id appears in the
    elig tables."""
    row = _with_elig_marker(df, elig, id_col).agg(
        F.sum(F.when(F.col("_in_elig").isNull(), 1).otherwise(0))
        .alias("_no_elig")
    ).first()
    return [("ids-in-elig", (row["_no_elig"] or 0) == 0,
             f"violations={row['_no_elig'] or 0}")]


def qa_rows_per_year(
    new_df: DataFrame,
    year_col,
    prior_year_counts: dict[int, int],
    allow_equal: bool = True,
) -> list[QaResult]:
    """'As many or more rows for each calendar year' (the shared final
    check of every qa_stage.mcaid_claim_*.R suite, e.g.
    icdcm_header:280-331): one groupBy against the PRIOR refresh's
    per-year counts (bounded metadata the pipeline carries forward)."""
    got = {
        int(r["_y"]): int(r["_n"])
        for r in new_df.groupBy(
            year_col.alias("_y") if hasattr(year_col, "alias")
            else F.col(year_col).alias("_y")
        ).agg(F.count(F.lit(1)).alias("_n")).collect()
    }
    bad = []
    for y, prior in sorted(prior_year_counts.items()):
        now = got.get(int(y), 0)
        if now < prior or (not allow_equal and now == prior):
            bad.append(f"{y}: {prior}->{now}")
    return [("rows-per-year-nondecreasing", not bad,
             "; ".join(bad) or "all years >= prior")]


def promotion_qa(stage: DataFrame, final: DataFrame) -> list[QaResult]:
    """qa_final.apcd_*.sql (11 files, all the same shape): stage and
    final must agree on row count and column count before the stage
    table is dropped."""
    n_stage, n_final = stage.count(), final.count()
    return [
        ("row-count-match", n_stage == n_final,
         f"stage={n_stage} final={n_final}"),
        ("col-count-match", len(stage.columns) == len(final.columns),
         f"stage={len(stage.columns)} final={len(final.columns)}"),
    ]


def qa_mcaid_claim_moud(
    df: DataFrame, elig: DataFrame, id_col: str = "id_mcaid"
) -> list[QaResult]:
    """qa_stage.mcaid_claim_moud.R:9-12 — ids in elig; 'new NDCs':
    MOUD rows whose admin_method stayed NULL mean the NDC/procedure
    classification maps have a gap a human must extend (the
    reference's review query at :114-115)."""
    work = _with_elig_marker(df, elig, id_col)
    row = work.agg(
        F.sum(F.when(F.col("_in_elig").isNull(), 1).otherwise(0))
        .alias("_no_elig"),
        F.sum(
            F.when(F.col("admin_method").isNull(), 1).otherwise(0)
        ).alias("_new_ndc"),
    ).first()
    return [
        ("ids-in-elig", (row["_no_elig"] or 0) == 0,
         f"violations={row['_no_elig'] or 0}"),
        ("no-unclassified-moud-codes", (row["_new_ndc"] or 0) == 0,
         f"unclassified={row['_new_ndc'] or 0}"),
    ]


def qa_housing_status(
    df: DataFrame,
    id_col: str = "id_mcaid",
    from_col: str = "from_date",
    max_month_pct_change: float = 5.0,
) -> list[QaResult]:
    """qa_stage.mcaid_housing_status.R:9-11 — no duplicate
    (id, from_date) rows, and no month-to-month swing >= 5% in the
    distinct-person count (a sudden jump means a bad PHA refresh).
    One aggregate for the dup check; the trend check is one
    month-grain groupBy + lag over the (tiny) month series."""
    from pyspark.sql import Window

    row = df.agg(
        (
            F.count(F.lit(1))
            - F.countDistinct(id_col, from_col)
        ).alias("_dups")
    ).first()
    months = (
        df.groupBy(F.date_trunc("month", F.col(from_col)).alias("_m"))
        .agg(F.countDistinct(id_col).alias("_n"))
    )
    w = Window.orderBy("_m")
    swings = (
        months.withColumn("_prev", F.lag("_n").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn(
            "_pct",
            F.abs(F.col("_n") - F.col("_prev"))
            / F.col("_prev") * F.lit(100.0),
        )
        .filter(F.col("_pct") >= F.lit(max_month_pct_change))
        .count()
    )
    return [
        ("no-duplicate-id-from-date", (row["_dups"] or 0) == 0,
         f"dups={row['_dups'] or 0}"),
        (f"month-trend-under-{max_month_pct_change}pct", swings == 0,
         f"swinging-months={swings}"),
    ]


def qa_mcare_elig_timevar(
    timevar: DataFrame,
    bene_enrollment: DataFrame,
    id_col: str = "id_mcare",
    raw_id_col: str | None = None,
) -> list[QaResult]:
    """Medicare timevar suite (``qa_stage.mcare_elig_timevar.R``)
    composed from the generic gates: segment-key distinctness +
    interval validity + per-person overlap (the dup-row check,
    :137-170, in one fused action) and distinct-id parity with the WA
    MBSF extract (:95-135). The row-count-vs-previous-run item
    (:29-90) compares against the metadata history of PRIOR loads —
    that is ``qa_rows_per_year``'s contract, not a single-build gate,
    so it is intentionally not composed here."""
    out = fused_table_qa(
        timevar,
        unique_keys=[id_col, "from_date", "to_date"],
        interval_cols=("from_date", "to_date"),
        overlap_ids=[id_col],
    )
    raw_id = raw_id_col or (
        "bene_id" if "bene_id" in bene_enrollment.columns else id_col
    )
    out.append(check_member_count_match(
        timevar, bene_enrollment, id_col, raw_id,
        name="distinct-ids-match-mbsf",
    ))
    return out


def qa_apcd_claim_provider(
    provider: DataFrame,
    provider_raw: DataFrame,
    elig_demo: DataFrame | None = None,
) -> list[QaResult]:
    """APCD claim_provider suite (``qa_stage.apcd_claim_provider.sql``
    — the reference's line-level spot checks of the role projection
    against ``apcd_medical_claim``, generalized to the full table):
    row parity with the raw extract (a pure projection must neither
    drop nor mint rows), the provider id never null, and member ids
    referenced in elig — the spot-checkable predicates in one fused
    pass + one count."""
    out = fused_table_qa(
        provider,
        extra_flags={
            "provider_id-not-null": F.col("provider_id_apcd").isNull(),
        },
    )
    n_built = provider.count()
    n_raw = provider_raw.count()
    out.append((
        "row-parity-with-raw", n_built == n_raw,
        f"built={n_built} raw={n_raw}",
    ))
    if elig_demo is not None:
        out += qa_ids_in_elig(provider, elig_demo, id_col="id_apcd")
    return out


def qa_mcaid_mcare_claim_ccw(
    ccw: DataFrame,
    header: DataFrame,
    xwalk: DataFrame,
    expected_conditions: list[str],
    id_col: str = "id_apde",
) -> list[QaResult]:
    """Combined-layer CCW suite (``qa_stage.mcaid_mcare_claim_ccw.sql``
    STEP 1, the pass/fail-able table-wide checks): every configured
    condition present with ordered encounter ranges (:27-28 via
    ``ccw_table_qa``), zero header claims with a NULL ``id_apde``
    (:21-25 — "members with claim but no elig information"), and zero
    mcare-source header members missing from the xwalk (:10-16).
    The remainder of the script (person-year tabulations against CMS
    published counts, prevalence-by-age review) is the analyst
    comparison step — ``ccw_table_qa`` surfaces the prevalence
    numbers it eyeballs."""
    out = ccw_table_qa(
        ccw, expected_conditions, id_col=id_col, cond_col="ccw_desc"
    )
    nulls = (
        header.agg(F.sum(
            F.when(F.col(id_col).isNull(), 1).otherwise(0)
        ).alias("_n")).first()["_n"] or 0
    )
    out.append((
        "header-id_apde-not-null", nulls == 0, f"violations={nulls}"
    ))
    missing = (
        header.filter(F.col("source_desc") == "mcare")
        .select(id_col).distinct()
        .join(
            xwalk.filter(F.col("id_mcare").isNotNull()).select(id_col),
            id_col, "left_anti",
        )
        .count()
    )
    out.append((
        "mcare-header-ids-in-xwalk", missing == 0,
        f"violations={missing}",
    ))
    return out

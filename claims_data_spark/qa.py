"""Data-quality assertion suite (SURVEY.md §5 — the reference's QA
scripts re-expressed as DataFrame property checks, e.g.
``qa_stage.mcaid_elig_timevar.R``, ``load_stage.apcd_claim_header.R:1104-1253``).

Each check returns a (name, passed, detail) tuple; ``run_qa`` collects
them into a QA-log DataFrame like the reference's
``metadata.qa_mcaid`` table. ``fused_table_qa`` is the one engine for
a table's gate: key uniqueness, interval and event-id invariants,
row-level violation flags, membership in parent tables and comparisons
with the raw extract all fold into ONE aggregate over the table, plus
at most one aggregate over the raw extract. ``gate`` records a gate's
results and stops a strict load on the first FAIL.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QaResult = tuple[str, bool, str]


class InParent(NamedTuple):
    """Membership check: every row's ``id_col`` occurs in ``parent``
    (only the rows matching ``where``, when given). The parent's
    distinct ids join in as a broadcast marker column, so the check is
    one more row flag in the gate's aggregate and its detail counts
    orphan rows (``load_stage.apcd_claim_header.R:1129-1148``; check 1
    of every ``qa_stage.mcaid_claim_*.R``, 'IDs are all found in the
    elig tables')."""

    parent: DataFrame
    id_col: str
    where: Column | None = None


class Stat(NamedTuple):
    """Check judged from aggregates: ``aggs`` (aliased, aliases unique
    within the gate) run in the gate's aggregate over the table,
    ``raw_aggs`` in its one aggregate over the raw extract, and
    ``verdict`` maps the merged result row to (passed, detail).
    ``cols`` are (name, expression) columns attached per row before the
    aggregate — window expressions allowed."""

    aggs: tuple[Column, ...]
    verdict: Callable[[dict], tuple[bool, str]]
    raw_aggs: tuple[Column, ...] = ()
    cols: tuple[tuple[str, Column], ...] = ()


def gate(
    qa: list[tuple[str, QaResult]], table: str, *checks: QaResult, strict: bool
) -> None:
    """Record ``checks`` under ``table`` in ``qa``; when ``strict``,
    stop the load on the first FAIL like the reference's master
    scripts. The raise is explicit so ``python -O`` keeps the gate."""
    for c in checks:
        qa.append((table, c))
        if strict and not c[1]:
            raise AssertionError(f"QA FAIL {table}: {c[0]} ({c[2]})")


def one_person(event_id: str, person_id: str) -> Stat:
    """No event id spans more than one person
    (``load_stage.apcd_claim_header.R:1165-1212``): a per-row window
    flag, its max in the aggregate. An event spans several persons
    exactly when the min and max non-NULL person over its rows differ.
    NULL-event rows are partitioned by person too, so they spread out
    instead of piling into one window partition, and flag nothing."""
    flag = f"_multi_{event_id}"
    ev, person = F.col(event_id), F.col(person_id)
    w = Window.partitionBy(ev, F.when(ev.isNull(), person))
    multi = F.when(
        F.min(person).over(w) != F.max(person).over(w), 1
    ).otherwise(0)
    return Stat(
        aggs=(F.max(flag).alias(flag),),
        verdict=lambda r: (
            (r[flag] or 0) == 0, f"multi-person-events={r[flag] or 0}"
        ),
        cols=((flag, multi),),
    )


def _dense(event_id: str) -> Stat:
    """Dense ids skip no values (``load_stage.apcd_claim_header.R:1213-1225``)."""
    n, lo, hi = (f"_{k}_{event_id}" for k in ("n", "lo", "hi"))

    def verdict(r: dict) -> tuple[bool, str]:
        dense = r[n] == 0 or (r[lo] == 1 and r[hi] == r[n])
        return bool(dense), f"n={r[n]} lo={r[lo]} hi={r[hi]}"

    return Stat(
        aggs=(
            F.countDistinct(event_id).alias(n),
            F.min(event_id).alias(lo),
            F.max(event_id).alias(hi),
        ),
        verdict=verdict,
    )


def _unique(keys: list[str]) -> Stat:
    """Distinct keys == total rows
    (``qa_stage.mcaid_elig_timevar.R:152-191``). ``countDistinct``
    skips a row with a NULL key, so such a row counts as a violation."""
    return Stat(
        aggs=(
            F.count(F.lit(1)).alias("_total"),
            F.countDistinct(*keys).alias("_distinct_keys"),
        ),
        verdict=lambda r: (
            r["_total"] == r["_distinct_keys"],
            f"total={r['_total']} distinct={r['_distinct_keys']}",
        ),
    )


def _violations(alias: str, r: dict) -> tuple[bool, str]:
    bad = r[alias] or 0
    return bad == 0, f"violations={bad}"


def row_count_vs_raw(label: str) -> Stat:
    """The table keeps exactly the raw extract's rows (pass the
    extract, filtered as the table's build filters it, as ``raw``)."""
    return Stat(
        aggs=(F.count(F.lit(1)).alias("_rows"),),
        raw_aggs=(F.count(F.lit(1)).alias("_raw_rows"),),
        verdict=lambda r: (
            r["_rows"] == r["_raw_rows"],
            f"{label}={r['_rows']} raw={r['_raw_rows']}",
        ),
    )


def _distinct_ids_match(id_col: str, raw_id_col: str) -> Stat:
    """Distinct member count of the built table equals the raw
    extract's (``qa_stage.mcaid_elig_timevar.R:109-151``)."""
    return Stat(
        aggs=(F.countDistinct(id_col).alias("_ids"),),
        raw_aggs=(F.countDistinct(raw_id_col).alias("_raw_ids"),),
        verdict=lambda r: (
            r["_ids"] == r["_raw_ids"], f"built={r['_ids']} raw={r['_raw_ids']}"
        ),
    )


def _month_start(yyyymm) -> datetime.date:
    s = str(yyyymm)
    return datetime.date(int(s[:4]), int(s[4:6]), 1)


def _month_end(yyyymm) -> datetime.date:
    s = str(yyyymm)
    y, m = int(s[:4]), int(s[4:6])
    return datetime.date(y + m // 12, m % 12 + 1, 1) - datetime.timedelta(days=1)


def _date_range_within(from_col: str, to_col: str, raw_month_col: str) -> Stat:
    """Built from/to dates fall inside the raw extract's yyyymm month
    range (``qa_stage.mcaid_elig_timevar.R:190-243``): min(from) >=
    first day of min month, max(to) <= last day of max month. An empty
    side has no range, so the check FAILs and names it."""

    def verdict(r: dict) -> tuple[bool, str]:
        empty = [
            side for side, lo in (("built", r["_from_lo"]), ("raw", r["_month_lo"]))
            if lo is None
        ]
        if empty:
            return False, f"empty: {', '.join(empty)}"
        raw_lo, raw_hi = _month_start(r["_month_lo"]), _month_end(r["_month_hi"])
        ok = r["_from_lo"] >= raw_lo and r["_to_hi"] <= raw_hi
        return ok, f"built=[{r['_from_lo']},{r['_to_hi']}] raw=[{raw_lo},{raw_hi}]"

    return Stat(
        aggs=(F.min(from_col).alias("_from_lo"), F.max(to_col).alias("_to_hi")),
        raw_aggs=(
            F.min(raw_month_col).alias("_month_lo"),
            F.max(raw_month_col).alias("_month_hi"),
        ),
        verdict=verdict,
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
    interval validity, per-person overlap, member-count parity with the
    raw extract, and the date-range containment spot check — the
    automatable part of its golden-record section. One aggregate over
    the table, one over the raw extract."""
    return fused_table_qa(
        timevar,
        unique_keys=[id_col, "from_date", "to_date"],
        interval_cols=("from_date", "to_date"),
        overlap_ids=[id_col],
        checks={
            "member-count-match": _distinct_ids_match(id_col, raw_id_col),
            "date-range": _date_range_within("from_date", "to_date", raw_month_col),
        },
        raw=raw_elig,
    )


def fused_table_qa(
    df: DataFrame,
    unique_keys: list[str] | None = None,
    interval_cols: tuple[str, str] | None = None,
    overlap_ids: list[str] | None = None,
    event_ids: list[str] | None = None,
    person_id: str | None = None,
    checks: dict[str, Column | InParent | Stat] | None = None,
    raw: DataFrame | None = None,
) -> list[QaResult]:
    """Run a table's whole QA gate as ONE aggregate over the table,
    plus one over ``raw`` when a check compares against the raw
    extract. Every table gate in the engine runs through here.

    Row-local violations become flag columns, per-person overlap and
    per-event single-person become window flags (each window shares or
    adds one shuffle, not one scan), each parent table joins in as a
    broadcast membership marker, and everything collapses in a single
    ``agg`` (reference QA suites: ``qa_stage.mcaid_elig_timevar.R``,
    ``load_stage.apcd_claim_header.R:964-1253``).

    The shortcuts yield, in this order: ``unique(keys)``,
    ``intervals-valid``, ``no-overlap`` (rows of one ``overlap_ids``
    ordered by interval start), then per family in ``event_ids``
    ``one-person(ev)`` (when ``person_id`` is given) and ``dense(ev)``.
    ``checks`` appends named checks in its own order: a boolean Column
    is a per-row VIOLATION predicate (it may hold window expressions),
    an ``InParent`` a membership check, a ``Stat`` any check judged
    from aggregates.
    """
    frm, to = interval_cols or ("from_date", "to_date")
    specs: dict[str, Column | InParent | Stat] = {}
    if unique_keys:
        specs[f"unique({','.join(unique_keys)})"] = _unique(unique_keys)
    if interval_cols:
        specs["intervals-valid"] = F.col(frm) > F.col(to)
    if overlap_ids:
        w = Window.partitionBy(*overlap_ids).orderBy(frm)
        specs["no-overlap"] = F.lag(to).over(w) >= F.col(frm)
    for ev in event_ids or []:
        if person_id:
            specs[f"one-person({ev})"] = one_person(ev, person_id)
        specs[f"dense({ev})"] = _dense(ev)
    specs.update(checks or {})

    work, aggs, raw_aggs, verdicts = df, [], [], []
    for i, (name, check) in enumerate(specs.items()):
        if isinstance(check, InParent):
            marker = f"_in_{i}"
            ids = check.parent.select(check.id_col).distinct().withColumn(
                marker, F.lit(1)
            )
            work = work.join(F.broadcast(ids), check.id_col, "left")
            orphan = F.col(marker).isNull()
            check = orphan if check.where is None else check.where & orphan
        if isinstance(check, Column):
            flag = f"_flag_{i}"
            check = Stat(
                aggs=(F.sum(F.when(F.col(flag), 1).otherwise(0)).alias(flag),),
                verdict=partial(_violations, flag),
                cols=((flag, check),),
            )
        for col, expr in check.cols:
            work = work.withColumn(col, expr)
        aggs += check.aggs
        raw_aggs += check.raw_aggs
        verdicts.append((name, check.verdict))
    if not verdicts:
        return []
    row = work.agg(*aggs).collect()[0].asDict()
    if raw_aggs:
        row.update(raw.agg(*raw_aggs).collect()[0].asDict())
    return [(name, *verdict(row)) for name, verdict in verdicts]


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
    per-condition aggregation pass.
    """
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
    got = {r[cond_col] for r in stats}
    missing = sorted(set(expected_conditions) - got)
    extra = sorted(got - set(expected_conditions))
    bad_order = sum(int(r["bad_order"] or 0) for r in stats)
    results: list[QaResult] = [
        ("distinct-conditions-match", not missing and not extra,
         f"missing={missing} extra={extra}"),
        ("encounter-dates-ordered", bad_order == 0,
         f"{bad_order} rows with first>last"),
    ]
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
# suites — qa_stage.mcaid_claim_line/pharm/procedure/icdcm_header.R —
# each one ``fused_table_qa`` action (broadcast membership markers +
# row-local format flags + conditional min/max/countDistinct collapse
# together), plus the qa_final.apcd_* stage-vs-final promotion gate.
# The single-check naloxone/preg_episode suites are
# ``fused_table_qa(df, checks={"ids-in-elig": InParent(elig, id_col)})``.
# ---------------------------------------------------------------------------

def _digits_only(col: F.Column) -> F.Column:
    """T-SQL ``isnumeric() = 1`` as the reference QA uses it on code
    fields: every character a digit."""
    return ~col.rlike("[^0-9]")


def qa_mcaid_claim_line(
    line: DataFrame,
    elig: DataFrame,
    raw_distinct_lines: int | None = None,
    id_col: str = "id_mcaid",
) -> list[QaResult]:
    """The claim_line gate: ``claim_line_id`` unique, then
    qa_stage.mcaid_claim_line.R:9-14 — ids in elig, rev_code
    4-digit-numeric format, distinct claim-line count vs raw."""
    rc = F.col("rev_code")
    checks = {
        "ids-in-elig": InParent(elig, id_col),
        "rev_code-format": rc.isNotNull()
        & ((F.length(rc) != 4) | ~_digits_only(rc)),
    }
    if raw_distinct_lines is not None:
        checks["distinct-lines-vs-raw"] = Stat(
            aggs=(F.countDistinct("claim_line_id").alias("_n_lines"),),
            verdict=lambda r: (
                r["_n_lines"] == raw_distinct_lines,
                f"table={r['_n_lines']} raw={raw_distinct_lines}",
            ),
        )
    return fused_table_qa(line, unique_keys=["claim_line_id"], checks=checks)


def qa_mcaid_claim_pharm(
    pharm: DataFrame, elig: DataFrame, id_col: str = "id_mcaid"
) -> list[QaResult]:
    """qa_stage.mcaid_claim_pharm.R:9-12 — ids in elig; NDC 11-digit
    numeric (:116-121)."""
    ndc = F.col("ndc")
    return fused_table_qa(pharm, checks={
        "ids-in-elig": InParent(elig, id_col),
        "ndc-format": ndc.isNotNull()
        & ((F.length(ndc) != 11) | ~_digits_only(ndc)),
    })


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
    code = F.col("procedure_code")
    unknown = F.countDistinct(
        F.when(procedure_code_system(code) == "UNKNOWN", code)
    ).alias("_unknown")
    return fused_table_qa(proc, checks={
        "ids-in-elig": InParent(elig, id_col),
        "procedure-code-format": Stat(
            aggs=(unknown,),
            verdict=lambda r: (
                (r["_unknown"] or 0) < unknown_limit,
                f"unknown-codes={r['_unknown'] or 0} (limit {unknown_limit})",
            ),
        ),
    })


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
    work = icdcm.join(F.broadcast(ref), ["icdcm_norm", "icdcm_version"], "left")
    ln = F.length("icdcm_norm")

    def length_range(version: int, lo: int, hi: int) -> Stat:
        in_v = F.col("icdcm_version") == version
        a, b = f"_v{version}_lo", f"_v{version}_hi"
        return Stat(
            aggs=(F.min(F.when(in_v, ln)).alias(a), F.max(F.when(in_v, ln)).alias(b)),
            verdict=lambda r: (
                r[a] is None or (r[a] >= lo and r[b] <= hi),
                f"len-range=[{r[a]}..{r[b]}]",
            ),
        )

    no_ref = F.countDistinct(
        F.when(
            F.col("_in_ref").isNull(),
            F.concat_ws("-", "icdcm_version", "icdcm_norm"),
        )
    ).alias("_no_ref")
    return fused_table_qa(work, checks={
        "ids-in-elig": InParent(elig, id_col),
        "icd9-length-5": length_range(9, 5, 5),
        "icd10-length-3-7": length_range(10, 3, 7),
        "icdcm_number-range": ~F.col("icdcm_number").isin(
            *[f"{i:02d}" for i in range(1, 13)], "admit"
        ),
        "dx-in-ref": Stat(
            aggs=(no_ref,),
            verdict=lambda r: (
                (r["_no_ref"] or 0) < unmatched_dx_limit,
                f"unmatched={r['_no_ref'] or 0} (limit {unmatched_dx_limit})",
            ),
        ),
    })


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
    new_ndc = F.sum(
        F.when(F.col("admin_method").isNull(), 1).otherwise(0)
    ).alias("_new_ndc")
    return fused_table_qa(df, checks={
        "ids-in-elig": InParent(elig, id_col),
        "no-unclassified-moud-codes": Stat(
            aggs=(new_ndc,),
            verdict=lambda r: (
                (r["_new_ndc"] or 0) == 0,
                f"unclassified={r['_new_ndc'] or 0}",
            ),
        ),
    })


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
    :137-170) and distinct-id parity with the WA MBSF extract
    (:95-135): one aggregate over the table, one over the extract.
    The row-count-vs-previous-run item
    (:29-90) compares against the metadata history of PRIOR loads —
    that is ``qa_rows_per_year``'s contract, not a single-build gate,
    so it is intentionally not composed here."""
    raw_id = raw_id_col or (
        "bene_id" if "bene_id" in bene_enrollment.columns else id_col
    )
    return fused_table_qa(
        timevar,
        unique_keys=[id_col, "from_date", "to_date"],
        interval_cols=("from_date", "to_date"),
        overlap_ids=[id_col],
        checks={"distinct-ids-match-mbsf": _distinct_ids_match(id_col, raw_id)},
        raw=bene_enrollment,
    )


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
    referenced in elig — one aggregate over the table, one count of
    the extract."""
    checks = {
        "provider_id-not-null": F.col("provider_id_apcd").isNull(),
        "row-parity-with-raw": row_count_vs_raw("built"),
    }
    if elig_demo is not None:
        checks["ids-in-elig"] = InParent(elig_demo, "id_apcd")
    return fused_table_qa(provider, checks=checks, raw=provider_raw)


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
    numbers it eyeballs. One action over the ccw table, one over the
    header."""
    return ccw_table_qa(
        ccw, expected_conditions, id_col=id_col, cond_col="ccw_desc"
    ) + fused_table_qa(header, checks={
        "header-id_apde-not-null": F.col(id_col).isNull(),
        "mcare-header-ids-in-xwalk": InParent(
            xwalk.filter(F.col("id_mcare").isNotNull()), id_col,
            where=F.col("source_desc") == "mcare",
        ),
    })

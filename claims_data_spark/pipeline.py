"""Warehouse pipeline orchestrator (reference:
``db_loader/mcaid/master_mcaid_analytic.R`` — the master script that
builds every analytic table in dependency order with QA gates between
stages).

The reference's DAG (``:157-371``): elig_demo → elig_timevar →
elig_month; the four claim child tables depend only on the raw claims
extract; claim_header depends on all children; conditions depend on
header + icdcm. The reference builds each stage once
(``SELECT ... INTO stage.table``) and every later reader reads that
table. Here a stage read more than once (by its QA gate, by later gates
that join it in as a parent, by downstream builders and by the caller's
writer) is persisted where it is built (:func:`cache_stage`): its gate's
action fills the cache, and every later reader plans over the cached
relation instead of re-running the stage's lineage. A stage read once
stays a lazy DataFrame.

The reference inputs a caller passes in (the ``ref.*`` lookups the
reference loads once into SQL tables) follow the same rule: each
pipeline caches, before its first stage, every reference that more than
one scan reads (several builders, a builder's own checkpoint and the
gate after it, or one builder that joins the lookup several times).
Those readers then scan the cached copy instead of re-reading the
caller's source, which for a reference built from Python rows is a
Python-worker task per scan. A reference read once stays as given, and
so does one that is already driver-local (``isLocal()``), since its
scans run no job.

"Promotion" is the caller's choice of writer
(``sources.io.write_table`` / ``write_bucketed``); QA gates run as
assertions and are returned as a log table like ``metadata.qa_mcaid``.
The returned :class:`PipelineResult` owns the cache; the caller releases
it with :meth:`PipelineResult.unpersist` once the tables are promoted.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claims_data_spark.qa import (
    InParent,
    QaResult,
    fused_table_qa,
    gate as qa_gate,
    qa_apcd_claim_provider,
    qa_mcaid_claim_icdcm_header,
    qa_mcaid_claim_line,
    qa_mcaid_claim_pharm,
    qa_mcaid_claim_procedure,
    qa_mcaid_mcare_claim_ccw,
    qa_mcare_elig_timevar,
    run_qa,
    timevar_golden_qa,
)
from claims_data_spark.tables.claim_children import (
    build_claim_icdcm_header,
    build_claim_line,
    build_claim_pharm,
    build_claim_procedure,
)
from claims_data_spark.tables.claim_header import build_claim_header
from claims_data_spark.tables.conditions import build_claim_bh, build_claim_ccw
from claims_data_spark.tables.elig_demo import build_elig_demo
from claims_data_spark.tables.elig_month import build_elig_month
from claims_data_spark.tables.elig_timevar import build_elig_timevar


def cache_stage(
    df: DataFrame | None, held: list[DataFrame]
) -> DataFrame | None:
    """The engine's one stage-cache rule: persist ``df`` at the default
    storage level and record it in ``held``, whose owner unpersists it.

    Applied to every stage and every reference input read more than
    once. Without it each reader (the stage's gate, later gates,
    downstream builders, the writer) re-runs the frame's lineage; with
    it the first action fills the cache. A persist, not a
    ``localCheckpoint``: a lost block recomputes from lineage, so the
    pipeline survives executor loss. A frame the caller has already
    cached is returned as is and left to its owner, and so is a
    driver-local frame (``isLocal()``, a ``LocalRelation``): its scans
    run no job, so a cache would only add one. ``None`` (a reference
    the caller did not give) is returned as is."""
    if df is None or df.storageLevel != StorageLevel.NONE or df.isLocal():
        return df
    df = df.persist()
    held.append(df)
    return df


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    qa: list[tuple[str, QaResult]] = field(default_factory=list)
    # stages and reference inputs persisted by cache_stage; released by
    # unpersist()
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        """Release every cached stage and reference (call once the tables
        are written)."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    @contextmanager
    def released_on_error(self):
        """Release the cache when the block raises (a strict gate's FAIL
        included), then re-raise: a load that stops leaks no cache."""
        try:
            yield
        except BaseException:
            self.unpersist()
            raise

    def qa_log(self, spark: SparkSession) -> DataFrame:
        by_table: dict[str, list[QaResult]] = {}
        for table, res in self.qa:
            by_table.setdefault(table, []).append(res)
        logs = [run_qa(spark, checks, table) for table, checks in by_table.items()]
        out = logs[0]
        for l in logs[1:]:
            out = out.unionByName(l)
        return out

    def failures(self) -> list[tuple[str, QaResult]]:
        return [(t, r) for t, r in self.qa if not r[1]]


def run_mcaid_pipeline(
    spark: SparkSession,
    raw_elig: DataFrame,
    raw_claim: DataFrame,
    ref_rac: DataFrame | None = None,
    ref_address: DataFrame | None = None,
    ref_geocode: DataFrame | None = None,
    ref_xwalk: DataFrame | None = None,
    ref_hedis: DataFrame | None = None,
    ref_telehealth: DataFrame | None = None,
    ref_icdcm: DataFrame | None = None,
    ref_rda: DataFrame | None = None,
    ccw_config: list[dict] | None = None,
    strict_qa: bool = True,
) -> PipelineResult:
    """Build the full Medicaid analytic layer in dependency order,
    running the reference's QA invariants after each stage.

    ``strict_qa=True`` raises on the first FAIL (the reference's
    master script stops the load and emails), after releasing the
    stages already cached; ``False`` records the results and continues.
    The result holds ``elig_demo``, ``elig_timevar``, the five claim
    tables and the references read more than once cached (see
    :func:`cache_stage`); ``elig_month``, ``claim_ccw``, ``claim_bh``,
    ``ref_rac``, ``ref_address`` and ``ref_geocode`` are read once and
    stay as they are.
    """
    res = PipelineResult()
    gate = partial(qa_gate, res.qa, strict=strict_qa)
    stage = partial(cache_stage, held=res.cached)

    with res.released_on_error():
        # claim_header's build-time checkpoint and its gate read the
        # crosswalk, HEDIS and telehealth codes; ref_icdcm is also read
        # by the icdcm gate and claim_ccw, and claim_bh joins ref_rda in
        # five places. ref_rac, ref_address and ref_geocode are read
        # once, by elig_timevar's cache fill.
        ref_xwalk = stage(ref_xwalk)
        ref_hedis = stage(ref_hedis)
        ref_telehealth = stage(ref_telehealth)
        ref_icdcm = stage(ref_icdcm)
        ref_rda = stage(ref_rda)
        demo = stage(build_elig_demo(raw_elig))
        gate("elig_demo", *fused_table_qa(demo, unique_keys=["id_mcaid"]))

        timevar = stage(
            build_elig_timevar(raw_elig, ref_rac, ref_address, ref_geocode)
        )
        # the reference's full table-level gate
        # (qa_stage.mcaid_elig_timevar.R): one aggregate over the table,
        # one over the raw extract for the golden-record spot checks
        gate("elig_timevar", *timevar_golden_qa(timevar, raw_elig))

        elig_month = build_elig_month(timevar)

        # per-table reference suites (round 6): qa_stage.mcaid_claim_line/
        # pharm/procedure/icdcm_header.R, each one fused aggregate
        line = stage(build_claim_line(raw_claim))
        gate("claim_line", *qa_mcaid_claim_line(line, demo))
        icdcm = stage(build_claim_icdcm_header(raw_claim))
        if ref_icdcm is not None:
            gate(
                "claim_icdcm_header",
                *qa_mcaid_claim_icdcm_header(icdcm, demo, ref_icdcm),
            )
        else:
            gate("claim_icdcm_header", *fused_table_qa(
                icdcm, checks={"ids-in-elig": InParent(demo, "id_mcaid")}
            ))
        procedure = stage(build_claim_procedure(raw_claim))
        gate("claim_procedure", *qa_mcaid_claim_procedure(procedure, demo))
        pharm = stage(build_claim_pharm(raw_claim))
        gate("claim_pharm", *qa_mcaid_claim_pharm(pharm, demo))

        header = stage(build_claim_header(
            raw_claim, icdcm, ref_xwalk, ref_hedis, ref_telehealth, ref_icdcm
        ))
        gate("claim_header", *fused_table_qa(
            header,
            unique_keys=["claim_header_id"],
            event_ids=["ed_pophealth_id"],
            person_id="id_mcaid",
            checks={"claim-members-in-elig": InParent(timevar, "id_mcaid")},
        ))

        res.tables.update({
            "elig_demo": demo,
            "elig_timevar": timevar,
            "elig_month": elig_month,
            "claim_line": line,
            "claim_icdcm_header": icdcm,
            "claim_procedure": procedure,
            "claim_pharm": pharm,
            "claim_header": header,
        })

        if ref_icdcm is not None and ccw_config:
            res.tables["claim_ccw"] = build_claim_ccw(
                icdcm, header, ref_icdcm, ccw_config
            )
        if ref_rda is not None:
            res.tables["claim_bh"] = build_claim_bh(
                icdcm, pharm, procedure, ref_rda
            )

    return res


def mcare_header_qa(header: DataFrame) -> list[QaResult]:
    """Medicare claim_header invariants, one fused action: header-id
    uniqueness plus one-person + dense checks for EVERY event-id
    family the builder mints (pc_visit / inpatient / ed_perform /
    ed_pophealth — the reference spot-checks these per family in
    ``qa_tmp.mcare_claim_ccw.sql`` and the mcaid header QA at
    ``load_stage.mcaid_claim_header.R:1226-1253``)."""
    return fused_table_qa(
        header,
        unique_keys=["claim_header_id"],
        person_id="id_mcare",
        event_ids=[
            "pc_visit_id", "inpatient_id", "ed_perform_id", "ed_pophealth_id"
        ],
    )


def combined_header_qa(header: DataFrame) -> list[QaResult]:
    """Combined mcaid+mcare claim_header invariants
    (``qa_stage.mcaid_mcare_claim_ccw.sql`` shape): (source, claim) key
    uniqueness plus one-person + dense checks for the four re-minted
    event-id families — all in one fused action."""
    return fused_table_qa(
        header,
        unique_keys=["source_desc", "claim_header_id"],
        person_id="id_apde",
        event_ids=[
            "pc_visit_id", "inpatient_id", "ed_perform_id", "ed_pophealth_id"
        ],
    )


def run_mcaid_mcare_pipeline(
    mcaid_tables: dict[str, DataFrame],
    mcare_tables: dict[str, DataFrame],
    match_cols: list[str] = ("dob", "name_hash"),
    pha_persons: DataFrame | None = None,
    ref_icdcm: DataFrame | None = None,
    ccw_lookup_rows: list[dict] | None = None,
    ref_rda: DataFrame | None = None,
) -> PipelineResult:
    """Combined-layer master orchestration
    (``db_loader/mcaid_mcare/master_mcaid_mcare_analytic.R``): identity
    linkage first, then elig tables, then the six claims tables in the
    reference's order — line, icdcm_header, procedure, provider,
    header, ccw (+bh when the RDA ref is supplied) — each child gated
    by the union row-count QA and the header by the fused
    event-family invariants.

    ``mcaid_tables`` / ``mcare_tables`` carry that source's FINAL
    tables keyed by short name: ``persons`` (id + match cols; feeds
    the crosswalk), ``demo``, ``claim_line``, ``claim_icdcm_header``,
    ``claim_procedure``, ``claim_provider``, ``claim_header`` — any
    absent key skips that stage, mirroring the master script's
    section-by-section reruns.

    The crosswalk, each gated child, both source headers and the
    combined header are read more than once, so each is cached where it
    is built (:func:`cache_stage`), as is ``ref_rda``, and the result
    owns the cache; the QA gates are the only actions, exactly like the
    per-source pipeline above, and the first gate over a stage fills its
    cache.
    """
    from claims_data_spark.tables.conditions import (
        build_mcaid_mcare_claim_bh,
        build_mcaid_mcare_claim_ccw,
    )
    from claims_data_spark.tables.mcare import (
        build_mcaid_mcare_claim_header,
        build_mcaid_mcare_claim_icdcm_header,
        build_mcaid_mcare_claim_procedure,
        build_mcaid_mcare_elig_demo,
        build_mcaid_mcare_union,
        combined_child_union_qa,
    )
    from claims_data_spark.tables.xwalk import build_xwalk

    res = PipelineResult()
    tables, qa = res.tables, res.qa
    stage = partial(cache_stage, held=res.cached)

    with res.released_on_error():
        # claim_bh joins ref_rda in five places; ref_icdcm is read once,
        # by claim_ccw
        ref_rda = stage(ref_rda)
        # identity linkage (the reference runs this before everything);
        # every later stage joins it
        xwalk = stage(build_xwalk(
            mcaid_tables["persons"], mcare_tables["persons"],
            match_cols=list(match_cols), pha_persons=pha_persons,
        ))
        tables["xwalk_apde_mcaid_mcare_pha"] = xwalk

        if "demo" in mcaid_tables and "demo" in mcare_tables:
            tables["mcaid_mcare_elig_demo"] = build_mcaid_mcare_elig_demo(
                xwalk, mcaid_tables["demo"], mcare_tables["demo"]
            )

        def child(name: str, builder) -> None:
            if name in mcaid_tables and name in mcare_tables:
                out = stage(
                    builder(mcaid_tables[name], mcare_tables[name], xwalk)
                )
                qa.append((f"mcaid_mcare_{name}", combined_child_union_qa(
                    out, mcaid_tables[name], mcare_tables[name]
                )))
                tables[f"mcaid_mcare_{name}"] = out

        child("claim_line", build_mcaid_mcare_union)
        child("claim_icdcm_header", build_mcaid_mcare_claim_icdcm_header)
        child("claim_procedure", build_mcaid_mcare_claim_procedure)
        child("claim_provider", build_mcaid_mcare_union)
        child("claim_pharm", build_mcaid_mcare_union)

        if "claim_header" in mcaid_tables and "claim_header" in mcare_tables:
            # the builder reads each source header three times (the two
            # event-id mints and the final join): cache them here
            header = stage(build_mcaid_mcare_claim_header(
                stage(mcaid_tables["claim_header"]),
                stage(mcare_tables["claim_header"]),
                xwalk,
            ))
            tables["mcaid_mcare_claim_header"] = header
            qa.extend(
                ("mcaid_mcare_claim_header", r)
                for r in combined_header_qa(header)
            )
            icdcm = tables.get("mcaid_mcare_claim_icdcm_header")
            if icdcm is not None and ref_icdcm is not None and ccw_lookup_rows:
                tables["mcaid_mcare_claim_ccw"] = build_mcaid_mcare_claim_ccw(
                    icdcm, header, ref_icdcm, ccw_lookup_rows
                )
                # qa_stage.mcaid_mcare_claim_ccw.sql STEP 1: all configured
                # conditions ran, zero NULL-id_apde header claims, zero
                # mcare-source members missing from the xwalk
                expected = [
                    r["ccw_abbrev"] for r in ccw_lookup_rows
                    if not r["ccw_abbrev"].endswith("_exclude1")
                    and not r["ccw_abbrev"].endswith("_exclude2")
                    and r["ccw_abbrev"] in ref_icdcm.columns
                ]
                qa.extend(
                    ("mcaid_mcare_claim_ccw", r)
                    for r in qa_mcaid_mcare_claim_ccw(
                        tables["mcaid_mcare_claim_ccw"], header, xwalk,
                        expected,
                    )
                )
            pharm = tables.get("mcaid_mcare_claim_pharm")
            proc = tables.get("mcaid_mcare_claim_procedure")
            if (icdcm is not None and ref_rda is not None
                    and pharm is not None and proc is not None):
                tables["mcaid_mcare_claim_bh"] = build_mcaid_mcare_claim_bh(
                    icdcm, pharm, proc, ref_rda
                )

    return res


def run_apcd_pipeline(
    member_month: DataFrame,
    eligibility: DataFrame | None = None,
    claim_header_raw: DataFrame | None = None,
    claim_line_raw: DataFrame | None = None,
    claim_icdcm_raw: DataFrame | None = None,
    claim_procedure_raw: DataFrame | None = None,
    claim_provider_raw: DataFrame | None = None,
    provider_master_raw: DataFrame | None = None,
    plr_years: list[int] | None = None,
    ref_claim_status: DataFrame | None = None,
    ref_xwalk: DataFrame | None = None,
    ref_icdcm: DataFrame | None = None,
    ref_ethnicity_race_map: DataFrame | None = None,
    ref_zip_group: DataFrame | None = None,
    ref_county_code: DataFrame | None = None,
    ccw_lookup_rows: list[dict] | None = None,
    strict: bool = True,
) -> PipelineResult:
    """APCD master orchestration
    (``db_loader/apcd/07_apcd_create_analytic_tables.R`` — twelve
    tables in dependency order): elig_demo -> elig_timevar ->
    elig_month -> per-year PLR -> the four claim children ->
    ref.apcd_provider_npi -> claim_header (gated by the reference's
    eleven-invariant QA suite) -> claim_ccw.  Claim stages are
    skipped when their raw extract is not supplied, mirroring the
    master script's section reruns; PLR builds once per year in
    ``plr_years`` (the reference's 2014-2024 unrolled calls). The
    references read more than once are cached first
    (:func:`cache_stage`).
    """
    from claims_data_spark.tables.apcd import (
        build_apcd_claim_header,
        build_apcd_claim_icdcm_header,
        build_apcd_claim_line,
        build_apcd_claim_procedure,
        build_apcd_claim_provider,
        build_apcd_elig_demo,
        build_apcd_elig_month,
        build_apcd_elig_plr_multi,
        build_apcd_elig_timevar_full,
        qa_apcd_child,
        qa_apcd_claim_header,
    )
    from claims_data_spark.tables.conditions import build_apcd_claim_ccw
    from claims_data_spark.tables.provider import build_ref_apcd_provider_npi

    res = PipelineResult()
    tables = res.tables
    gate = partial(qa_gate, res.qa, strict=strict)
    stage = partial(cache_stage, held=res.cached)

    with res.released_on_error():
        # claim_header's build-time checkpoint and its gate read the
        # status, crosswalk and ICD-CM lookups (ICD-CM also by several
        # flag joins and claim_ccw); timevar, elig_month and the PLR
        # read the geography lookups. ref_ethnicity_race_map is read
        # once, by elig_demo's cache fill.
        ref_claim_status = stage(ref_claim_status)
        ref_xwalk = stage(ref_xwalk)
        ref_icdcm = stage(ref_icdcm)
        ref_zip_group = stage(ref_zip_group)
        ref_county_code = stage(ref_county_code)
        demo = None
        if eligibility is not None:
            demo = stage(build_apcd_elig_demo(
                member_month, eligibility,
                ref_ethnicity_race_map=ref_ethnicity_race_map,
            ))
            tables["apcd_elig_demo"] = demo
        with_plr = bool(plr_years) and demo is not None
        timevar = build_apcd_elig_timevar_full(
            member_month, ref_zip_group=ref_zip_group,
            ref_county_code=ref_county_code,
        )
        if with_plr:  # read by the PLR and by the caller's writer
            timevar = stage(timevar)
        tables["apcd_elig_timevar"] = timevar
        tables["apcd_elig_month"] = build_apcd_elig_month(
            member_month, ref_zip_group=ref_zip_group,
            ref_county_code=ref_county_code,
        )
        if with_plr:
            # one-pass multi-year PLR (a broadcast year dim range-joins the
            # intervals) instead of the reference master's unrolled
            # per-year calls — 11 timevar scans become one; every
            # per-year table reads the cached multi-year frame
            multi = stage(build_apcd_elig_plr_multi(
                timevar, demo, list(plr_years), ref_zip_group=ref_zip_group
            ))
            tables["apcd_elig_plr"] = multi
            for y in plr_years:
                tables[f"apcd_elig_plr_{y}"] = multi.filter(
                    F.col("plr_year") == int(y)
                ).drop("plr_year")

        if claim_header_raw is None:
            return res

        # children BEFORE the header, exactly the reference's table order
        # (Tables 4-7 then Table 10): the header builder consumes the
        # staged child shapes (discharge_date, long dx/px grains), not the
        # raw extracts
        line_child = icdcm_child = procedure_child = None
        if claim_line_raw is not None:
            line_child = stage(
                build_apcd_claim_line(claim_line_raw, claim_header_raw)
            )
            tables["apcd_claim_line"] = line_child
        if claim_icdcm_raw is not None:
            icdcm_child = stage(build_apcd_claim_icdcm_header(
                claim_icdcm_raw, claim_header_raw
            ))
            tables["apcd_claim_icdcm_header"] = icdcm_child
            gate("apcd_claim_icdcm_header",
                 *qa_apcd_child(icdcm_child, elig_demo=demo,
                                not_null_col="icdcm_norm"))
        if claim_procedure_raw is not None:
            procedure_child = stage(build_apcd_claim_procedure(
                claim_procedure_raw, claim_header_raw
            ))
            tables["apcd_claim_procedure"] = procedure_child
        if claim_provider_raw is not None:
            tables["apcd_claim_provider"] = stage(
                build_apcd_claim_provider(claim_provider_raw)
            )
            # qa_stage.apcd_claim_provider.sql generalized: projection row
            # parity with raw, provider id non-null, members in elig
            gate("apcd_claim_provider",
                 *qa_apcd_claim_provider(
                     tables["apcd_claim_provider"], claim_provider_raw,
                     elig_demo=demo,
                 ))
            if provider_master_raw is not None:
                tables["ref_apcd_provider_npi"] = build_ref_apcd_provider_npi(
                    provider_master_raw, claim_provider_raw
                )

        header = stage(build_apcd_claim_header(
            claim_header_raw,
            line_child,
            icdcm_child,
            procedure_child,
            ref_claim_status=ref_claim_status,
            ref_xwalk=ref_xwalk,
            ref_icdcm=ref_icdcm,
        ))
        tables["apcd_claim_header"] = header
        gate("apcd_claim_header",
             *qa_apcd_claim_header(header, claim_header_raw, elig_demo=demo))

        if ccw_lookup_rows and ref_icdcm is not None \
                and claim_icdcm_raw is not None:
            tables["apcd_claim_ccw"] = build_apcd_claim_ccw(
                tables["apcd_claim_icdcm_header"], header, ref_icdcm,
                ccw_lookup_rows,
            )
    return res


def run_mcare_pipeline(
    bene_enrollment: DataFrame,
    claim_sources: dict[str, DataFrame] | None = None,
    line_sources: dict[str, tuple[DataFrame, DataFrame | None]] | None = None,
    harmonized_header: DataFrame | None = None,
    harmonized_line: DataFrame | None = None,
    pde: DataFrame | None = None,
    pharm_char_raw: DataFrame | None = None,
    ref_geo_kc_zip: DataFrame | None = None,
    ref_xwalk: DataFrame | None = None,
    ref_pc_oregon: DataFrame | None = None,
    ref_icdcm: DataFrame | None = None,
    ccw_lookup_rows: list[dict] | None = None,
    ref_rda: DataFrame | None = None,
    ref_naloxone_ndc: DataFrame | None = None,
    oud_dx_codes: DataFrame | None = None,
    strict: bool = True,
) -> PipelineResult:
    """Medicare master orchestration
    (``db_loader/mcare/02_master_mcare_claims_analytic.R`` — fourteen
    tables): elig demo/timevar/month off the MBSF enrollment stage,
    then line / icdcm_header / procedure / provider / pharm /
    pharm_char off the per-filetype claim extracts, the header gated
    by the fused event-family invariants, then ccw / bh / moud /
    naloxone off the children.

    ``claim_sources`` maps filetype -> base-claims frame (the dx
    columns live there); ``line_sources`` maps filetype ->
    (base_claims, detail) pairs for the line/procedure/pharm grains —
    both exactly the per-builder contracts, so a section is skipped
    when its extract is absent (the master script's rerun pattern).
    The references read more than once are cached first
    (:func:`cache_stage`).
    """
    from claims_data_spark.tables.conditions import (
        build_mcare_claim_bh,
        build_mcare_claim_ccw,
    )
    from claims_data_spark.tables.mcare import (
        build_mcare_claim_header,
        build_mcare_claim_icdcm_header,
        build_mcare_claim_line,
        build_mcare_claim_pharm,
        build_mcare_claim_procedure,
        build_mcare_claim_provider,
    )
    from claims_data_spark.tables.mcare_elig import (
        build_mcare_elig_demo,
        build_mcare_elig_month,
        build_mcare_elig_timevar,
    )
    from claims_data_spark.tables.moud import build_mcare_claim_moud
    from claims_data_spark.tables.naloxone import build_mcare_claim_naloxone
    from claims_data_spark.tables.pharmacy import (
        build_mcare_claim_pharm_char,
    )

    res = PipelineResult()
    tables = res.tables
    gate = partial(qa_gate, res.qa, strict=strict)
    stage = partial(cache_stage, held=res.cached)

    with res.released_on_error():
        # the three elig builders read the ZIP lookup; claim_header's
        # build-time checkpoint and its gate read the crosswalk and the
        # Oregon primary-care codes; claim_bh joins ref_rda in five
        # places. ref_icdcm, ref_naloxone_ndc and oud_dx_codes
        # are each read once, by the one table that joins them.
        ref_geo_kc_zip = stage(ref_geo_kc_zip)
        ref_xwalk = stage(ref_xwalk)
        ref_pc_oregon = stage(ref_pc_oregon)
        ref_rda = stage(ref_rda)
        demo = stage(build_mcare_elig_demo(
            bene_enrollment, ref_geo_kc_zip=ref_geo_kc_zip
        ))
        tables["mcare_elig_demo"] = demo
        gate("mcare_elig_demo",
             *fused_table_qa(demo, unique_keys=["id_mcare"]))
        tables["mcare_elig_timevar"] = stage(build_mcare_elig_timevar(
            bene_enrollment, elig_demo=demo, ref_geo_kc_zip=ref_geo_kc_zip
        ))
        # the reference's full timevar suite (qa_stage.mcare_elig_timevar.R):
        # dup-row/interval/overlap fused + distinct-id parity with MBSF
        gate("mcare_elig_timevar",
             *qa_mcare_elig_timevar(tables["mcare_elig_timevar"],
                                    bene_enrollment))
        tables["mcare_elig_month"] = build_mcare_elig_month(
            bene_enrollment, elig_demo=demo, ref_geo_kc_zip=ref_geo_kc_zip
        )

        if not claim_sources:
            return res
        enrollment = bene_enrollment.select(
            F.col("bene_id") if "bene_id" in bene_enrollment.columns
            else F.col("id_mcare").alias("bene_id")
        ).distinct()

        icdcm = stage(
            build_mcare_claim_icdcm_header(claim_sources, enrollment)
        )
        tables["mcare_claim_icdcm_header"] = icdcm
        procedure = pharm = None
        if line_sources:
            # claim_line's per-filetype contract is (line_df, base_df) —
            # the reverse of procedure's (base, detail) pairs
            tables["mcare_claim_line"] = build_mcare_claim_line(
                {k: (detail, base) for k, (base, detail) in
                 line_sources.items() if detail is not None},
                enrollment,
            )
            procedure = stage(
                build_mcare_claim_procedure(line_sources, enrollment)
            )
            tables["mcare_claim_procedure"] = procedure
            facility_only = {
                k: (detail, base) for k, (base, detail) in line_sources.items()
                if detail is not None and k not in ("carrier", "dme")
            }
            pharm = stage(
                build_mcare_claim_pharm(facility_only, pde, enrollment)
            )
            tables["mcare_claim_pharm"] = pharm
        # standardize the CMS NPI role names per filetype before the
        # provider unpivot (the builder's contract is caller-side aliasing
        # because the vocabulary differs per vintage)
        _ROLE_ALIASES = {
            "at_physn_npi": "attending", "op_physn_npi": "operating",
            "ot_physn_npi": "other", "org_npi_num": "organization",
            "rndrng_physn_npi": "rendering",
            "carr_clm_blg_npi_num": "billing", "rfr_physn_npi": "referring",
        }
        prov_sources = {}
        for ft, df in claim_sources.items():
            renamed = df
            for src, role in _ROLE_ALIASES.items():
                if src in df.columns:
                    renamed = renamed.withColumnRenamed(src, role)
            if any(r in renamed.columns for r in _ROLE_ALIASES.values()):
                prov_sources[ft] = renamed
        if prov_sources:
            tables["mcare_claim_provider"] = build_mcare_claim_provider(
                prov_sources
            )
        if pharm_char_raw is not None:
            tables["mcare_claim_pharm_char"] = build_mcare_claim_pharm_char(
                pharm_char_raw
            )

        # the header consumes the HARMONIZED cross-filetype union (the
        # raw->stage layer produced by mcare_facility_stage /
        # bcarrier/dme vintage maps), not the raw CMS extracts the child
        # builders take — mirror of the reference where Table 9 reads the
        # stage tables Tables 3-8 already built
        header = None
        if harmonized_header is not None:
            header = stage(build_mcare_claim_header(
                harmonized_header, harmonized_line, icdcm, procedure,
                ref_xwalk=ref_xwalk, ref_pc_oregon=ref_pc_oregon,
            ))
            tables["mcare_claim_header"] = header
            gate("mcare_claim_header", *mcare_header_qa(header))

        if header is not None and ref_icdcm is not None and ccw_lookup_rows:
            tables["mcare_claim_ccw"] = build_mcare_claim_ccw(
                icdcm, header, ref_icdcm, ccw_lookup_rows
            )
        if ref_rda is not None and pharm is not None and procedure is not None:
            tables["mcare_claim_bh"] = build_mcare_claim_bh(
                icdcm, pharm, procedure, ref_rda
            )
        if header is not None and oud_dx_codes is not None \
                and procedure is not None:
            tables["mcare_claim_moud"] = build_mcare_claim_moud(
                procedure, header, pharm, oud_dx_codes
            )
        if ref_naloxone_ndc is not None and pharm is not None \
                and procedure is not None:
            tables["mcare_claim_naloxone"] = build_mcare_claim_naloxone(
                pharm, procedure, ref_naloxone_ndc
            )
    return res

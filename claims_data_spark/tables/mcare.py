"""Medicare claim tables + the combined mcaid_mcare layer
(reference: ``load_stage.mcare_claim_header.R:1-1000`` and
``load_stage.mcaid_mcare_claim_header.R:1-521``).

``build_mcare_claim_header`` mirrors the APCD/mcaid shape: one
groupBy per per-claim concept so every intermediate shares the
claim_header_id shuffle key, reference tables broadcast, and event
ids minted in one range-partitioned pass (``dense_event_ids_inline``).

``build_mcaid_mcare_claim_header`` is the cross-source union: each
side routes through the person crosswalk to ``id_apde``, source
-specific columns null-fill, and the utilization event ids are
RE-MINTED over the combined person space — the reference's
dense_rank-with-sort-to-bottom idiom (``mcaid_mcare_claim_header.R:
150-175``) becomes a filtered range-partitioned ranking, and the Yale ED
1-day episode clustering re-runs across sources so a Medicaid visit
and a Medicare visit one day apart merge into one episode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claims_data_spark.operators.dense_id import dense_event_ids_inline
from claims_data_spark.qa import QaResult, Stat, fused_table_qa

# ED definitions (load_stage.mcare_claim_header.R:379-399): the RDA
# 'perform' sets are narrower than the Yale 'pophealth' sets
ED_REV_PERFORM = "^045[01269]$"
ED_REV_POPHEALTH = "^045[01269]$|^0981$"
ED_PX_PERFORM = "^9928[123458]$"
ED_PX_POPHEALTH = "^9928[1-5]$|^99291$"

# swing-bed SNF + inpatient mcare claim types excluded from PC visits
# (``:666``)
PC_EXCLUDED_MCARE_TYPES = ("60", "30")


def build_mcare_claim_header(
    header: DataFrame,
    line: DataFrame,
    icdcm: DataFrame,
    procedure: DataFrame,
    ref_xwalk: DataFrame | None = None,
    ref_pc_oregon: DataFrame | None = None,
    provider: DataFrame | None = None,
    ref_provider_master: DataFrame | None = None,
) -> DataFrame:
    """Medicare claim_header analytic table.

    ``header`` is the unioned per-file frame (carrier/dme/hha/hospice/
    inpatient/outpatient/snf, ``:66-362``) with columns: id_mcare,
    claim_header_id (string — alpha ids), claim_type_mcare_id,
    filetype_mcare, first_service_date, last_service_date,
    patient_status_code. ``line`` carries revenue_code /
    place_of_service_code / discharge_date; ``provider`` carries
    (claim_header_id, provider_type, provider_npi).
    """
    hdr = header
    if ref_xwalk is not None:
        xw = ref_xwalk
        if "source_desc" in xw.columns:
            xw = xw.filter(F.col("source_desc") == "mcare")
        hdr = hdr.join(
            F.broadcast(
                xw.select(
                    F.col("source_clm_type_id").cast("string").alias(
                        "claim_type_mcare_id"
                    ),
                    F.col("kc_clm_type_id").alias("claim_type_id"),
                )
            ),
            "claim_type_mcare_id",
            "left",
        )
    else:
        hdr = hdr.withColumn("claim_type_id", F.lit(None).cast("int"))

    # line rollup (``:374-384``): discharge + ED pos/revenue flags
    line_agg = line.groupBy("claim_header_id").agg(
        F.max("discharge_date").alias("discharge_date"),
        F.max((F.col("place_of_service_code") == "23").cast("int")).alias("ed_pos"),
        F.max(F.col("revenue_code").rlike(ED_REV_PERFORM).cast("int")).alias(
            "ed_rev_code_perform"
        ),
        F.max(F.col("revenue_code").rlike(ED_REV_POPHEALTH).cast("int")).alias(
            "ed_rev_code_pophealth"
        ),
    )
    px_agg = procedure.groupBy("claim_header_id").agg(
        F.max(F.col("procedure_code").rlike(ED_PX_PERFORM).cast("int")).alias(
            "ed_procedure_code_perform"
        ),
        F.max(F.col("procedure_code").rlike(ED_PX_POPHEALTH).cast("int")).alias(
            "ed_procedure_code_pophealth"
        ),
    )
    icd1 = icdcm.filter(F.col("icdcm_number") == "01").groupBy("claim_header_id").agg(
        F.min("icdcm_norm").alias("primary_diagnosis"),
        F.min("icdcm_version").alias("icdcm_version"),
    )

    pc = None
    if ref_pc_oregon is not None:
        pc_px = (
            procedure.join(
                F.broadcast(
                    ref_pc_oregon.filter(
                        F.col("code_system").isin("cpt", "hcpcs")
                    ).select(F.col("code").alias("procedure_code"))
                ),
                "procedure_code",
            )
            .select("claim_header_id").distinct()
            .withColumn("pc_procedure_temp", F.lit(1))
        )
        pc_dx = (
            icdcm.filter(F.col("icdcm_version") == 10)
            .join(
                F.broadcast(
                    ref_pc_oregon.filter(F.col("code_system") == "icd10cm").select(
                        F.col("code").alias("icdcm_norm")
                    )
                ),
                "icdcm_norm",
            )
            .select("claim_header_id").distinct()
            .withColumn("pc_zcode_temp", F.lit(1))
        )
        pc = pc_px.join(pc_dx, "claim_header_id", "full")
        if provider is not None and ref_provider_master is not None:
            tax = ref_pc_oregon.filter(
                F.col("code_system") == "provider_taxonomy"
            ).select(F.col("code").alias("_tax"))
            pc_tax = (
                provider.filter(F.col("provider_type").isin("rendering", "attending"))
                .join(
                    F.broadcast(ref_provider_master),
                    provider["provider_npi"] == ref_provider_master["npi"],
                )
                .join(
                    F.broadcast(tax),
                    (F.col("primary_taxonomy") == F.col("_tax"))
                    | (F.col("secondary_taxonomy") == F.col("_tax")),
                )
                .select("claim_header_id").distinct()
                .withColumn("pc_taxonomy_temp", F.lit(1))
            )
            pc = pc.join(pc_tax, "claim_header_id", "full")
        else:
            pc = pc.withColumn("pc_taxonomy_temp", F.lit(None).cast("int"))

    out = (
        hdr.join(line_agg, "claim_header_id", "left")
        .join(px_agg, "claim_header_id", "left")
        .join(icd1, "claim_header_id", "left")
    )
    if pc is not None:
        out = out.join(pc, "claim_header_id", "left")
    else:
        for c in ("pc_procedure_temp", "pc_zcode_temp", "pc_taxonomy_temp"):
            out = out.withColumn(c, F.lit(None).cast("int"))

    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    kc = F.col("claim_type_id")
    out = (
        # inpatient stay: type 60 with discharge (``:55``)
        out.withColumn(
            "inpatient",
            (
                (F.col("claim_type_mcare_id") == "60")
                & F.col("discharge_date").isNotNull()
            ).cast("int"),
        )
        # ED performance — RDA (``:648-650``)
        .withColumn(
            "ed_perform",
            (
                (kc == 4)
                & (
                    (z("ed_rev_code_perform") == 1)
                    | (z("ed_procedure_code_perform") == 1)
                    | (z("ed_pos") == 1)
                )
            ).cast("int"),
        )
        # Yale ED trio (``:653-661``)
        .withColumn(
            "ed_yale_carrier",
            (
                (kc == 5)
                & (
                    ((z("ed_procedure_code_pophealth") == 1) & (z("ed_pos") == 1))
                    | (z("ed_rev_code_pophealth") == 1)
                )
            ).cast("int"),
        )
        .withColumn(
            "ed_yale_opt",
            (
                (kc == 4)
                & (
                    (z("ed_rev_code_pophealth") == 1)
                    | (z("ed_pos") == 1)
                    | (z("ed_procedure_code_pophealth") == 1)
                )
            ).cast("int"),
        )
        .withColumn(
            "ed_yale_ipt",
            (
                (kc == 1)
                & (
                    (z("ed_rev_code_pophealth") == 1)
                    | (z("ed_pos") == 1)
                    | (z("ed_procedure_code_pophealth") == 1)
                )
            ).cast("int"),
        )
        # Oregon PC visit (``:664-667``)
        .withColumn(
            "pc_visit",
            (
                ((z("pc_procedure_temp") == 1) | (z("pc_zcode_temp") == 1))
                & (z("pc_taxonomy_temp") == 1)
                & ~F.col("claim_type_mcare_id").isin(*PC_EXCLUDED_MCARE_TYPES)
            ).cast("int"),
        )
    )

    # ALL FOUR id families via the inline fact-grain minting (see
    # dense_event_ids_inline), split by ORDER DATE: pc_visit /
    # ed_perform / the Yale episode family all rank by (person,
    # first_service_date) and mint in one range exchange + one
    # vectorized pass; inpatient ranks by (person, discharge_date), so
    # it gets its own pass over ONLY the inpatient rows — family ids
    # depend on flagged keys alone, so filtering first is exact and
    # the second exchange carries a small subset, not the claim set.
    # The narrow minting projection is eagerly checkpointed (same
    # rationale as the APCD builder: no concurrent-leaf cache races,
    # bounded lineage, primary-dx aggregate pruned out of its plan).
    narrow = out.select(
        "claim_header_id", "id_mcare", "first_service_date",
        "discharge_date", "ed_yale_carrier", "ed_yale_opt", "ed_yale_ipt",
        "pc_visit", "inpatient", "ed_perform",
    ).localCheckpoint(eager=True)
    svc_ids = dense_event_ids_inline(
        narrow, "id_mcare", "first_service_date",
        families=[
            ("pc_visit", "pc_visit_id"),
            ("ed_perform", "ed_perform_id"),
        ],
        episode_families=[(
            ["ed_yale_carrier", "ed_yale_opt", "ed_yale_ipt"],
            "ed_pophealth_id", 1,
        )],
    )
    ipt_ids = dense_event_ids_inline(
        narrow.filter(F.col("inpatient") == 1).select(
            "claim_header_id", "id_mcare",
            F.coalesce(
                F.col("discharge_date"), F.to_date(F.lit("0001-01-01"))
            ).alias("_d_mint"),
            "inpatient",
        ),
        "id_mcare", "_d_mint",
        families=[("inpatient", "inpatient_id")],
    ).select("claim_header_id", "inpatient_id")
    with_ids = svc_ids.join(ipt_ids, "claim_header_id", "left")
    # reassembly: flag/id columns come from the checkpointed side; the
    # extras side is LEFT-joined behind a dropDuplicates on the claim
    # key (a semantic no-op — header grain — that makes it PROVABLY
    # unique), so flag-only consumers get the whole reassembly branch
    # eliminated instead of merely column-pruned.
    id_cols = [
        "pc_visit_id", "ed_perform_id", "ed_pophealth_id", "inpatient_id",
    ]
    cols_order = out.columns
    out_extras = out.drop(
        *[c for c in narrow.columns if c != "claim_header_id"]
    ).dropDuplicates(["claim_header_id"])
    return (
        with_ids.join(out_extras, "claim_header_id", "left")
        .select(*cols_order, *id_cols)
    )


# ---------------------------------------------------------------------------
# combined mcaid + mcare layer
# ---------------------------------------------------------------------------

_COMBINED_COLS = [
    "id_apde", "source_desc", "claim_header_id", "claim_type_id",
    "first_service_date", "last_service_date", "discharge_date",
    "primary_diagnosis", "icdcm_version",
]


def build_mcaid_mcare_claim_header(
    mcaid_header: DataFrame,
    mcare_header: DataFrame,
    xwalk: DataFrame,
) -> DataFrame:
    """Union both sources onto ``id_apde`` and re-mint every
    utilization event id over the combined person space
    (``load_stage.mcaid_mcare_claim_header.R:1-250``).

    Input contracts (columns beyond these null-fill):
    - mcaid: id_mcaid, claim_header_id, claim_type_id (kc),
      first/last_service_date, discharge_date?, primary_diagnosis?,
      icdcm_version?, ed_pophealth_id?, ed_perform_id?,
      inpatient_flag?/inpatient_id?, pc_visit_id?/pc_visit_flag?
    - mcare: same with id_mcare
    - xwalk: (id_apde, id_mcaid, id_mcare)

    The union is read three times (both mints and the final join); the
    builder caches nothing, so a caller that runs it more than once
    caches the two source headers (``run_mcaid_mcare_pipeline`` does).
    """
    def _norm(df: DataFrame, src: str, id_col: str) -> DataFrame:
        d = df.join(
            xwalk.select(id_col, "id_apde").filter(F.col(id_col).isNotNull()),
            id_col,
            "left",
        ).withColumn("source_desc", F.lit(src))
        d = d.withColumn(
            "claim_header_id", F.col("claim_header_id").cast("string")
        )
        # event participation flags (null-safe across both sources'
        # conventions: *_id non-null, or *_flag == 1)
        def has(col_id, col_flag):
            parts = []
            if col_id in df.columns:
                parts.append(F.col(col_id).isNotNull() & (F.col(col_id).cast("long") != 0))
            if col_flag in df.columns:
                parts.append(F.col(col_flag) == 1)
            if not parts:
                return F.lit(False)
            cond = parts[0]
            for p in parts[1:]:
                cond = cond | p
            return cond

        # one withColumns pass (eager per-transformation analysis makes
        # chained withColumn O(chain * plan-size) driver time)
        d = d.withColumns({
            "_was_ed": has("ed_pophealth_id", "ed_flag"),
            "_was_ed_perform": has("ed_perform_id", "_none"),
            "_was_ipt": has("inpatient_id", "inpatient_flag"),
            "_was_pc": has("pc_visit_id", "pc_visit_flag"),
            **{c: F.lit(None) for c in _COMBINED_COLS if c not in d.columns},
        })
        return d.select(
            *_COMBINED_COLS, "_was_ed", "_was_ed_perform", "_was_ipt", "_was_pc"
        )

    both = _norm(mcaid_header, "mcaid", "id_mcaid").unionByName(
        _norm(mcare_header, "mcare", "id_mcare")
    )

    # re-mint event ids over (id_apde, date) — the reference's
    # dense_rank with nulls sorted to the bottom is equivalent to
    # ranking only the participating rows (``:150-175``). The inline
    # fact-grain minting (dense_event_ids_inline) runs one pass per
    # ORDER DATE: ed_perform / pc_visit / the cross-source Yale
    # episode family (``:205-330``: a Medicaid and a Medicare ED
    # visit ≤1 day apart merge) over first_service_date, inpatient
    # over discharge_date on ONLY its flagged rows. Unlinked claims
    # (NULL id_apde) coalesce to '' for the mint — sorts first and
    # groups equal, exactly like DENSE_RANK's NULLS FIRST key.
    join_key = ["source_desc", "claim_header_id"]
    mint_person = F.coalesce(F.col("id_apde"), F.lit("")).alias("_pid_mint")
    mint_date = lambda c: F.coalesce(  # noqa: E731
        F.col(c), F.to_date(F.lit("0001-01-01"))
    ).alias("_d_mint")
    svc_in = both.select(
        "source_desc", "claim_header_id", mint_person,
        mint_date("first_service_date"),
        F.col("_was_ed_perform").cast("int").alias("_f_edp"),
        F.col("_was_pc").cast("int").alias("_f_pc"),
        (F.col("_was_ed") & F.col("claim_type_id").isin(1, 4, 5))
        .cast("int").alias("_yale_mem"),
    )
    svc_ids = dense_event_ids_inline(
        svc_in, "_pid_mint", "_d_mint",
        families=[
            ("_f_edp", "ed_perform_id"),
            ("_f_pc", "pc_visit_id"),
        ],
        episode_families=[(["_yale_mem"], "ed_pophealth_id", 1)],
    ).select(
        "source_desc", "claim_header_id",
        "ed_perform_id", "pc_visit_id", "ed_pophealth_id",
    )
    ipt_ids = dense_event_ids_inline(
        both.filter(F.col("_was_ipt")).select(
            "source_desc", "claim_header_id", mint_person,
            mint_date("discharge_date"),
            F.col("_was_ipt").cast("int").alias("_f_ipt"),
        ),
        "_pid_mint", "_d_mint",
        families=[("_f_ipt", "inpatient_id")],
    ).select("source_desc", "claim_header_id", "inpatient_id")
    per_claim = svc_ids.join(ipt_ids, join_key, "left")
    out = both.join(per_claim, join_key, "left")

    # Yale trio from the prior-stage ED membership + kc type (``:155-157``)
    out = (
        out.withColumn(
            "ed_yale_carrier",
            (F.col("_was_ed") & (F.col("claim_type_id") == 5)).cast("int"),
        )
        .withColumn(
            "ed_yale_opt",
            (F.col("_was_ed") & (F.col("claim_type_id") == 4)).cast("int"),
        )
        .withColumn(
            "ed_yale_ipt",
            (F.col("_was_ed") & (F.col("claim_type_id") == 1)).cast("int"),
        )
    )
    return out.drop("_was_ed", "_was_ed_perform", "_was_ipt", "_was_pc")


def build_mcaid_mcare_union(
    mcaid_df: DataFrame,
    mcare_df: DataFrame,
    xwalk: DataFrame,
) -> DataFrame:
    """Generic combined-layer union for the mcaid+mcare child tables —
    claim_line / icdcm_header / procedure / elig layers
    (``load_stage.mcaid_mcare_claim_line.R:219-255`` and its
    icdcm_header/procedure twins share exactly this shape).

    Each source joins the person crosswalk on its own id to mint
    ``id_apde``, claim ids are cast to string (mcaid's are bigint,
    mcare's are char), columns present in only one source are
    null-filled with the other side's type, and rows are tagged
    ``source_desc``. The xwalk join is broadcast (person-dim sized
    relative to claims); the union is by name, never by position.
    """
    def _prep(df: DataFrame, src: str, id_col: str) -> DataFrame:
        out = df.join(
            F.broadcast(
                xwalk.select(id_col, "id_apde").filter(
                    F.col(id_col).isNotNull()
                )
            ),
            id_col,
            "left",
        ).drop(id_col)
        for c in ("claim_header_id", "claim_line_id"):
            if c in out.columns:
                out = out.withColumn(c, F.col(c).cast("string"))
        return out.withColumn("source_desc", F.lit(src))

    a = _prep(mcaid_df, "mcaid", "id_mcaid")
    b = _prep(mcare_df, "mcare", "id_mcare")
    for c in b.columns:
        if c not in a.columns:
            a = a.withColumn(
                c, F.lit(None).cast(b.schema[c].dataType)
            )
    for c in a.columns:
        if c not in b.columns:
            b = b.withColumn(
                c, F.lit(None).cast(a.schema[c].dataType)
            )
    return a.unionByName(b).distinct()


# Pinned combined-layer child surfaces. The reference inserts into a
# fixed table shell, so column ORDER and presence are part of the
# contract even when one source null-fills a column.
_COMBINED_ICDCM_COLS = [
    "id_apde", "source_desc", "claim_header_id",
    "first_service_date", "last_service_date",
    "icdcm_raw", "icdcm_norm", "icdcm_version", "icdcm_number",
    "filetype_mcare",
]

_COMBINED_PROC_COLS = [
    "id_apde", "source_desc", "claim_header_id",
    "first_service_date", "last_service_date",
    "procedure_code", "procedure_code_number", "modifier_code",
    "filetype_mcare",
]


def build_mcaid_mcare_claim_icdcm_header(
    mcaid_icdcm: DataFrame,
    mcare_icdcm: DataFrame,
    xwalk: DataFrame,
) -> DataFrame:
    """Combined-layer diagnosis table
    (``load_stage.mcaid_mcare_claim_icdcm_header.R:23-63``): union of
    the two final icdcm_header tables keyed to ``id_apde`` via the
    person crosswalk. mcaid claim ids cast to string (mcare's are
    alphanumeric, ``:30``), ``icdcm_number`` cast to string on both
    sides (the reference resolves a collation conflict the same way,
    ``:55``), ``filetype_mcare`` null for the Medicaid side (``:38``).
    One broadcast xwalk join per side + one union-distinct shuffle.
    """
    def _num_str(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "icdcm_number", F.col("icdcm_number").cast("string")
        )

    out = build_mcaid_mcare_union(
        _num_str(mcaid_icdcm), _num_str(mcare_icdcm), xwalk
    )
    if "filetype_mcare" not in out.columns:
        out = out.withColumn("filetype_mcare", F.lit(None).cast("string"))
    return out.select(*_COMBINED_ICDCM_COLS)


def build_mcaid_mcare_claim_procedure(
    mcaid_procedure: DataFrame,
    mcare_procedure: DataFrame,
    xwalk: DataFrame,
) -> DataFrame:
    """Combined-layer procedure table
    (``load_stage.mcaid_mcare_claim_procedure.R:23-70``): union of the
    two final claim_procedure tables onto ``id_apde``. The per-source
    tables both use the long one-row-per-modifier form
    (``modifier_code``), so the reference's four modifier slots
    collapse to one column; mcare's missing slot number and mcaid's
    missing ``filetype_mcare`` null-fill with the other side's type.
    """
    out = build_mcaid_mcare_union(mcaid_procedure, mcare_procedure, xwalk)
    for c, t in (("procedure_code_number", "string"),
                 ("filetype_mcare", "string")):
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast(t))
    return out.select(*_COMBINED_PROC_COLS)


def combined_child_union_qa(
    combined: DataFrame, mcaid_side: DataFrame, mcare_side: DataFrame
) -> QaResult:
    """Reference table-level QA for every combined child
    (``load_stage.mcaid_mcare_claim_icdcm_header.R:66-94`` and the
    procedure twin): combined row count must equal mcaid + mcare —
    the union may not invent or drop rows (per-source tables are
    already distinct at their grain, and ``source_desc`` prevents
    cross-source collisions). One count over the combined table, one
    over the two sides, no data movement.
    """
    sides = mcaid_side.select(F.lit("mcaid").alias("_side")).unionByName(
        mcare_side.select(F.lit("mcare").alias("_side"))
    )
    per_side = [
        F.count(F.when(F.col("_side") == s, 1)).alias(f"_{s}")
        for s in ("mcaid", "mcare")
    ]
    return fused_table_qa(combined, checks={"union-row-count": Stat(
        aggs=(F.count(F.lit(1)).alias("_rows"),),
        raw_aggs=tuple(per_side),
        verdict=lambda r: (
            r["_rows"] == r["_mcaid"] + r["_mcare"],
            f"combined={r['_rows']} mcaid={r['_mcaid']} mcare={r['_mcare']}",
        ),
    )}, raw=sides)[0]


# ---------------------------------------------------------------------------
# Medicare claim_line (load_stage.mcare_claim_line.R: a 7-filetype
# UNION — carrier/dme line tables and hha/hospice/inpatient/outpatient/
# snf revenue-center tables, each joined to its base-claims file for
# service dates and filtered by the filetype's denial rule)
# ---------------------------------------------------------------------------

def _not_denied(base: DataFrame, method: str) -> DataFrame:
    """Per-filetype denial exclusion (ResDAC 01-2020 consult,
    ``load_stage.mcare_claim_line.R:35-37,88-90``): carrier/DME keep
    payment-denial codes 1-9; facility files keep empty/null
    non-payment reason codes. A pushed-down scan filter either way."""
    if method == "carrier":
        return base.filter(
            F.col("carr_clm_pmt_dnl_cd").isin([str(i) for i in range(1, 10)])
        )
    return base.filter(
        F.col("clm_mdcr_non_pmt_rsn_cd").isNull()
        | (F.trim(F.col("clm_mdcr_non_pmt_rsn_cd")) == "")
    )


# filetype -> (line-id column, denial method, revenue-center table?)
MCARE_LINE_SPECS = {
    "carrier": {"line_id": "line_num", "denial": "carrier", "facility": False},
    "dme": {"line_id": "line_num", "denial": "carrier", "facility": False},
    "hha": {"line_id": "clm_line_num", "denial": "facility", "facility": True},
    "hospice": {"line_id": "clm_line_num", "denial": "facility", "facility": True},
    "inpatient": {"line_id": "clm_line_num", "denial": "facility", "facility": True},
    "outpatient": {"line_id": "clm_line_num", "denial": "facility", "facility": True},
    "snf": {"line_id": "clm_line_num", "denial": "facility", "facility": True},
}


def build_mcare_claim_line(
    sources: dict[str, tuple[DataFrame, DataFrame]],
    enrollment: DataFrame,
) -> DataFrame:
    """Union the per-filetype Medicare line/revenue-center feeds into
    the analytic line grain (``load_stage.mcare_claim_line.R:1-250``).

    ``sources`` maps a filetype key from ``MCARE_LINE_SPECS`` to its
    ``(line_df, base_claims_df)`` pair. Carrier/DME lines carry a
    2-char place-of-service and type-of-service; facility revenue
    centers carry a 4-char revenue code. Denial exclusion is
    per-method: carrier/DME keep payment-denial codes 1-9, facility
    keeps empty/null non-payment reason codes
    (``:35-37,88-90``). Rows whose person has no enrollment data are
    dropped via a semi join (the reference's ``c.bene_id is not
    null``). Base-claims and enrollment joins are shuffle joins on the
    claim/person id — at 100 TB the base file is NOT broadcastable;
    both sides arrive bucketed by ``clm_id`` in the warehouse layout.
    """
    parts = []
    for ftype, (line_df, base_df) in sources.items():
        spec = MCARE_LINE_SPECS[ftype]
        base = _not_denied(base_df, spec["denial"]).select(
            "clm_id",
            F.col("clm_from_dt").cast("date").alias("first_service_date"),
            F.col("clm_thru_dt").cast("date").alias("last_service_date"),
        )
        j = line_df.join(base, "clm_id").join(
            enrollment.select("bene_id").distinct(), "bene_id", "left_semi"
        )
        if spec["facility"]:
            rev = F.lpad(F.trim(F.col("rev_cntr")), 4, "0")
            pos = F.lit(None).cast("string")
            tos = F.lit(None).cast("string")
        else:
            rev = F.lit(None).cast("string")
            pos = F.lpad(F.trim(F.col("line_place_of_srvc_cd")), 2, "0")
            tos = F.col("line_cms_type_srvc_cd")
        parts.append(
            j.select(
                F.trim(F.col("bene_id")).alias("id_mcare"),
                F.trim(F.col("clm_id")).alias("claim_header_id"),
                F.trim(F.col(spec["line_id"]).cast("string")).alias(
                    "claim_line_id"
                ),
                "first_service_date",
                "last_service_date",
                rev.alias("revenue_code"),
                pos.alias("place_of_service_code"),
                tos.alias("type_of_service"),
                F.lit(ftype).alias("filetype_mcare"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Medicare claim_icdcm_header (load_stage.mcare_claim_icdcm_header.R:
# 22-599): per-filetype dx-column unpivot with date-dependent ICD-9/10
# versioning. Carrier/DME carry 12 dx slots; facility files carry 25 dx
# + 12 external-cause slots; inpatient/SNF add the admitting dx.
# ---------------------------------------------------------------------------

MCARE_DX_SPECS = {
    "carrier": {"denial": "carrier", "ndx": 12, "necode": 0, "admit": False},
    "dme": {"denial": "carrier", "ndx": 12, "necode": 0, "admit": False},
    "hha": {"denial": "facility", "ndx": 25, "necode": 12, "admit": False},
    "hospice": {"denial": "facility", "ndx": 25, "necode": 12, "admit": False},
    "inpatient": {"denial": "facility", "ndx": 25, "necode": 12, "admit": True},
    "outpatient": {"denial": "facility", "ndx": 25, "necode": 12, "admit": False},
    "snf": {"denial": "facility", "ndx": 25, "necode": 12, "admit": True},
}

_DX_ID_COLS = [
    "id_mcare", "claim_header_id", "first_service_date", "last_service_date",
]


def _dx_prepared(base: DataFrame, value_cols: dict[str, str]) -> DataFrame:
    present = [c for c in value_cols if c in base.columns]
    return base.select(
        F.trim(F.col("bene_id")).alias("id_mcare"),
        F.trim(F.col("clm_id")).alias("claim_header_id"),
        F.col("clm_from_dt").cast("date").alias("first_service_date"),
        F.col("clm_thru_dt").cast("date").alias("last_service_date"),
        *present,
    ), {c: value_cols[c] for c in present}


def build_mcare_claim_icdcm_header(
    sources: dict[str, DataFrame],
    enrollment: DataFrame,
) -> DataFrame:
    """Long diagnosis table across the 7 Medicare claim files
    (``load_stage.mcare_claim_icdcm_header.R:22-599``).

    ``sources`` maps filetype -> base-claims frame with CMS dx columns
    (``icd_dgns_cd1..N``, ``icd_dgns_e_cd1..M``, ``admtg_dgns_cd``).
    Each branch: denial filter, enrollment semi join, then a ``stack``
    unpivot (narrow, codegen, no shuffle) labeling slots '01'..'25',
    'admit', 'ecode_1'..'ecode_12' — the reference's
    ``substring(icdcm_number, 3, 10)`` labels. Normalization +
    version use the shared date-cutover rule (``functions.strings``);
    the final UNION-distinct is one shuffle over the long grain.
    """
    from claims_data_spark.functions.strings import (
        icdcm_version, normalize_icdcm,
    )
    from claims_data_spark.operators.unpivot import unpivot

    bene = enrollment.select("bene_id").distinct()
    parts = []
    for ftype, base_df in sources.items():
        spec = MCARE_DX_SPECS[ftype]
        value_cols = {
            f"icd_dgns_cd{i}": f"{i:02d}" for i in range(1, spec["ndx"] + 1)
        }
        for i in range(1, spec["necode"] + 1):
            value_cols[f"icd_dgns_e_cd{i}"] = f"ecode_{i}"
        if spec["admit"]:
            value_cols["admtg_dgns_cd"] = "admit"
        base = _not_denied(base_df, spec["denial"]).join(
            bene, "bene_id", "left_semi"
        )
        prepared, present = _dx_prepared(base, value_cols)
        long_df = unpivot(
            prepared, _DX_ID_COLS, present,
            var_name="icdcm_number", value_name="icdcm_raw",
        )
        parts.append(
            long_df.filter(F.trim(F.col("icdcm_raw")) != "")
            .withColumn("filetype_mcare", F.lit(ftype))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        *_DX_ID_COLS,
        "icdcm_raw",
        normalize_icdcm("icdcm_raw", "first_service_date").alias("icdcm_norm"),
        icdcm_version("icdcm_raw", "first_service_date").alias(
            "icdcm_version"
        ),
        "icdcm_number",
        "filetype_mcare",
    ).distinct()


# ---------------------------------------------------------------------------
# Medicare claim_procedure (load_stage.mcare_claim_procedure.R:23-1261):
# HCPCS × modifier fan-out + BETOS (carrier/DME) + ICD-PCS unpivot
# (inpatient/outpatient/SNF). Modifier-slot counts vary by filetype and
# ResDAC vintage — the spec table pins the current vintages; callers
# with an older vintage pass ``mods=`` overrides.
# ---------------------------------------------------------------------------

MCARE_PX_SPECS = {
    "carrier": {"denial": "carrier", "mods": 2, "betos": True, "icdpcs": 0},
    "dme": {"denial": "carrier", "mods": 4, "betos": True, "icdpcs": 0},
    "hha": {"denial": "facility", "mods": 3, "betos": False, "icdpcs": 0},
    "hospice": {"denial": "facility", "mods": 3, "betos": False, "icdpcs": 0},
    "inpatient": {"denial": "facility", "mods": 3, "betos": False,
                  "icdpcs": 25},
    "outpatient": {"denial": "facility", "mods": 4, "betos": False,
                   "icdpcs": 25},
    "snf": {"denial": "facility", "mods": 3, "betos": False, "icdpcs": 25},
}


def build_mcare_claim_procedure(
    sources: dict[str, tuple[DataFrame, DataFrame | None]],
    enrollment: DataFrame,
    specs: dict[str, dict] | None = None,
) -> DataFrame:
    """Long procedure table (``load_stage.mcare_claim_procedure.R``).

    ``sources`` maps filetype -> ``(base_claims_df, detail_df)`` where
    ``detail_df`` is the line (carrier/DME) or revenue-center
    (facility) table carrying ``hcpcs_cd`` + ``hcpcs_*_mdfr_cd`` (+
    ``betos_cd`` for carrier/DME); ICD-PCS columns
    (``icd_prcdr_cd1..25``) live on the base file. Per branch:

    - HCPCS rows replicate once per non-null modifier and keep a
      single NULL-modifier row when none exist (array filter +
      explode — the reference's UNPIVOT + anti-filter pair,
      ``:49-90``)
    - BETOS / ICD-PCS rows carry a NULL modifier
    - blank-padded modifiers normalize to NULL (``:284-287``)

    The enrollment exclusion is ONE final semi join over the unioned
    long grain (the reference's Step 11, ``:1243``), not seven — same
    result, one hash-build of the bene dimension. UNION-distinct is
    the single shuffle.
    """
    specs = {**MCARE_PX_SPECS, **(specs or {})}
    id_sel = [
        F.trim(F.col("bene_id")).alias("id_mcare"),
        F.trim(F.col("clm_id")).alias("claim_header_id"),
        F.col("clm_from_dt").cast("date").alias("first_service_date"),
        F.col("clm_thru_dt").cast("date").alias("last_service_date"),
    ]
    id_cols = ["id_mcare", "claim_header_id",
               "first_service_date", "last_service_date"]
    parts = []
    for ftype, (base_df, detail_df) in sources.items():
        spec = specs[ftype]
        base = _not_denied(base_df, spec["denial"])
        if detail_df is not None:
            # the detail (line / revenue-center) file repeats the
            # person id and service dates of its base claim — drop
            # them so the join keeps ONE unambiguous copy (CMS RIFs
            # really do carry bene_id on both grains)
            dup = [c for c in ("bene_id", "clm_from_dt", "clm_thru_dt")
                   if c in detail_df.columns]
            joined = base.join(detail_df.drop(*dup), "clm_id")
        else:
            joined = base
        if spec["mods"] or "hcpcs_cd" in joined.columns:
            mod_slots = ["hcpcs_1st_mdfr_cd", "hcpcs_2nd_mdfr_cd",
                         "hcpcs_3rd_mdfr_cd", "hcpcs_4th_mdfr_cd"]
            mod_cols = [
                F.col(c) for c in mod_slots[: spec["mods"]]
                if c in joined.columns
            ]
            cleaned = [
                F.when(F.trim(m) == "", None).otherwise(m) for m in mod_cols
            ]
            mods = F.filter(F.array(*cleaned), lambda m: m.isNotNull()) \
                if cleaned else F.array().cast("array<string>")
            padded = F.when(
                F.size(mods) == 0, F.array(F.lit(None).cast("string"))
            ).otherwise(mods)
            parts.append(
                joined.filter(F.col("hcpcs_cd").isNotNull())
                .select(
                    *id_sel,
                    F.col("hcpcs_cd").alias("procedure_code"),
                    F.explode(padded).alias("modifier_code"),
                    F.lit(ftype).alias("filetype_mcare"),
                )
            )
        if spec["betos"]:
            parts.append(
                joined.filter(F.col("betos_cd").isNotNull()).select(
                    *id_sel,
                    F.col("betos_cd").alias("procedure_code"),
                    F.lit(None).cast("string").alias("modifier_code"),
                    F.lit(ftype).alias("filetype_mcare"),
                )
            )
        if spec["icdpcs"]:
            from claims_data_spark.operators.unpivot import unpivot

            pcs_cols = {
                f"icd_prcdr_cd{i}": f"{i:02d}"
                for i in range(1, spec["icdpcs"] + 1)
                if f"icd_prcdr_cd{i}" in base.columns
            }
            prepared = base.select(*id_sel, *pcs_cols)
            parts.append(
                unpivot(
                    prepared, id_cols, pcs_cols,
                    var_name="_slot", value_name="procedure_code",
                )
                .filter(F.trim(F.col("procedure_code")) != "")
                .select(
                    *id_cols,
                    "procedure_code",
                    F.lit(None).cast("string").alias("modifier_code"),
                    F.lit(ftype).alias("filetype_mcare"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.join(
        enrollment.select(F.trim(F.col("bene_id")).alias("id_mcare"))
        .distinct(),
        "id_mcare",
        "left_semi",
    ).distinct()


# ---------------------------------------------------------------------------
# Medicare claim_provider (load_stage.mcare_claim_provider.R:22-654):
# NPI role columns unpivoted long, invalid NPIs dropped, and the
# role-dependent zip/specialty columns collapsed to one column each.
# ---------------------------------------------------------------------------

MCARE_PROVIDER_ROLES = [
    "billing", "referring", "care_plan_oversight", "site_of_service",
    "rendering", "organization", "attending", "operating", "other",
]

_PROVIDER_EXTRAS = [
    "provider_type_nch", "provider_tin",
    "provider_zip_rendering", "provider_zip_billing",
    "provider_specialty_attending", "provider_specialty_operating",
    "provider_specialty_other", "provider_specialty_referring",
    "provider_specialty_rendering",
]


def build_mcare_claim_provider(
    sources: dict[str, DataFrame],
) -> DataFrame:
    """Long provider table (``load_stage.mcare_claim_provider.R``).

    ``sources`` maps filetype -> an already denial-filtered frame with
    the id columns (``bene_id``, ``clm_id``, ``clm_from_dt``,
    ``clm_thru_dt``) plus any subset of the standardized role columns
    in ``MCARE_PROVIDER_ROLES`` and the optional zip/specialty extras
    — the per-vintage CMS-name aliasing (``carr_clm_blg_npi_num`` →
    billing, ``at_physn_npi`` → attending, rendering NPI coalesced
    across base/revenue-center, ``:78-92,198-214``) is a caller-side
    select because it genuinely differs per vintage.

    The unpivot is ``stack`` (narrow); the NPI validity gate is the
    reference's ``len = 10 and isnumeric`` (``:109``); zip/specialty
    collapse to CASE on the role. UNION-distinct = one shuffle.
    """
    from claims_data_spark.functions.strings import is_numeric
    from claims_data_spark.operators.unpivot import unpivot

    parts = []
    for ftype, df in sources.items():
        roles = {r: r for r in MCARE_PROVIDER_ROLES if r in df.columns}
        if not roles:
            # extract vintages with no provider columns contribute no
            # rows (an empty stack() is a parse error, not a no-op)
            continue
        extras = [
            F.col(c).cast("string").alias(c) if c in df.columns
            else F.lit(None).cast("string").alias(c)
            for c in _PROVIDER_EXTRAS
        ]
        prepared = df.select(
            F.trim(F.col("bene_id")).alias("id_mcare"),
            F.trim(F.col("clm_id")).alias("claim_header_id"),
            F.col("clm_from_dt").cast("date").alias("first_service_date"),
            F.col("clm_thru_dt").cast("date").alias("last_service_date"),
            *extras,
            *[F.col(r).cast("string").alias(r) for r in roles],
        )
        long_df = unpivot(
            prepared,
            ["id_mcare", "claim_header_id", "first_service_date",
             "last_service_date", *_PROVIDER_EXTRAS],
            roles,
            var_name="provider_type", value_name="provider_npi_raw",
        )
        parts.append(
            long_df.filter(
                (F.length(F.trim(F.col("provider_npi_raw"))) == 10)
                & is_numeric(F.trim(F.col("provider_npi_raw")))
            ).withColumn("filetype_mcare", F.lit(ftype))
        )
    if not parts:
        raise ValueError(
            "no source carries a standardized provider role column; "
            f"expected any of {MCARE_PROVIDER_ROLES}"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    pt = F.col("provider_type")
    return out.select(
        "id_mcare", "claim_header_id",
        "first_service_date", "last_service_date",
        F.trim(F.col("provider_npi_raw")).cast("bigint").alias(
            "provider_npi"
        ),
        "provider_type",
        "provider_type_nch",
        "provider_tin",
        F.when(pt == "rendering", F.col("provider_zip_rendering"))
        .when(pt == "billing", F.col("provider_zip_billing"))
        .alias("provider_zip"),
        F.when(pt == "attending", F.col("provider_specialty_attending"))
        .when(pt == "operating", F.col("provider_specialty_operating"))
        .when(pt == "other", F.col("provider_specialty_other"))
        .when(pt == "referring", F.col("provider_specialty_referring"))
        .when(pt == "rendering", F.col("provider_specialty_rendering"))
        .alias("provider_specialty"),
        "filetype_mcare",
    ).distinct()


# ---------------------------------------------------------------------------
# Combined mcaid+mcare elig_demo (load_stage.mcaid_mcare_elig_demo.R:
# 24-120): both demos routed to id_apde, one row per person per
# source, duals merged column-wise with per-column source preference.
# ---------------------------------------------------------------------------


def build_mcaid_mcare_elig_demo(
    xwalk: DataFrame,
    mcaid_demo: DataFrame,
    mcare_demo: DataFrame,
) -> DataFrame:
    """Cross-source person demographics keyed by ``id_apde``.

    Merge policy (``:81-90``): DOB prefers Medicare when present;
    every other shared column prefers Medicaid and back-fills from
    Medicare. Source-specific columns (death_dt / geo_kc_ever /
    race_asian_pi from Medicare, lang_* from Medicaid) pass through.
    ``apde_dual`` marks persons present in both sources.

    The reference's seeded-random one-row-per-id pick (``:52-61``)
    becomes a deterministic md5-ordered row_number — retry-stable on
    a cluster where set.seed semantics don't exist (engine convention,
    SURVEY.md §2 P8). ``race_unk`` is recomputed with null-strict
    comparisons, reproducing the reference's data.table behavior where
    any NA flag leaves race_unk at 0 (``:107-108``).
    """
    from pyspark.sql import Window

    def routed(demo, id_col):
        side = (
            xwalk.filter(F.col(id_col).isNotNull())
            .select("id_apde", id_col)
            .join(demo, id_col)
            .drop(id_col)
        )
        w = Window.partitionBy("id_apde").orderBy(
            F.md5(F.concat_ws("|", *[
                F.col(c).cast("string") for c in side.columns
            ]))
        )
        return (
            side.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    a = routed(mcaid_demo, "id_mcaid")
    b = routed(mcare_demo, "id_mcare")
    shared = sorted(
        (set(a.columns) & set(b.columns)) - {"id_apde"}
    )
    a_only = [c for c in a.columns if c not in shared and c != "id_apde"]
    b_only = [c for c in b.columns if c not in shared and c != "id_apde"]
    a = a.select(
        "id_apde", F.lit(1).alias("_in_mcaid"),
        *[F.col(c).alias(f"_a_{c}") for c in shared], *a_only,
    )
    b = b.select(
        "id_apde", F.lit(1).alias("_in_mcare"),
        *[F.col(c).alias(f"_b_{c}") for c in shared], *b_only,
    )
    m = a.join(b, "id_apde", "full")

    def merged(c):
        if c == "dob":
            return F.coalesce(F.col("_b_dob"), F.col("_a_dob")).alias("dob")
        return F.coalesce(F.col(f"_a_{c}"), F.col(f"_b_{c}")).alias(c)

    out = m.select(
        "id_apde",
        *[merged(c) for c in shared],
        *a_only, *b_only,
        (
            F.coalesce(F.col("_in_mcaid"), F.lit(0))
            * F.coalesce(F.col("_in_mcare"), F.lit(0))
        ).alias("apde_dual"),
    )
    race_cols = [
        c for c in (
            "race_aian", "race_asian", "race_asian_pi", "race_black",
            "race_latino", "race_nhpi", "race_white",
        )
        if c in out.columns
    ]
    unk = F.lit(True)
    for c in race_cols:
        unk = unk & (F.col(c) == 0)  # null-strict: NA flag -> not unk
    return out.withColumn(
        "race_unk", F.when(unk, 1).otherwise(0)
    )


# ---------------------------------------------------------------------------
# Medicare claim_pharm (load_stage.mcare_claim_pharm.R:22-354): facility
# revenue-center NDC rows + Part D PDE fills, one long table.
# ---------------------------------------------------------------------------

_PDE_AMT_COLS = [
    "ptnt_pay_amt", "othr_troop_amt", "lics_amt", "plro_amt",
    "cvrd_d_plan_pd_amt", "ncvrd_plan_pd_amt", "tot_rx_cst_amt",
]
_PDE_CHAR_COLS = {
    "gcdf": "dosage_form_code", "gcdf_desc": "dosage_form_code_desc",
    "str": "strength", "ncpdp_id": "pharmacy_id",
    "brnd_gnrc_cd": "brand_generic_flag",
    "phrmcy_srvc_type_cd": "pharmacy_type",
}


def build_mcare_claim_pharm(
    facility_sources: dict[str, tuple[DataFrame, DataFrame]],
    pde: DataFrame | None,
    enrollment: DataFrame,
) -> DataFrame:
    """Pharmacy events across facility revenue centers and Part D
    (``load_stage.mcare_claim_pharm.R``).

    ``facility_sources`` maps filetype (hha/hospice/inpatient/
    outpatient/snf) to ``(revenue_center_df, base_claims_df)``; rows
    keep only numeric-leading NDC values (``:59``), zero-padded to 11.
    ``pde`` is the Part D event file: prescriber NPI only when the
    qualifier is 1/01, dispense quantities/amounts and pharmacy
    characteristics carried through. Both branches gate on enrollment
    via one semi join over the union.
    """
    null_s = F.lit(None).cast("string")
    null_n = F.lit(None).cast("decimal(19,3)")
    parts = []
    for ftype, (rev, base) in facility_sources.items():
        b = _not_denied(base, "facility").select(
            "clm_id", F.col("clm_thru_dt").cast("date").alias(
                "last_service_date"
            ),
        )
        ndc = F.col("rev_cntr_ide_ndc_upc_num")
        # the 2014 vintage carries no NDC quantity columns — null-fill
        # (same vintage-drift policy as the stage harmonizer)
        qty = (F.col("rev_cntr_ndc_qty") if "rev_cntr_ndc_qty"
               in rev.columns else F.lit(None))
        qty_uom = (F.col("rev_cntr_ndc_qty_qlfr_cd")
                   if "rev_cntr_ndc_qty_qlfr_cd" in rev.columns
                   else null_s)
        parts.append(
            rev.filter(ndc.isNotNull() & ~ndc.rlike("^[A-Za-z]"))
            .join(b, "clm_id")
            .select(
                F.trim(F.col("bene_id")).alias("id_mcare"),
                F.trim(F.col("clm_id")).alias("claim_header_id"),
                F.trim(F.col("clm_line_num").cast("string")).alias(
                    "claim_line_id"
                ),
                "last_service_date",
                null_s.alias("prscrbr_npi"),
                F.lpad(ndc, 11, "0").alias("ndc"),
                qty.cast("decimal(19,3)").alias("facility_drug_quantity"),
                qty_uom.alias("facility_drug_quantity_unit"),
                null_s.alias("cmpnd_cd"),
                null_n.alias("qty_dspnsd_num"),
                F.lit(None).cast("smallint").alias("days_suply_num"),
                F.lit(None).cast("smallint").alias("fill_num"),
                *[
                    F.lit(None).cast("decimal(38,3)").alias(c)
                    for c in _PDE_AMT_COLS
                ],
                *[null_s.alias(v) for v in _PDE_CHAR_COLS.values()],
                F.lit(ftype).alias("filetype_mcare"),
            )
        )
    if pde is not None:
        parts.append(
            pde.select(
                F.trim(F.col("bene_id")).alias("id_mcare"),
                F.trim(F.col("pde_id")).alias("claim_header_id"),
                null_s.alias("claim_line_id"),
                F.col("srvc_dt").cast("date").alias("last_service_date"),
                F.when(
                    F.col("prscrbr_id_qlfyr_cd").isin("1", "01"),
                    F.col("prscrbr_id"),
                ).alias("prscrbr_npi"),
                F.lpad(F.col("prod_srvc_id"), 11, "0").alias("ndc"),
                null_n.alias("facility_drug_quantity"),
                null_s.alias("facility_drug_quantity_unit"),
                F.col("cmpnd_cd").cast("string").alias("cmpnd_cd"),
                F.col("qty_dspnsd_num").cast("decimal(19,3)").alias(
                    "qty_dspnsd_num"
                ),
                F.col("days_suply_num").cast("smallint").alias(
                    "days_suply_num"
                ),
                F.col("fill_num").cast("smallint").alias("fill_num"),
                *[
                    F.col(c).cast("decimal(38,3)").alias(c)
                    for c in _PDE_AMT_COLS
                ],
                *[
                    F.col(k).cast("string").alias(v)
                    for k, v in _PDE_CHAR_COLS.items()
                ],
                F.lit("pharmacy").alias("filetype_mcare"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.join(
        enrollment.select(
            F.trim(F.col("bene_id")).alias("id_mcare")
        ).distinct(),
        "id_mcare",
        "left_semi",
    )

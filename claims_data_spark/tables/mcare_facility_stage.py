"""Medicare facility-claim raw -> stage harmonization (reference:
``claims_db/phclaims/stage/tables/load_stage.mcare_{inpatient,
outpatient,snf,hha,hospice}_base_claims.R`` and the matching
``*_revenue_center.R`` scripts).

Each reference script is a hand-written UNION of per-year raw tables
(the 2014 "j" extract, the 2015-16 "k" extract, the 2017 "r"
extract), every branch re-listing ~100 ``source as target`` renames
with NULL placeholders where a vintage lacks a column.  Ten scripts
x three vintages of copy-paste collapse here into ONE generic
harmonizer driven by vintage rename maps:

* :func:`harmonized_stage_union` — project each raw extract through
  its target<-source map (missing source -> typed NULL), union all
  by name, DISTINCT once (the reference's UNION dedups the same
  way), stamp ``last_run``.
* :data:`RC_TARGETS` / :func:`rc_vintage_map` — the revenue-center
  vocabulary (inpatient_revenue_center.R:15-47: the 2014 vintage has
  no HCPCS modifiers / NDC / uses rndrng npi; 2015+ is the reverse).
* :data:`base_claims_vintage_map` — the base-claims vocabulary
  (inpatient_base_claims.R:14-110): dx01..dx26 / dxecode / pc01..
  pc25 fans generated programmatically, provider specialties NULL in
  the 2014 vintage.

Scale: the union is map-only per branch; the single DISTINCT is the
one shuffle (the reference's chained UNIONs re-sort after every
branch).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# generic harmonizer
# ---------------------------------------------------------------------------

def harmonized_stage_union(
    raws: list[tuple[DataFrame, dict[str, str | None]]],
    target_cols: list[str],
    distinct: bool = True,
) -> DataFrame:
    """Union per-vintage extracts into one harmonized stage frame.

    ``raws`` is a list of (df, colmap) where ``colmap`` maps target
    column -> source column (or None for a vintage that lacks it).
    Unmapped targets default to a same-named source column if the
    extract has it, else NULL.
    """
    if not raws:
        raise ValueError("at least one raw extract required")
    branches = []
    for df, colmap in raws:
        cols = []
        for tgt in target_cols:
            src = colmap.get(tgt, tgt if tgt in df.columns else None)
            if src is None or src not in df.columns:
                # vintages missing a mapped column ship it as NULL
                cols.append(F.lit(None).cast("string").alias(tgt))
            else:
                cols.append(F.col(src).alias(tgt))
        branches.append(df.select(*cols))
    out = reduce(lambda a, b: a.unionByName(b), branches)
    if distinct:
        out = out.distinct()
    return out.withColumn("last_run", F.current_timestamp())


# ---------------------------------------------------------------------------
# revenue center (all five filetypes share this shape)
# ---------------------------------------------------------------------------

RC_TARGETS = [
    "id_mcare",
    "claim_header_id",
    "claim_line_id",
    "revenue_code",
    "procedure_code_hcpcs",
    "procedure_code_hcps_modifier_1",
    "procedure_code_hcps_modifier_2",
    "ndc_code",
    "drug_quantity",
    "drug_uom",
    "provider_rendering_npi",
]

_RC_COMMON = {
    "id_mcare": "bene_id",
    "claim_header_id": "clm_id",
    "claim_line_id": "clm_line_num",
    "revenue_code": "rev_cntr",
    "procedure_code_hcpcs": "hcpcs_cd",
    "drug_quantity": "rev_cntr_ndc_qty",
    "drug_uom": "rev_cntr_ndc_qty_qlfr_cd",
}


def rc_vintage_map(vintage: str) -> dict[str, str | None]:
    """Revenue-center target<-source map per extract vintage
    (inpatient_revenue_center.R: the 2014 block :16-30 vs the
    2015+ blocks :32-60)."""
    m = dict(_RC_COMMON)
    if vintage == "2014":
        m.update(
            procedure_code_hcps_modifier_1=None,
            procedure_code_hcps_modifier_2=None,
            ndc_code=None,
            provider_rendering_npi="rndrng_physn_npi",
        )
    else:
        m.update(
            procedure_code_hcps_modifier_1="hcpcs_1st_mdfr_cd",
            procedure_code_hcps_modifier_2="hcpcs_2nd_mdfr_cd",
            ndc_code="rev_cntr_ide_ndc_upc_num",
            provider_rendering_npi=None,
        )
    return m


def build_mcare_revenue_center(
    raws: list[tuple[DataFrame, str]]
) -> DataFrame:
    """``raws`` is [(df, vintage)] with vintage '2014' or '2015+'."""
    return harmonized_stage_union(
        [(df, rc_vintage_map(v)) for df, v in raws], RC_TARGETS
    )


# ---------------------------------------------------------------------------
# base claims
# ---------------------------------------------------------------------------

_DX_FAN = {"dxadmit": "admtg_dgns_cd", "dx01": "prncpal_dgns_cd"}
_DX_FAN.update({f"dx{i + 1:02d}": f"icd_dgns_cd{i}" for i in range(1, 26)})
_DX_FAN["dxecode_1"] = "fst_dgns_e_cd"
_DX_FAN.update({f"dxecode_{i + 1}": f"icd_dgns_e_cd{i}" for i in range(1, 13)})
_PC_FAN = {f"pc{i:02d}": f"icd_prcdr_cd{i}" for i in range(1, 26)}

_BASE_COMMON = {
    "id_mcare": "bene_id",
    "claim_header_id": "clm_id",
    "first_service_date": "clm_from_dt",
    "last_service_date": "clm_thru_dt",
    "denial_code_facility": "clm_mdcr_non_pmt_rsn_cd",
    "claim_type": "nch_clm_type_cd",
    "facility_type_code": "clm_fac_type_cd",
    "service_type_code": "clm_srvc_clsfctn_type_cd",
    "admission_date": "clm_admsn_dt",
    "discharge_date": "nch_bene_dschrg_dt",
    "ipt_admission_type": "clm_ip_admsn_type_cd",
    "ipt_admission_source": "clm_src_ip_admsn_cd",
    "drg_code": "clm_drg_cd",
    "patient_status": "nch_ptnt_status_ind_cd",
    "patient_status_code": "ptnt_dschrg_stus_cd",
    "provider_attending_npi": "at_physn_npi",
    "provider_operating_npi": "op_physn_npi",
    "provider_org_npi": "org_npi_num",
    "provider_other_npi": "ot_physn_npi",
    **_DX_FAN,
    **_PC_FAN,
}

_SPECIALTIES = {
    "provider_attending_specialty": "at_physn_spclty_cd",
    "provider_operating_specialty": "op_physn_spclty_cd",
    "provider_other_specialty": "ot_physn_spclty_cd",
    "provider_rendering_npi": "rndrng_physn_npi",
    "provider_rendering_specialty": "rndrng_physn_spclty_cd",
}

BASE_CLAIMS_TARGETS = list(_BASE_COMMON) + list(_SPECIALTIES)


def base_claims_vintage_map(vintage: str) -> dict[str, str | None]:
    """Base-claims target<-source map per vintage: the 2014 extract
    carries no provider specialties or rendering NPI
    (inpatient_base_claims.R:34-41 null placeholders)."""
    m = dict(_BASE_COMMON)
    if vintage == "2014":
        m.update({k: None for k in _SPECIALTIES})
    else:
        m.update(_SPECIALTIES)
    return m


def build_mcare_base_claims(
    raws: list[tuple[DataFrame, str]],
    extra_targets: list[str] | None = None,
) -> DataFrame:
    """Harmonized facility base-claims stage.  ``extra_targets``
    appends filetype-specific columns (e.g. hha's referring provider
    or sos NPI, mapped by same-name convention or via the per-extract
    colmap defaulting)."""
    targets = BASE_CLAIMS_TARGETS + (extra_targets or [])
    return harmonized_stage_union(
        [(df, base_claims_vintage_map(v)) for df, v in raws], targets
    )


# ---------------------------------------------------------------------------
# carrier (bcarrier) + DME claims — the non-facility stage unions
# (load_stage.mcare_bcarrier_claims.R:10-196, mcare_bcarrier_line.R,
# mcare_dme_line.R). Same three-vintage rename
# pattern as the facility files, but with the carrier dx surface
# (13 dx slots each paired with a version column) and per-line
# rendering-provider vocabulary.
# ---------------------------------------------------------------------------

_CARRIER_DX_FAN: dict[str, str] = {"dx01": "prncpal_dgns_cd",
                                   "dx01_ver": "prncpal_dgns_vrsn_cd"}
for _i in range(1, 13):
    _CARRIER_DX_FAN[f"dx{_i + 1:02d}"] = f"icd_dgns_cd{_i}"
    _CARRIER_DX_FAN[f"dx{_i + 1:02d}_ver"] = f"icd_dgns_vrsn_cd{_i}"

# 2014 bcarrier extract: CCW "encrypted"/spelled-out vocabulary with
# truncated 32-char names (bcarrier_claims.R:24-64)
_CARRIER_DX_FAN_2014: dict[str, str] = {
    "dx01": "primaryclaimdiagnosiscode",
    "dx01_ver": "primaryclaimdiagnosiscodediagnos",
}
_ROMAN = ["i", "ii", "iii", "iv", "v", "vi", "vii", "viii", "ix", "x",
          "xi", "xii"]
for _i, _r in enumerate(_ROMAN, start=2):
    _CARRIER_DX_FAN_2014[f"dx{_i:02d}"] = f"claimdiagnosiscode{_r}"
    _CARRIER_DX_FAN_2014[f"dx{_i:02d}_ver"] = (
        f"claimdiagnosiscode{_r}diagnosisvers"[:32]
    )

BCARRIER_CLAIMS_TARGETS = [
    "id_mcare", "claim_header_id", "first_service_date",
    "last_service_date", "claim_type", "denial_code",
    "provider_billing_npi", "provider_referring_npi",
    "provider_cpo_npi", "provider_sos_npi",
    *_CARRIER_DX_FAN,
]


def bcarrier_claims_vintage_map(vintage: str) -> dict[str, str | None]:
    """Carrier header target<-source map (bcarrier_claims.R: the 2014
    block :24-64 has no billing/CPO/SOS NPI; 2015 'j' :68-108 uses
    abbreviated from_dt/pmtdnlcd names; 2016+ 'k' :112-196 the ResDAC
    vocabulary shared with DME)."""
    if vintage == "2014":
        return {
            "id_mcare": "encrypted723beneficiaryid",
            "claim_header_id": "encryptedclaimid",
            "first_service_date": "claimfromdate",
            "last_service_date": "claimthroughdatedeterminesyearof",
            "claim_type": "nchclaimtypecode",
            "denial_code": "carrierclaimpaymentdenialcode",
            "provider_billing_npi": None,
            "provider_referring_npi": "carrierclaimreferingphysiciannpi",
            "provider_cpo_npi": None,
            "provider_sos_npi": None,
            **_CARRIER_DX_FAN_2014,
        }
    common = {
        "id_mcare": "bene_id",
        "claim_header_id": "clm_id",
        "provider_billing_npi": "carr_clm_blg_npi_num",
        "provider_cpo_npi": "cpo_org_npi_num",
        "provider_sos_npi": "carr_clm_sos_npi_num",
        **_CARRIER_DX_FAN,
    }
    if vintage == "2015":
        return {
            **common,
            "first_service_date": "from_dt",
            "last_service_date": "thru_dt",
            "claim_type": "clm_type",
            "denial_code": "pmtdnlcd",
            "provider_referring_npi": "rfr_npi",
        }
    return {
        **common,
        "first_service_date": "clm_from_dt",
        "last_service_date": "clm_thru_dt",
        "claim_type": "nch_clm_type_cd",
        "denial_code": "carr_clm_pmt_dnl_cd",
        "provider_referring_npi": "rfr_physn_npi",
    }


BCARRIER_LINE_TARGETS = [
    "id_mcare", "claim_header_id", "claim_line_id",
    "provider_rendering_npi", "provider_org_npi",
    "provider_rendering_type", "provider_rendering_tin",
    "provider_rendering_zip", "provider_rendering_specialty",
    "type_of_service", "place_of_service_code",
    "procedure_code_hcpcs", "procedure_code_hcps_modifier_1",
    "procedure_code_hcps_modifier_2", "procedure_code_betos",
    "provider_billing_zip",
]


def bcarrier_line_vintage_map(vintage: str) -> dict[str, str | None]:
    """Carrier line target<-source map (bcarrier_line.R: 2014 'j' and
    2015 'k' share the spelled-out vocabulary — 2014 lacks the billing
    zip; 2016+ uses the ResDAC short names)."""
    if vintage in ("2014", "2015"):
        return {
            "id_mcare": "encrypted723beneficiaryid",
            "claim_header_id": "encryptedclaimid",
            "claim_line_id": "claimlinenumber",
            "provider_rendering_npi": "carrierlineperformingnpinumber",
            "provider_org_npi": "carrierlineperforminggroupnpinum",
            "provider_rendering_type": "carrierlineprovidertypecode",
            "provider_rendering_tin": "lineprovidertaxnumber",
            "provider_rendering_zip": "carrierlineperformingproviderzip",
            "provider_rendering_specialty": "linehcfaproviderspecialtycode",
            "type_of_service": "linehcfatypeservicecode",
            "place_of_service_code": "lineplaceofservicecode",
            "procedure_code_hcpcs": "linehealthcarecommonprocedurecod",
            "procedure_code_hcps_modifier_1": "linehcpcsinitialmodifiercode",
            "procedure_code_hcps_modifier_2": "linehcpcssecondmodifiercode",
            "procedure_code_betos": "linenchbetoscode",
            "provider_billing_zip": (
                None if vintage == "2014"
                else "lineplaceofserviceposphysicianzi"
            ),
        }
    return {
        "id_mcare": "bene_id",
        "claim_header_id": "clm_id",
        "claim_line_id": "line_num",
        "provider_rendering_npi": "prf_physn_npi",
        "provider_org_npi": "org_npi_num",
        "provider_rendering_type": "carr_line_prvdr_type_cd",
        "provider_rendering_tin": "tax_num",
        "provider_rendering_zip": "prvdr_zip",
        "provider_rendering_specialty": "prvdr_spclty",
        "type_of_service": "line_cms_type_srvc_cd",
        "place_of_service_code": "line_place_of_srvc_cd",
        "procedure_code_hcpcs": "hcpcs_cd",
        "procedure_code_hcps_modifier_1": "hcpcs_1st_mdfr_cd",
        "procedure_code_hcps_modifier_2": "hcpcs_2nd_mdfr_cd",
        "procedure_code_betos": "betos_cd",
        "provider_billing_zip": "physn_zip_cd",
    }


# DME extracts exist only in the 'k' vocabulary (dme_line.R: every
# year block is identical renames).
DME_LINE_TARGETS = [
    "id_mcare", "claim_header_id", "claim_line_id", "type_of_service",
    "place_of_service_code", "procedure_code_hcpcs",
    "procedure_code_hcps_modifier_1", "procedure_code_hcps_modifier_2",
    "procedure_code_hcps_modifier_3", "procedure_code_hcps_modifier_4",
    "procedure_code_betos", "provider_supplier_npi",
]

DME_LINE_MAP: dict[str, str | None] = {
    "id_mcare": "bene_id",
    "claim_header_id": "clm_id",
    "claim_line_id": "line_num",
    "type_of_service": "line_cms_type_srvc_cd",
    "place_of_service_code": "line_place_of_srvc_cd",
    "procedure_code_hcpcs": "hcpcs_cd",
    "procedure_code_hcps_modifier_1": "hcpcs_1st_mdfr_cd",
    "procedure_code_hcps_modifier_2": "hcpcs_2nd_mdfr_cd",
    "procedure_code_hcps_modifier_3": "hcpcs_3rd_mdfr_cd",
    "procedure_code_hcps_modifier_4": "hcpcs_4th_mdfr_cd",
    "procedure_code_betos": "betos_cd",
    "provider_supplier_npi": "prvdr_npi",
}


def build_mcare_bcarrier_claims(
    raws: list[tuple[DataFrame, str]]
) -> DataFrame:
    """``raws`` is [(df, vintage)] with vintage '2014'/'2015'/'2016+'."""
    return harmonized_stage_union(
        [(df, bcarrier_claims_vintage_map(v)) for df, v in raws],
        BCARRIER_CLAIMS_TARGETS,
    )


def build_mcare_bcarrier_line(
    raws: list[tuple[DataFrame, str]]
) -> DataFrame:
    return harmonized_stage_union(
        [(df, bcarrier_line_vintage_map(v)) for df, v in raws],
        BCARRIER_LINE_TARGETS,
    )


def build_mcare_dme_line(raws: list[DataFrame]) -> DataFrame:
    return harmonized_stage_union(
        [(df, DME_LINE_MAP) for df in raws], DME_LINE_TARGETS
    )

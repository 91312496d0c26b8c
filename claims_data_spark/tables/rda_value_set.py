"""RDA behavioral-health value-set reference assembly
(reference: ``ref/tables/load_ref.rda_value_sets_apde.R:52-1029``).

The reference script ingests the WA RDA (Research & Data Analysis)
mental-health / SUD value sets, normalizes the code vocabulary, and
assigns every code a BH ``sub_group_condition`` (mh_* / sud_*) driven
by CCS detail categories with code-level carve-outs.  Here that
becomes a declarative rule catalog compiled into ONE codegen
``CASE WHEN`` chain (ordered, first-match-wins — exactly dplyr
``case_when`` semantics), so the assignment runs JVM-side with no
shuffle; the only exchanges are the broadcast join to the ICD-CM
reference and the final distinct collapse.

Pipeline (function per step):

1. :func:`normalize_value_set_codes` — desc upcase/squish, ICDCM ->
   ICD9CM/ICD10CM split, ICD-9 trailing-zero pad to 5, NDC leading
   -zero pad to 11, distinct, per-code longest-raw pick (:593-662).
2. :func:`assign_icd_subgroups` — CCS-driven condition rules
   (:680-828) + manual recode fallback.
3. :func:`assign_pharmacy_subgroups` — curated drug-name lists ->
   pharm_* (:830-905) then pharm_* -> condition map.
4. :func:`no_harms_extra_codes` — the 66 APDE-added ICD-10 self-harm
   codes (:911-946).
5. :func:`build_ref_rda_value_set` — bind existing + new + extras,
   distinct ignoring desc, the mh_disrupt->mh_other reclass drop,
   and the MOUD procedure append with ``oud_dx1_flag`` (:949-1000).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from claims_data_spark.schema import local_frame

ICD_SETS = ("ICD9CM", "ICD10CM")

# ---------------------------------------------------------------------------
# step 3: vocabulary normalization
# ---------------------------------------------------------------------------

_E_INJURY_DESC = "POISON|INJURY|INJURIES|INJ|INJU|POIS|SELF"


def classify_icdcm(code_set: Column, code: Column, desc: Column) -> Column:
    """Split the RDA's undifferentiated 'ICDCM' label into version
    -specific sets (:602-609): leading digit -> ICD-9; leading E with
    an injury/poisoning description -> ICD-9 E-code; leading V ->
    ICD-9; any other letter -> ICD-10."""
    is_icdcm = code_set == "ICDCM"
    return (
        F.when(is_icdcm & code.rlike(r"^[0-9]"), "ICD9CM")
        .when(
            is_icdcm & code.rlike(r"^E") & desc.rlike(_E_INJURY_DESC),
            "ICD9CM",
        )
        .when(is_icdcm & code.rlike(r"^V"), "ICD9CM")
        .when(is_icdcm & code.rlike(r"^[A-Za-z]"), "ICD10CM")
        .otherwise(code_set)
    )


def normalize_value_set_codes(df: DataFrame) -> DataFrame:
    """Steps 3 of the reference (:593-662): normalize desc + code
    vocabularies, then collapse ICD codes that became identical after
    padding by keeping the row whose RAW code was longest (rank with
    ties-first == row_number over a deterministic order).

    Expects columns: value_set_group, value_set_name,
    data_source_type, code_set, code, desc.
    """
    from pyspark.sql import Window

    desc = F.upper(F.regexp_replace(F.trim(F.col("desc")), r"\s+", " "))
    d = df.withColumn("desc", desc)
    d = d.withColumn(
        "code_set", classify_icdcm(F.col("code_set"), F.col("code"), F.col("desc"))
    )
    code = F.col("code")
    icd9 = F.col("code_set") == "ICD9CM"
    ndc = F.col("code_set") == "NDC"
    d = d.withColumn("code_raw", code).withColumn(
        "code",
        F.when(icd9 & (F.length(code) == 3), F.concat(code, F.lit("00")))
        .when(icd9 & (F.length(code) == 4), F.concat(code, F.lit("0")))
        .when(ndc, F.lpad(code, 11, "0"))
        .otherwise(code),
    )
    # one exchange serves the distinct (its keys contain code_set/code)
    # AND the per-code longest-raw window below — without it each plans
    # its own shuffle (two AQE stage jobs for a reference-sized frame)
    d = d.repartition("code_set", "code")
    d = d.distinct()
    # per normalized ICD code keep the longest raw form (:641-652)
    w = Window.partitionBy("code_set", "code").orderBy(
        F.length("code_raw").desc(), F.col("code_raw")
    )
    d = d.withColumn(
        "_rk",
        F.when(
            F.col("code_set").isin(*ICD_SETS), F.row_number().over(w)
        ).otherwise(1),
    )
    d = d.filter(F.col("_rk") == 1).drop("_rk", "code_raw")
    return d.withColumn(
        "icdcm_version",
        F.when(F.col("code_set") == "ICD9CM", 9)
        .when(F.col("code_set") == "ICD10CM", 10)
        .cast("int"),
    )


# ---------------------------------------------------------------------------
# step 4: CCS-driven condition sub-groups (:690-828)
# Rule tuple: (ccs_detail_codes, code_in, code_prefix_regex,
#              desc_regex, sub_group). First match wins.
# ---------------------------------------------------------------------------

ICD_SUBGROUP_RULES: list[tuple] = [
    (("5.1",), None, None, None, "mh_adjustment"),
    (("MBD005", "5.2", "5.6", "SKN002"), None, None, None, "mh_anxiety"),
    (("MBD002", "INJ074", "INJ058", "EXT012", "EXT001", "EXT002", "EXT003",
      "EXT004", "EXT005", "EXT007", "EXT011", "EXT018", "EXT014", "EXT030",
      "EXT016", "EXT029", "EXT017", "EXT010", "EXT019", "10.3", "INJ073",
      "GEN025", "INJ064", "INJ059", "MBD012", "5.13"),
     None, None, None, "mh_depression"),
    (("MBD008", "5.7"), None, None, None, "mh_disrupt"),
    (("MBD003", "5.8"), None, None, None, "mh_mania_bipolar"),
    (("12.2", "5.10", "MBD001"), None, None, None, "mh_psychotic"),
    (("5.11", "MBD017", "DIG007", "DIG018", "INF007", "CIR005", "MAL010",
      "DIG019", "16.11", "2613"), None, None, None, "sud_alcohol"),
    (("MBD019",), None, None, None, "sud_cannabis"),
    (("MBD022",), None, None, None, "sud_hallucinogen"),
    (("MBD023",), None, None, None, "sud_inhalant"),
    (("MBD018",), None, None, None, "sud_opioid"),
    (("INJ030", "6.9", "MBD025"), None, None, None, "sud_other_substance"),
    (("MBD020",), None, None, None, "sud_sedative"),
    # CCS categories that must be disaggregated by code (:716-790)
    (("5.3",), ("31400", "31401"), None, None, "mh_adhd"),
    (("5.3",), None, None, None, "mh_disrupt"),
    (("INJ075",), ("T510X1S", "T511X1S", "T512X1S", "T513X1S", "T518X1S",
                   "T5191XS"), None, None, "sud_alcohol"),
    (("INJ075",), None, None, None, "mh_depression"),
    (("INJ060",), ("T510X1D", "T511X1D", "T512X1D", "T513X1D", "T518X1D",
                   "T5191XD"), None, None, "sud_alcohol"),
    (("INJ060",), None, None, None, "mh_depression"),
    (("EXT015",), ("T51", "T510", "T510X", "T510X1", "T510X1A", "T511",
                   "T511X", "T511X1", "T511X1A", "T512", "T512X", "T512X1",
                   "T512X1A", "T513", "T513X", "T513X1", "T513X1A", "T518",
                   "T518X", "T518X1", "T518X1A", "T519", "T5191", "T5191XA"),
     None, None, "sud_alcohol"),
    (("EXT015",), None, None, None, "mh_depression"),
    (("MBD026",), ("F304", "F317", "F3170", "F3172", "F3174", "F3176",
                   "F3178"), None, None, "mh_mania_bipolar"),
    (("MBD026",), ("F325", "F334", "F3340", "F3342"), None, None,
     "mh_depression"),
    (("MBD026",), ("F1011", "F1021"), None, None, "sud_alcohol"),
    (("MBD026",), ("F1111", "F1121"), None, None, "sud_opioid"),
    (("MBD026",), ("F1211", "F1221"), None, None, "sud_cannabis"),
    (("MBD026",), ("F1311", "F1321"), None, None, "sud_sedative"),
    (("MBD026",), ("F1411", "F1421"), None, None, "sud_cocaine"),
    (("MBD026",), ("F1511", "F1521"), None, None, "sud_other_stimulant"),
    (("MBD026",), ("F1611", "F1621"), None, None, "sud_hallucinogen"),
    (("MBD026",), ("F1811", "F1821"), None, None, "sud_inhalant"),
    (("MBD026",), ("F1911", "F1921"), None, None, "sud_other_substance"),
    (("MBD014",), ("F90", "F900", "F901", "F902", "F908", "F909"), None,
     None, "mh_adhd"),
    (("MBD014",), ("F948", "F949"), None, None, "mh_anxiety"),
    (("PNL010",), ("P961", "P0449", "P0440", "P044"), None, None,
     "sud_other_substance"),
    (("PNL010",), ("P0481",), None, None, "sud_cannabis"),
    (("PNL010",), ("P0442",), None, None, "sud_hallucinogen"),
    (("PNL010",), ("P0441",), None, None, "sud_cocaine"),
    (("PNL010",), ("P043",), None, None, "sud_alcohol"),
    (("PNL010",), ("P0417",), None, None, "sud_sedative"),
    (("PNL010",), ("P0416",), None, None, "sud_other_stimulant"),
    (("PNL010",), ("P0414",), None, None, "sud_opioid"),
    (("MBD006",), ("F42", "F428", "F429"), None, None, "mh_anxiety"),
    (("MBD006",), ("F422",), None, None, "mh_mania_bipolar"),
    (("MBD006",), ("F423", "F424", "F633"), None, None, "mh_disrupt"),
    (("MBD004",), ("F063", "F0630", "F348", "F349", "F39"), None, None,
     "mh_depression"),
    (("MBD004",), ("F3481",), None, None, "mh_disrupt"),
    (("MBD004",), ("F3489",), None, None, "mh_mania_bipolar"),
    (("FAC012",), ("Z714", "Z7141"), None, None, "sud_alcohol"),
    (("FAC012",), ("Z715", "Z7151"), None, None, "sud_other_substance"),
    (("5.9",), None, None, None, "mh_other"),
    (("MBD021",), None, None, "COCAINE", "sud_cocaine"),
    (("MBD021",), None, None, None, "sud_other_stimulant"),
    (("5.12",), None, "^3040", None, "sud_opioid"),
    (("5.12",), None, "^3041", None, "sud_sedative"),
    (("5.12",), None, "^3042", None, "sud_cocaine"),
    (("5.12",), None, "^3043", None, "sud_cannabis"),
    (("5.12",), None, "^3044", None, "sud_other_stimulant"),
    (("5.12",), None, "^3045", None, "sud_hallucinogen"),
    (("5.12",), None, "^3047", None, "sud_opioid"),
    (("5.12",), None, "^3052", None, "sud_cannabis"),
    (("5.12",), None, "^3053", None, "sud_hallucinogen"),
    (("5.12",), None, "^3054", None, "sud_sedative"),
    (("5.12",), None, "^3055", None, "sud_opioid"),
    (("5.12",), None, "^3056", None, "sud_cocaine"),
    (("5.12",), None, "^3057", None, "sud_other_stimulant"),
    (("5.12",), ("76072",), None, None, "sud_opioid"),
    (("5.12",), ("76073",), None, None, "sud_hallucinogen"),
    (("5.12",), ("76075",), None, None, "sud_cocaine"),
    (("5.12",), None, None, None, "sud_other_substance"),
    (("MBD007",), ("F43", "F430", "F941", "F942"), None, None, "mh_anxiety"),
    (("MBD007",), None, "^F43[189]", None, "mh_anxiety"),
    (("MBD007",), None, "^F432", None, "mh_adjustment"),
    (("MBD013",), ("F63", "F630"), None, None, "mh_disrupt"),
    (("MBD013",), None, None, None, "mh_other"),
]

# manual recode fallback for codes the CCS rules leave null (:810-828)
ICD_SUBGROUP_FALLBACK_RULES: list[tuple] = [
    (("MBD010", "5.15", "MBD011", "MBD009", "NVS011", "SYM008", "SYM016",
      "5.4", "5.5", "15.7", "5.14"), None, None, None, "mh_other"),
    (("MBD007",), None, "^F48|^F44", None, "mh_other"),
    (("MBD014",), ("F988",), None, None, "mh_other"),
    (("MBD006",), ("F4522",), None, None, "mh_other"),
]


def _sql_str(s: str) -> str:
    # Spark SQL string literals treat backslash as an escape by
    # default, so patterns like \d must be doubled or they are
    # silently corrupted when the rule compiles to SQL text.
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _rules_to_case(rules: list[tuple], otherwise_sql: str) -> Column:
    """Compile an ordered rule list into one first-match-wins CASE
    chain (pure codegen — the data-driven twin of the comorbidity
    catalog compiler).

    The chain is assembled as ONE SQL text parsed by a single
    ``F.expr``: building it ``when()``-by-``when()`` through the
    Column API costs a py4j gateway round-trip per call (~75 rules ×
    several conditions ≈ hundreds of crossings, nearly a second of
    driver time per compile, profiled) while the parsed expression
    tree — and therefore the physical plan — is identical.
    ``otherwise_sql`` is a SQL fragment (e.g. ``CAST(NULL AS STRING)``
    or a backticked column)."""
    parts = ["CASE"]
    for ccs_set, code_in, code_re, desc_re, sub in rules:
        conds = [
            "`ccs_detail_code` IN ({})".format(
                ", ".join(_sql_str(c) for c in ccs_set)
            )
        ]
        if code_in is not None:
            conds.append(
                "`code` IN ({})".format(
                    ", ".join(_sql_str(c) for c in code_in)
                )
            )
        if code_re is not None:
            conds.append(f"`code` RLIKE {_sql_str(code_re)}")
        if desc_re is not None:
            conds.append(f"`desc` RLIKE {_sql_str(desc_re)}")
        parts.append(
            "WHEN {} THEN {}".format(" AND ".join(conds), _sql_str(sub))
        )
    parts.append(f"ELSE {otherwise_sql} END")
    return F.expr(" ".join(parts))


def assign_icd_subgroups(
    normalized: DataFrame, ref_icdcm: DataFrame
) -> DataFrame:
    """Step 4 (:663-828): broadcast-join the ICD-CM reference to get
    CCS detail categories, then run the two ordered rule catalogs.
    Non-ICD rows pass through untouched.

    Pre-assigned rows (the NO-HARMS extras, union-ed in upstream with
    a non-null ``sub_group_condition`` and ``_fill_desc`` = 1) keep
    their condition and take their description from the SAME ref
    broadcast — folding what used to be a second broadcast stage (its
    own AQE job) into this join."""
    ref = ref_icdcm.select(
        F.col("icdcm").alias("code"),
        "icdcm_version",
        "ccs_detail_code",
        F.upper(F.col("icdcm_description")).alias("_ref_desc"),
    )
    d = normalized.join(
        F.broadcast(ref), ["code", "icdcm_version"], "left"
    )
    if "_fill_desc" in normalized.columns:
        d = d.withColumn(
            "desc",
            F.when(F.col("_fill_desc") == 1, F.col("_ref_desc"))
            .otherwise(F.col("desc")),
        ).drop("_fill_desc")
    pre = (
        F.col("sub_group_condition")
        if "sub_group_condition" in normalized.columns
        else F.lit(None).cast("string")
    )
    primary = _rules_to_case(
        ICD_SUBGROUP_RULES, "CAST(NULL AS STRING)"
    )
    d = d.withColumn(
        "sub_group_condition",
        F.coalesce(
            pre, F.when(F.col("code_set").isin(*ICD_SETS), primary)
        ),
    )
    fallback = _rules_to_case(
        ICD_SUBGROUP_FALLBACK_RULES, "`sub_group_condition`"
    )
    return d.withColumn(
        "sub_group_condition",
        F.when(
            F.col("code_set").isin(*ICD_SETS)
            & F.col("sub_group_condition").isNull(),
            fallback,
        ).otherwise(F.col("sub_group_condition")),
    ).drop("ccs_detail_code", "_ref_desc")


# ---------------------------------------------------------------------------
# step 5: pharmacy sub-groups (:830-905)
# ---------------------------------------------------------------------------

PHARM_MANUAL_DESC: dict[str, str] = {
    "METHYLPHENIDATE": "pharm_adhd",
    "DICLOFENAC SODIUM DR": "pharm_adhd",
    "LISDEXAMFETAMINE DIMESYLATE": "pharm_adhd",
    "GUANFACINE HYDROCHLORIDE ER": "pharm_adhd",
    "RELEXXII": "pharm_adhd",
    "AMPHETAMINE/DEXTROAMPHETAMINE ER": "pharm_adhd",
    "VILAZODONE HYDROCHLORIDE": "pharm_antidepressant",
    "VENLAFAXINE BESYLATE ER": "pharm_antidepressant",
    "ABILIFY MYCITE STARTER KIT": "pharm_antidepressant",
    "ABILIFY MYCITE MAINTENANCE KIT": "pharm_antidepressant",
    "AUVELITY": "pharm_antidepressant",
    "ZURZUVAE": "pharm_antidepressant",
    "INVEGA HAFYERA": "pharm_antipsychotic",
    "LURASIDONE HYDROCHLORIDE": "pharm_antipsychotic",
    "RYKINDO": "pharm_antipsychotic",
    "RISPERIDONE ER": "pharm_antipsychotic",
    "UZEDY": "pharm_antipsychotic",
    "ABILIFY ASIMTUFII": "pharm_antipsychotic",
    "LOREEV XR": "pharm_antianxiety",
    "BRIXADI": "pharm_buprenorphine",
}

# curated sub_group_pharmacy label -> pharm_* slug (:846-858)
PHARM_LABEL_MAP: dict[str, str] = {
    "Acamprosate": "pharm_acamprosate",
    "Disulfiram": "pharm_disulfiram",
    "ADHD Rx": "pharm_adhd",
    "Antianxiety Rx": "pharm_antianxiety",
    "Antidepressants Rx": "pharm_antidepressant",
    "Antimania Rx": "pharm_antimania",
    "Antipsychotic Rx": "pharm_antipsychotic",
    "Buprenorphine-Naloxone": "pharm_buprenorphine_naloxone",
    "Buprenorphine": "pharm_buprenorphine",
    "Naltrexone": "pharm_naltrexone_rx",
}

PHARM_CONDITION_MAP: dict[str, str] = {
    "pharm_acamprosate": "sud_alcohol",
    "pharm_disulfiram": "sud_alcohol",
    "pharm_adhd": "mh_adhd",
    "pharm_antianxiety": "mh_anxiety",
    "pharm_antidepressant": "mh_depression",
    "pharm_antimania": "mh_mania_bipolar",
    "pharm_antipsychotic": "mh_psychotic",
    "pharm_buprenorphine_naloxone": "sud_opioid",
    "pharm_buprenorphine": "sud_opioid",
    "pharm_naltrexone_rx": "sud_opioid",
}


def assign_pharmacy_subgroups(
    df: DataFrame, sub_group_pharmacy: DataFrame
) -> DataFrame:
    """Step 5 (:830-905): curated drug-name dimension broadcast-joined
    on upper-cased description, then the manual-recode map and two
    regex fallbacks (NALTREXONE / DISULFIRAM substring), then the
    pharm_* -> condition mapping.  ``sub_group_pharmacy`` carries
    (desc_1, sub_group_pharmacy-label)."""
    # No distinct here: an exact-duplicate (desc, label) pair in the
    # curated table fans the join out into IDENTICAL rows, which the
    # builder's final keep-first collapse removes anyway — the distinct
    # bought nothing but its own shuffle stage (one AQE job). A same-
    # desc DIFFERENT-label conflict survived the old distinct too, so
    # semantics are unchanged.
    cur = sub_group_pharmacy.select(
        F.upper(F.col("desc_1")).alias("desc"),
        F.col("sub_group_pharmacy").alias("_label"),
    )
    label_map = F.create_map(
        *[F.lit(x) for kv in PHARM_LABEL_MAP.items() for x in kv]
    )
    manual_map = F.create_map(
        *[F.lit(x) for kv in PHARM_MANUAL_DESC.items() for x in kv]
    )
    is_rx = F.col("data_source_type") == "pharmacy"
    d = df.join(F.broadcast(cur), "desc", "left")
    d = d.withColumn(
        "sub_group_pharmacy",
        F.when(
            is_rx,
            F.coalesce(
                label_map[F.col("_label")],
                manual_map[F.col("desc")],
                F.when(F.col("desc").contains("NALTREXONE"),
                       "pharm_naltrexone_rx"),
                F.when(F.col("desc").contains("DISULFIRAM"),
                       "pharm_disulfiram"),
            ),
        ),
    ).drop("_label")
    cond_map = F.create_map(
        *[F.lit(x) for kv in PHARM_CONDITION_MAP.items() for x in kv]
    )
    return d.withColumn(
        "sub_group_condition",
        F.when(
            is_rx & F.col("sub_group_pharmacy").isNotNull(),
            cond_map[F.col("sub_group_pharmacy")],
        ).otherwise(F.col("sub_group_condition")),
    )


# ---------------------------------------------------------------------------
# step 5b + 6 + 6b: extras, collapse, MOUD append (:911-1000)
# ---------------------------------------------------------------------------

NO_HARMS_ICD10_CODES = [
    "T43652", "T43652A", "T43652D", "T43652S", "T45AX2A", "T45AX2D",
    "T45AX2S", "T4792X", "X738XX", "X739XX", "X7401X", "X7402X", "X7409X",
    "X748XX", "X749XX", "X75XXX", "X76XXX", "X770XX", "X771XX", "T4592X",
    "X710XX", "X711XX", "X712XX", "X713XX", "X718XX", "X719XX", "X72XXX",
    "X730XX", "T3692X", "T3792X", "T3992X", "X781XX", "X782XX", "X788XX",
    "X789XX", "X79XXX", "X80XXX", "X810XX", "X811XX", "X818XX", "X820XX",
    "X821XX", "X822XX", "X828XX", "X830XX", "X731XX", "X732XX", "X838XX",
    "X772XX", "X773XX", "X778XX", "X779XX", "X780XX", "T1491X", "T56822A",
    "T56822D", "T56822S", "X831XX", "X832XX", "T40412", "T40422", "T40492",
    "T4272X", "T4392X", "T4142X", "T4992X",
]

# codes reclassified mh_disrupt -> mh_other in the Jan-2026 update; the
# stale mh_disrupt rows are dropped at collapse time (:963-970)
RECLASSIFIED_DISRUPT_CODES = [
    "F068", "F09", "F488", "F489", "F54", "F59", "F938", "F939", "F989",
    "F99", "O9934", "O99340", "O99341", "O99342", "O99343", "O99344",
    "O99345",
]

# MOUD procedure codes whose primary-dx requirement flag is 1 (:984-991)
MOUD_DX1_CODES = ("H0033", "96372", "11981", "11983", "G0516", "G0518",
                  "G2073", "J2315")


def no_harms_extra_codes(spark, ref_icdcm: DataFrame | None = None) -> DataFrame:
    """Step 5b: the 66 APDE-added ICD-10 self-harm codes. Descriptions
    come from the main assignment join (``_fill_desc`` marker), NOT a
    second broadcast of the ICD-CM reference — when ``ref_icdcm`` is
    passed (standalone use) the old direct describe-join shape runs.
    The rows are a driver-local frame (:func:`local_frame`), so scanning
    them runs no Python worker tasks."""
    rows = [("mh", "apde-added-diagnosis", "diagnosis", "ICD10CM", c, 10,
             "mh_other") for c in NO_HARMS_ICD10_CODES]
    schema = ("value_set_group string, value_set_name string,"
              " data_source_type string, code_set string, code string,"
              " icdcm_version int, sub_group_condition string")
    if ref_icdcm is None:
        return local_frame(spark, [r + (None, 1) for r in rows],
                           schema + ", desc string, _fill_desc int")
    descs = ref_icdcm.filter(F.col("icdcm_version") == 10).select(
        F.col("icdcm").alias("code"),
        F.upper(F.col("icdcm_description")).alias("desc"),
    )
    return local_frame(spark, rows, schema).join(
        F.broadcast(descs), "code", "left"
    )


def moud_procedure_rows(moud_proc: DataFrame) -> DataFrame:
    """Step 6b: MOUD procedure codes (not from RDA) appended with the
    HCPCS code set and the ``oud_dx1_flag`` primary-dx marker."""
    return moud_proc.select(
        F.lit("sud").alias("value_set_group"),
        F.lit("apde-moud-procedure").alias("value_set_name"),
        F.lit("procedure").alias("data_source_type"),
        F.lit("HCPCS").alias("code_set"),
        F.col("procedure_code").alias("code"),
        F.upper(F.col("desc")).alias("desc"),
        F.lit("sud_opioid").alias("sub_group_condition"),
        F.col("procedure_code").isin(*MOUD_DX1_CODES).cast("int")
        .alias("oud_dx1_flag"),
    )


def build_ref_rda_value_set(
    spark,
    new_raw: DataFrame,
    ref_icdcm: DataFrame,
    sub_group_pharmacy: DataFrame,
    moud_proc: DataFrame | None = None,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Full assembly (:52-1000).  The distinct collapse ignores the
    description column (dplyr ``distinct(across(-desc),
    .keep_all=TRUE)`` — descriptions drift between RDA releases), so
    it is a row_number-keep-first over every other column.
    """
    from pyspark.sql import Window

    d = normalize_value_set_codes(new_raw)
    # NO-HARMS extras join the stream BEFORE assignment so their
    # descriptions ride the one ref_icdcm broadcast (they carry a
    # pre-set condition the rule CASE must not overwrite, and a
    # _fill_desc marker the assignment join resolves)
    d = d.withColumns(
        {"sub_group_condition": F.lit(None).cast("string"),
         "_fill_desc": F.lit(0)}
    ).unionByName(no_harms_extra_codes(spark))
    d = assign_icd_subgroups(d, ref_icdcm)
    d = assign_pharmacy_subgroups(d, sub_group_pharmacy)
    d = d.withColumn("oud_dx1_flag", F.lit(None).cast("int"))
    parts = [d]
    if existing is not None:
        parts.insert(0, existing)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    keys = [c for c in out.columns if c != "desc"]
    w = Window.partitionBy(*keys).orderBy(F.col("desc").asc_nulls_last())
    out = (
        # explicit low-cardinality-safe partitioning the window AND the
        # typical downstream rollups (per code_set/value_set/condition)
        # can all reuse: the union above erased child partitioning, so
        # without this the window plans its own 8-key exchange and any
        # caller aggregate plans another
        out.repartition("code_set", "value_set_name",
                        "sub_group_condition")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = out.filter(
        ~(
            F.col("code").isin(*RECLASSIFIED_DISRUPT_CODES)
            & (F.col("sub_group_condition") == "mh_disrupt")
        )
    )
    if moud_proc is not None:
        out = out.unionByName(
            moud_procedure_rows(moud_proc), allowMissingColumns=True
        )
    return out


def qa_rda_value_set(df: DataFrame) -> dict:
    """The reference's scattered count checks fused into one pass:
    ICD/NDC codes with >1 row (expect 0 each), ICD-9 codes not 5 long,
    NDC codes not 11 long, diagnosis rows without a condition."""
    per_code = df.groupBy("code_set", "code").agg(
        F.count(F.lit(1)).alias("rows"),
        F.max(
            F.when(
                (F.col("code_set") == "ICD9CM") & (F.length("code") != 5), 1
            ).otherwise(0)
        ).alias("bad_icd9_len"),
        F.max(
            F.when(
                (F.col("code_set") == "NDC") & (F.length("code") != 11), 1
            ).otherwise(0)
        ).alias("bad_ndc_len"),
        F.max(
            F.when(
                F.col("code_set").isin(*ICD_SETS)
                & F.col("sub_group_condition").isNull(),
                1,
            ).otherwise(0)
        ).alias("null_condition"),
    )
    row = per_code.agg(
        F.sum(
            F.when(
                (F.col("rows") > 1)
                & F.col("code_set").isin("ICD9CM", "ICD10CM", "NDC"),
                1,
            ).otherwise(0)
        ).alias("dup_codes"),
        F.sum("bad_icd9_len").alias("bad_icd9_len"),
        F.sum("bad_ndc_len").alias("bad_ndc_len"),
        F.sum("null_condition").alias("null_condition"),
    ).first()
    return {
        k: int(row[k] or 0)
        for k in ("dup_codes", "bad_icd9_len", "bad_ndc_len",
                  "null_condition")
    }

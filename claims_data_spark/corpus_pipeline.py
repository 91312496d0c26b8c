"""End-to-end training-data release pipeline.

The LLM-data analog of the four claims master orchestrators in
:mod:`claims_data_spark.pipeline`: one lazy DAG from a raw document
corpus to a release-ready training set, with the reference's
QA-gate-between-stages discipline (``db_loader``'s master-script
shape applied to corpus curation). Stage order follows pipeline
practice — cheap row-local gates first, so every shuffle downstream
only sees survivors:

1. **clean** — quality / blocklist / language / exact-dedup statuses
   (:func:`operators.corpus.clean_corpus`), every rejection
   attributed.
2. **decontaminate** — exact benchmark n-gram gate
   (:func:`operators.corpus.decontaminate`) then the MinHash-banded
   fuzzy gate (:func:`operators.corpus.fuzzy_decontaminate`) for
   paraphrased leakage.
3. **rebalance** — downsample-only mixture targeting
   (:func:`operators.corpus.mix_rebalance`; doc- or token-weighted).
4. **split** — deterministic grouped train/val/test assignment
   (:func:`operators.corpus.assign_splits`) with a leakage audit.
5. **card** — the one-scan release summary
   (:func:`operators.corpus.corpus_report`).

QA gates (each an invariant of the stage above it, not a re-test of
its unit suite): status-partition completeness, a zero-hit re-probe
of the decontaminated survivors, rate-validity + absent-untargeted
strata after rebalance, exhaustive-and-disjoint split assignment with
zero cross-split group leakage, and card totals equal to the final
count. ``strict_qa=True`` raises on the first FAIL, mirroring the
claims masters.

Scale: every stage is the already-plan-audited operator; the pipeline
adds no new shuffle of its own. The QA actions are the only
materializations, each a count/aggregate over dimension-sized or
survivor-sized frames.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from claims_data_spark.pipeline import cache_stage
from claims_data_spark.qa import QaResult, gate as qa_gate


def run_corpus_pipeline(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    strata_col: str = "source",
    min_quality: float = 0.5,
    lang: str = "en",
    min_lang_hits: int = 1,
    blocklist: list[str] | None = None,
    decontaminate_n: int = 13,
    fuzzy_threshold: float = 0.8,
    fuzzy_hashes: int = 32,
    fuzzy_bands: int = 8,
    target_mix: dict | None = None,
    weight_col: str | None = None,
    split_weights: dict | None = None,
    split_group_col: str | None = None,
    export_path: str | None = None,
    export_shards_n: int = 16,
    seed: str = "release",
    strict_qa: bool = True,
) -> dict:
    """Run the full release pipeline; returns ``{"docs": final_df,
    "qa": [(stage, (check, ok, note)), ...], "card": card_df,
    "rejected": {stage: count}}``. Stages without inputs are skipped
    (no ``benchmark`` -> no decontamination; no ``target_mix`` -> no
    rebalance), so the pipeline degrades to exactly the stages the
    caller configured."""
    from claims_data_spark.operators.corpus import (
        assign_splits,
        clean_corpus,
        corpus_report,
        decontaminate,
        fuzzy_decontaminate,
        mix_rebalance,
        split_leakage_report,
    )

    # resolve the benchmark id column explicitly, BEFORE any stage
    # runs — a positional guess (columns[0]) can silently pick the
    # TEXT column when a benchmark frame lists it first, producing
    # meaningless audit rows instead of failing loudly
    if benchmark is not None:
        if bench_id_col is None:
            if "bench_id" in benchmark.columns:
                bench_id_col = "bench_id"
            else:
                raise ValueError(
                    "bench_id_col is required when the benchmark frame "
                    "has no 'bench_id' column; got columns "
                    f"{benchmark.columns}"
                )
        elif bench_id_col not in benchmark.columns:
            raise ValueError(
                f"bench_id_col={bench_id_col!r} not in benchmark columns "
                f"{benchmark.columns}"
            )

    qa: list[tuple[str, QaResult]] = []
    rejected: dict[str, int] = {}
    gate = partial(qa_gate, qa, strict=strict_qa)
    # every stage boundary is read multiple times (its own QA actions
    # plus every downstream stage) — without a cache the gate actions
    # recompute the full upstream lineage each time, turning a 5-stage
    # pipeline quadratic in stages (measured at sf1: 138 s -> 54 s from
    # these caches alone). Intermediate frames unpersist before
    # returning; the final frame stays cached for the caller's first
    # actions.
    held: list[DataFrame] = []
    stage = partial(cache_stage, held=held)

    n_in = docs.count()

    # ---- stage 1: clean ------------------------------------------------
    kept, report = clean_corpus(
        docs, id_col, text_col,
        min_quality=min_quality, lang=lang, min_lang_hits=min_lang_hits,
        **({"blocklist": blocklist} if blocklist else {}),
    )
    status_counts = {r["status"]: r["docs"] for r in report.collect()}
    n_kept = status_counts.get("kept", 0)
    rejected["clean"] = n_in - n_kept
    # the status frame must partition the input: one attributed
    # outcome per document, nothing dropped silently
    gate(
        "clean",
        (
            "status-partition-complete",
            sum(status_counts.values()) == n_in,
            f"statuses={status_counts} in={n_in}",
        ),
        ("kept-nonempty", n_kept > 0, f"kept={n_kept}"),
    )
    cur = stage(kept)

    # ---- stage 2: decontaminate ---------------------------------------
    if benchmark is not None:
        clean_exact, contaminated = decontaminate(
            cur, benchmark, id_col=id_col, text_col=text_col,
            n=decontaminate_n,
        )
        rejected["decontaminate"] = contaminated.count()
        # invariant, not a re-test: re-probing the survivors must find
        # ZERO remaining benchmark n-grams (the operator is
        # deterministic, so a non-empty re-probe means the keep filter
        # lost rows)
        _, recheck = decontaminate(
            clean_exact, benchmark, id_col=id_col, text_col=text_col,
            n=decontaminate_n,
        )
        n_re = recheck.count()
        gate(
            "decontaminate",
            ("survivors-reprobe-zero", n_re == 0, f"residual_hits={n_re}"),
        )
        clean_fuzzy, near = fuzzy_decontaminate(
            clean_exact, benchmark, id_col=id_col, text_col=text_col,
            bench_id_col=bench_id_col,
            bench_text_col=text_col,
            jaccard_threshold=fuzzy_threshold,
            num_hashes=fuzzy_hashes,
            bands=fuzzy_bands,
        )
        rejected["fuzzy_decontaminate"] = near.count()
        # exact copies of benchmark docs are GUARANTEED candidates
        # (identical signatures collide in every band), so none may
        # survive the fuzzy gate
        exact_survivors = (
            clean_fuzzy
            .join(
                benchmark.select(
                    F.md5(F.regexp_replace(
                        F.lower(F.trim(F.col(text_col))), r"\s+", " "
                    )).alias("_bfp")
                ).distinct(),
                F.md5(F.regexp_replace(
                    F.lower(F.trim(F.col(text_col))), r"\s+", " "
                )) == F.col("_bfp"),
                "left_semi",
            )
            .count()
        )
        gate(
            "fuzzy_decontaminate",
            (
                "no-exact-benchmark-copy-survives",
                exact_survivors == 0,
                f"violations={exact_survivors}",
            ),
        )
        cur = stage(clean_fuzzy)

    # ---- stage 3: rebalance ---------------------------------------------
    if target_mix:
        before = cur.count()
        cur = stage(mix_rebalance(
            cur, strata_col, target_mix, id_col=id_col,
            seed=f"{seed}-mix", weight_col=weight_col,
        ))
        after_counts = {
            r[strata_col]: r["n"]
            for r in cur.groupBy(strata_col)
            .agg(F.count("*").alias("n")).collect()
        }
        rejected["rebalance"] = before - sum(after_counts.values())
        rates = cur.select(strata_col, "keep_rate").distinct().collect()
        gate(
            "rebalance",
            (
                "untargeted-strata-absent",
                set(after_counts) <= set(target_mix),
                f"strata={sorted(after_counts)}",
            ),
            (
                "rates-in-(0,1]",
                all(0 < r["keep_rate"] <= 1.0 for r in rates),
                f"rates={[(r[strata_col], r['keep_rate']) for r in rates]}",
            ),
        )
        cur = cur.drop("keep_rate")

    # ---- stage 4: split ---------------------------------------------------
    if split_weights:
        cur = stage(assign_splits(
            cur, split_weights, id_col=id_col,
            group_col=split_group_col, seed=f"{seed}-split",
        ))
        split_counts = {
            r["split"]: r["n"]
            for r in cur.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        n_cur = sum(split_counts.values())
        checks = [
            (
                "splits-exhaustive-and-known",
                set(split_counts) <= set(split_weights)
                and n_cur == cur.count(),
                f"splits={split_counts}",
            ),
        ]
        if split_group_col:
            leaks = split_leakage_report(
                cur, group_col=split_group_col
            ).filter(F.col("n_splits") > 1).count()
            checks.append(
                ("zero-group-leakage", leaks == 0, f"leaking_groups={leaks}")
            )
        gate("split", *checks)

    # ---- stage 5: card ------------------------------------------------------
    card = corpus_report(cur, id_col=id_col, text_col=text_col)
    card_row = card.collect()[0]
    n_final = cur.count()
    gate(
        "card",
        (
            "card-total-equals-final-count",
            int(card_row["n_docs"]) == n_final,
            f"card={card_row['n_docs']} final={n_final}",
        ),
    )
    # ---- stage 6 (optional): verified shard export ---------------------
    manifest = None
    if export_path:
        from claims_data_spark.sources.io import export_shards

        # export_shards re-derives the manifest FROM THE WRITTEN FILES
        # and raises on mismatch — the S5 copy-QA contract; surface its
        # success as a gate row so the release log is self-contained
        manifest = export_shards(
            cur.sparkSession, cur, export_path, id_col=id_col,
            num_shards=export_shards_n, text_col=text_col,
            seed=f"{seed}-shard",
        )
        exported = sum(m["n_docs"] for m in manifest)
        gate(
            "export",
            (
                "manifest-verified-and-complete",
                exported == n_final,
                f"exported={exported} final={n_final} "
                f"shards={len(manifest)}",
            ),
        )

    for df in held:
        if df is not cur:
            df.unpersist()
    return {
        "docs": cur, "qa": qa, "card": card, "rejected": rejected,
        "manifest": manifest,
    }

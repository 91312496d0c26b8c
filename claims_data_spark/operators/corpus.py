"""Composed training-corpus cleaning pipeline.

The individual stages (language ID, quality scoring, exact dedup,
near-dup banding) each exist as operators; this module composes them
the way a real LLM-training-data pipeline runs them — cheap row-local
filters FIRST so the one shuffle (the dedup fingerprint window) only
sees survivors, and every rejected row keeps an attributed status so
the pipeline is auditable (what fraction died at which gate).

Plan shape: one narrow projection (quality + language hits +
fingerprint, all codegen), one window shuffle on the fingerprint over
the gate-passing subset, one tiny aggregate for the report. At 100 TB
the quality/language gates typically drop 30-60% of rows BEFORE the
shuffle — filter-first ordering is the difference between shuffling
the whole corpus and shuffling the half that can still win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from claims_data_spark.functions.text import (
    blocklist_hits,
    doc_fingerprint,
    lang_marker_hits,
    quality_score,
)


def clean_corpus_status(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    lang: str = "en",
    min_lang_hits: int = 1,
    blocklist: list[str] | None = None,
    max_blocklist_hits: int = 0,
) -> DataFrame:
    """One row per input document with its gate outcome:
    ``low_quality`` | ``blocked`` | ``wrong_lang`` | ``duplicate`` |
    ``kept``.

    Gate order matches pipeline practice (cheap row-local first):
    quality < ``min_quality`` rejects before the blocklist, blocklist
    before language, language before dedup; among gate-passing rows
    sharing a content fingerprint the lowest id survives
    (``exact_dedup``'s keep-min rule). NULL text is low-quality by
    definition.

    ``blocklist`` (default None = gate off, behavior unchanged) adds
    the C4-style bad-words gate: documents with more than
    ``max_blocklist_hits`` distinct blocklisted terms take status
    ``blocked`` (C4 itself uses threshold 0 — one hit drops the
    page). Matching semantics live in
    :func:`claims_data_spark.functions.text.blocklist_hits`.
    """
    q = quality_score(text_col)
    hits = lang_marker_hits(text_col, lang)
    bl_hits = (
        blocklist_hits(text_col, blocklist)
        if blocklist
        else F.lit(0)
    )
    fp = F.when(
        F.col(text_col).isNotNull(), doc_fingerprint(text_col)
    )
    base = df.select(
        F.col(id_col),
        F.coalesce(q, F.lit(0.0)).alias("quality"),
        F.coalesce(hits, F.lit(0)).alias("_hits"),
        F.coalesce(bl_hits, F.lit(0)).alias("_bl"),
        fp.alias("_fp"),
    )
    eligible = (
        (F.col("quality") >= min_quality)
        & (F.col("_bl") <= max_blocklist_hits)
        & (F.col("_hits") >= min_lang_hits)
        & F.col("_fp").isNotNull()
    )
    # rank only the eligible rows per fingerprint. Ineligible rows
    # must NOT share one partition key (a NULL key would funnel every
    # rejected row — possibly half the corpus — through a single
    # window task); each gets its own id-derived key so its partition
    # is a singleton.
    w = Window.partitionBy(
        F.when(eligible, F.col("_fp")).otherwise(
            F.concat(F.lit("__rej__"), F.col(id_col).cast("string"))
        )
    ).orderBy(F.col(id_col).asc())
    ranked = base.withColumn(
        "_rn", F.when(eligible, F.row_number().over(w))
    )
    status = (
        F.when(F.col("quality") < min_quality, "low_quality")
        .when(F.col("_bl") > max_blocklist_hits, "blocked")
        .when(F.col("_hits") < min_lang_hits, "wrong_lang")
        .when(F.col("_rn") > 1, "duplicate")
        .otherwise("kept")
    )
    return ranked.select(id_col, "quality", status.alias("status"))


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **gates,
) -> tuple[DataFrame, DataFrame]:
    """(surviving documents, per-status report). The survivors keep
    every input column; the report is one tiny aggregate of the status
    frame (rows + share of corpus per gate outcome)."""
    status = clean_corpus_status(df, id_col, text_col, **gates)
    kept = df.join(
        status.filter(F.col("status") == "kept").select(id_col),
        id_col,
        "left_semi",
    )
    report = (
        status.groupBy("status")
        .agg(F.count(F.lit(1)).alias("docs"))
        .select(
            "status", "docs",
            F.round(
                F.col("docs") * 100.0
                / F.sum("docs").over(Window.partitionBy()),
                2,
            ).alias("pct"),
        )
    )
    return kept, report


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def _word_ngrams(text_col: str, n: int) -> F.Column:
    """Distinct lowercase word n-grams of a text column (codegen:
    split + transform over a sliding index range, no Python).
    NULL or shorter-than-n texts yield an empty array (``sequence``
    with stop < start would COUNT DOWN, so the window count is
    guarded, not clamped)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    k = F.size(words) - F.lit(n - 1)
    return F.when(
        F.col(text_col).isNotNull() & (k >= 1),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_ngram_frame(
    df: DataFrame, text_col: str, n: int, out_col: str
) -> DataFrame:
    """DISTINCT lowercase word n-grams attached as ``out_col`` —
    value-identical to the inline :func:`_word_ngrams` column
    (verified gram-for-gram per doc at sf1: 0 mismatches) but built
    by MLlib's ``NGram``, whose sliding join runs as COMPILED Scala
    per row. Catalyst higher-order functions have no codegen — the
    ``transform()`` lambda is interpreted PER ELEMENT (one slice
    allocation + concat per gram), measured 2.63 vs 0.64 s for the
    sf1 corpus-grain gram explode (~4x). A DataFrame→DataFrame
    helper because NGram is a Transformer, not an expression; use it
    on the CORPUS-grain side of every n-gram operator (the bench
    sides are dimension-sized either way).

    Semantics pinned to ``_word_ngrams``: NULL or shorter-than-n
    texts yield an empty array (``size(words) >= n`` is exactly the
    old ``k >= 1`` guard), and the helper applies the same per-row
    ``array_distinct``."""
    from pyspark.ml.feature import NGram

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tmp_w, tmp_g = out_col + "_w", out_col + "_g"
    staged = df.withColumn(
        tmp_w,
        F.when(
            F.col(text_col).isNotNull() & (F.size(words) >= F.lit(n)),
            words,
        ).otherwise(F.array().cast("array<string>")),
    )
    out = NGram(n=n, inputCol=tmp_w, outputCol=tmp_g).transform(staged)
    return out.withColumn(
        out_col, F.array_distinct(F.col(tmp_g))
    ).drop(tmp_w, tmp_g)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
) -> tuple[DataFrame, DataFrame]:
    """Drop training documents that share any word ``n``-gram with a
    benchmark/eval set (the standard train-test decontamination gate).

    Returns ``(clean_docs, contaminated)`` where ``contaminated`` is
    ``(id, n_hits)`` — the count of distinct benchmark n-grams the
    document contains, for audit.

    Scale shape: benchmark suites are MB-sized next to a 100 TB
    corpus, so the distinct benchmark n-gram set is BROADCAST; the
    corpus side is one scan that explodes its distinct n-grams,
    broadcast-joins, and aggregates per doc — the only exchange is the
    per-doc hit count over the (rare) matching rows.  The final keep
    filter is a broadcast anti-join on the contaminated-id set.
    """
    from claims_data_spark.session import spread

    bench_grams = (
        benchmark.select(
            F.explode(_word_ngrams(bench_text_col, n)).alias("gram")
        )
        .filter(F.length("gram") > 0)
        .distinct()
    )
    # the n-gram explode is the CPU-heavy side; spread keeps it off a
    # single small-file scan task (no-op on already-parallel inputs).
    # explode_OUTER so Catalyst cannot infer a size()>0 filter and
    # push the whole n-gram tree below the spread exchange back into
    # the single-task scan (see bloom_decontaminate); empty-array rows
    # become one NULL gram each and the inner join drops them.
    # Grams come from the compiled NGram frame (_word_ngram_frame),
    # not the interpreted transform() lambda.
    doc_grams = _word_ngram_frame(
        spread(docs.select(F.col(id_col), F.col(text_col))),
        text_col, n, "_grams",
    ).select(
        F.col(id_col),
        F.explode_outer("_grams").alias("gram"),
    )
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    clean = docs.join(
        F.broadcast(contaminated.select(id_col)), id_col, "left_anti"
    )
    return clean, contaminated


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Drop training documents NEAR-duplicate to any benchmark/eval
    document — the fuzzy complement of :func:`decontaminate`'s exact
    n-gram gate (paraphrased or lightly-edited eval leakage that
    shares no verbatim 13-gram still contaminates; GPT-3 appendix C
    and the Pile decontaminate at the fuzzy level for this reason).

    Returns ``(clean_docs, contaminated)`` where ``contaminated`` is
    one audit row per leaked training doc: the best-matching benchmark
    id (ties break to the lowest), its Jaccard, and how many benchmark
    docs matched at or above the threshold.

    Scale shape (the decontamination asymmetry is the whole design):
    benchmark suites are MB-sized next to a 100 TB corpus, so the
    benchmark's banded signature table and its shingle sets are both
    BROADCAST. The corpus pays ONE scan that computes shingles and
    MinHash signatures row-local; its band rows broadcast-join the
    benchmark bands (no corpus-grain exchange — compare
    ``minhash_near_dup_pairs``, whose self-join must shuffle), the
    (rare) candidate pairs verify exact Jaccard against the broadcast
    benchmark shingles on the spot, and the only exchanges left are
    candidate-grain: the per-doc best-match aggregate and the
    broadcast anti-join that keeps the clean rows. NULL-text training
    rows have no shingles and always survive.

    ``portable=True`` swaps murmur3 MinHash for the md5-hex family
    (`minhash_signature_portable`) so an ANSI-SQL oracle reproduces
    the banded candidate set exactly — the driver-checked variant;
    production callers keep the ~3x-cheaper murmur3 default.

    The doc-side signature frame persists for the probe+verify reuse
    (same contract as ``minhash_near_dup_pairs``' default): the cache
    is LRU-evictable; long-lived sessions calling this repeatedly
    should materialize the returned frames and unpersist, as
    ``run_corpus_pipeline`` does with its cached stages.
    """
    from claims_data_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_portable,
        word_shingles_frame,
    )
    from claims_data_spark.session import spread

    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into "
            f"bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    sig_fn = minhash_signature_portable if portable else minhash_signature

    def _with_sig(df: DataFrame, idc: str, txtc: str, par: bool) -> DataFrame:
        # spread BEFORE the shingle/signature projection — repartition
        # on the raw text so the CPU-heavy MinHash math runs on every
        # core, not inside the handful of parquet scan tasks (an
        # exchange evaluates everything BELOW it pre-shuffle; spread on
        # top of the projection would serialize the signatures into
        # the scan tasks and only shuffle the finished arrays —
        # measured 75 s -> ~8 s at sf1)
        base = df.select(F.col(idc), F.col(txtc)).filter(
            F.col(txtc).isNotNull()
        )
        if par:
            base = spread(base)
        return word_shingles_frame(
            base, txtc, shingle_k, "_sh"
        ).withColumn("_sig", sig_fn("_sh", num_hashes))

    def _bands(df: DataFrame, idc: str) -> DataFrame:
        if portable:
            # fixed-width md5 components -> '|'-concat is an
            # unambiguous bucket key both engines build identically
            band_structs = F.expr(
                "array(" + ", ".join(
                    f"named_struct('band_id', {b}, 'band_hash', "
                    "concat_ws('|', "
                    + ", ".join(
                        f"_sig[{b * rows_per_band + r}]"
                        for r in range(rows_per_band)
                    )
                    + "))"
                    for b in range(bands)
                ) + ")"
            )
        else:
            band_structs = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.hash(
                            *[
                                F.col("_sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ]
                        ).cast("string").alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        return df.select(idc, F.explode(band_structs).alias("_b")).select(
            idc,
            F.col("_b.band_id").alias("band_id"),
            F.col("_b.band_hash").alias("band_hash"),
        )

    bench_sig = _with_sig(benchmark, bench_id_col, bench_text_col, False)
    bench_bands = _bands(bench_sig, bench_id_col)
    bench_sh = bench_sig.select(
        F.col(bench_id_col), F.col("_sh").alias("_sh_bench")
    )

    # persisted because the band probe and the candidate verification
    # both reuse it — without the persist the corpus scans twice
    doc_sig = _with_sig(docs, id_col, text_col, True).persist()
    cand = (
        _bands(doc_sig, id_col)
        .join(F.broadcast(bench_bands), ["band_id", "band_hash"])
        .select(id_col, bench_id_col)
        .distinct()
    )
    verified = (
        cand.join(doc_sig.select(id_col, "_sh"), id_col)
        .join(F.broadcast(bench_sh), bench_id_col)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh", "_sh_bench"))
            / F.size(F.array_union("_sh", "_sh_bench")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    contaminated = verified.groupBy(id_col).agg(
        F.min_by(
            F.col(bench_id_col),
            F.struct(
                (-F.col("jaccard")).alias("nj"),
                F.col(bench_id_col).alias("tie"),
            ),
        ).alias("best_bench_id"),
        F.round(F.max("jaccard"), 4).alias("best_jaccard"),
        F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
    )
    clean = docs.join(
        F.broadcast(contaminated.select(id_col)), id_col, "left_anti"
    )
    return clean, contaminated


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    id_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum sampling for dataset mixing, deterministic in the
    row's OWN id — no RNG state, so the sample is identical across
    retries, stages, and engines (``sample()`` reshuffles per task
    attempt; this is the same pinned-hash idiom as the seeded dedup,
    P8).

    A row survives when ``md5(id)``'s first 8 hex digits, read as a
    32-bit fraction, fall below its stratum's rate.  Map-only: no
    shuffle, no driver state; the fractions dict compiles to one CASE
    chain (small — it is a mixing recipe, not data).
    """
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10) \
        .cast("double") / F.lit(float(0xFFFFFFFF))
    rate = F.lit(default_fraction)
    expr = None
    for k, frac in fractions.items():
        cond = F.col(strata_col) == F.lit(k)
        expr = F.when(cond, F.lit(float(frac))) if expr is None \
            else expr.when(cond, F.lit(float(frac)))
    rate = expr.otherwise(rate) if expr is not None else rate
    return df.filter(bucket < rate)


# ---------------------------------------------------------------------------
# Token-budget sequence packing
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col: str | None = None,
    num_shards: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    (greedy next-fit in id order within a shard): a document starts a
    new pack when adding it would push the running pack total over
    ``budget``.  Documents longer than the budget get a pack of their
    own.  Returns ``(shard, doc_id, n_tokens, pack_id, pack_offset)``
    with ``pack_id`` dense from 0 within each shard and
    ``pack_offset`` the token position inside the pack.

    The reset-on-overflow running sum is genuinely stateful — no fixed
    window frame expresses "running total that resets when it would
    exceed B" (each reset changes every later comparison) — so this is
    one Arrow crossing per shard (``applyInPandas``), linear scan,
    state = two integers.  Sharding (hash of the id by default) bounds
    per-group size and parallelizes; at 100 TB shards are the unit of
    packing the way they are the unit of tokenizer output files.
    Deterministic: id order within shard, hash shard assignment.
    """
    import pandas as pd

    shard = (
        F.col(shard_col)
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(num_shards))
    )
    src = docs.select(
        shard.cast("long").alias("shard"),
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )

    out_schema = (
        "shard long, doc_id long, n_tokens long, pack_id long, "
        "pack_offset long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        pack_ids, offsets = [], []
        cur_pack, cur_tot = 0, 0
        started = False
        for t in pdf["n_tokens"]:
            if started and cur_tot + t > budget:
                cur_pack += 1
                cur_tot = 0
            pack_ids.append(cur_pack)
            offsets.append(cur_tot)
            cur_tot += t
            started = True
        pdf["pack_id"] = pack_ids
        pdf["pack_offset"] = offsets
        return pdf

    return src.groupBy("shard").applyInPandas(pack, out_schema)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 2,
) -> DataFrame:
    """Per-document repetition signals (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Table A1 — the published repetition
    filters used on MassiveText):

    - ``dup_line_frac``: fraction of lines that are duplicates of an
      earlier line,
    - ``dup_line_char_frac``: fraction of line characters inside
      duplicated lines,
    - ``top_ngram_char_frac``: characters covered by occurrences of
      the single most frequent word n-gram / total characters.

    Plan: the two line fractions are ROW-LOCAL array algebra (lines
    per doc are few; ``aggregate``/``array_distinct`` in codegen).
    The top-n-gram fraction needs per-(doc, gram) counts, which would
    be O(words²) row-local — instead it's the scalable explode form:
    one explode of NON-distinct n-grams, one (doc, gram) count with
    map-side partial aggregation, one per-doc max (count desc, gram
    asc tiebreak so the pick is deterministic), joined back. Two
    shuffles keyed by doc/gram — no all-pairs anything, survives any
    corpus size.

    NULL text yields zero fractions (nothing to repeat).
    """
    lines = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\n"),
        lambda x: F.length(F.trim(x)) > 0,
    )
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    # chars inside lines occurring >= 2 times: total minus chars of
    # lines occurring exactly once. A line occurs once iff, after
    # array_sort, it differs from both neighbors — O(L log L) per doc
    # instead of the nested-filter O(L²) form this replaced (round 10:
    # 19x on 200-line docs, value-identical; fixture docs are
    # single-line so the bench is unchanged — this is a scale fix for
    # real multi-line corpora).
    srt = F.array_sort(lines)
    _n = F.size(lines)
    nxt = F.slice(srt, 2, F.greatest(_n - 1, F.lit(0)))
    prv = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(srt, 1, F.greatest(_n - 1, F.lit(0))),
    )
    uniq_chars = F.aggregate(
        F.zip_with(
            F.zip_with(
                srt,
                nxt,
                lambda a, b: F.struct(
                    a.alias("v"), (b.isNull() | (a != b)).alias("dn")
                ),
            ),
            prv,
            lambda s, p: F.when(
                (p.isNull() | (s["v"] != p)) & s["dn"], F.length(s["v"])
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = df.select(
        F.col(id_col),
        F.when(n_lines > 0, (n_lines - n_dist) / n_lines)
        .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(line_chars > 0, (line_chars - uniq_chars) / line_chars)
        .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_chars"),
    )

    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    k = F.size(words) - F.lit(ngram_n - 1)
    # round-10: sliding window as arrays_zip of ngram_n shifted slice
    # views (compiled) instead of transform(sequence(...)) whose
    # lambda Catalyst interprets per element; the when-guard keeps the
    # slices unevaluated when k < 1 (value-identical, non-distinct
    # gram stream in the same order — pinned in
    # tests/test_dedup_gram_builders.py)
    zipped = F.arrays_zip(
        *[F.slice(words, i + 1, k).alias(f"g{i}") for i in range(ngram_n)]
    )
    gram_arr = F.transform(
        zipped,
        lambda x: F.concat_ws(" ", *[x[f"g{i}"] for i in range(ngram_n)]),
    )
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.col(text_col).isNotNull() & (k >= 1), gram_arr
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_g"),
    )
    counts = grams.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_cnt").desc(), F.col("_g").asc()
    )
    top = (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(id_col),
            (F.col("_cnt") * F.length("_g")).alias("_top_chars"),
        )
    )
    return base.join(top, id_col, "left").select(
        id_col,
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round(
            F.when(
                F.col("_chars") > 0,
                F.coalesce(F.col("_top_chars"), F.lit(0)) / F.col("_chars"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_ngram_char_frac"),
    )


def repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_ngram_char_frac: float = 0.20,
) -> DataFrame:
    """Gopher repetition gate: documents whose repetition signals
    exceed the published thresholds (dup lines > 30%, dup line chars
    > 20%, top-2-gram chars > 20% — Rae et al. 2021 Table A1) are
    dropped. Returns (id, the three fractions, keep flag)."""
    stats = repetition_stats(df, id_col, text_col)
    return stats.select(
        id_col, "dup_line_frac", "dup_line_char_frac",
        "top_ngram_char_frac",
        (
            (F.col("dup_line_frac") <= max_dup_line_frac)
            & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
            & (F.col("top_ngram_char_frac") <= max_top_ngram_char_frac)
        ).cast("int").alias("keep"),
    )


# PII patterns shared by the scrubber and its oracle: plain character
# classes only, so Java regex (Spark) and RE2 (DuckDB/Trino) agree.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # email first: its local part may embed digit runs the looser
    # number patterns would mangle; the <EMAIL> token is digit-free so
    # later scrubs can't touch it. SSN before phone (3-2-4 vs 3-3-4
    # digit groups are disjoint, but keep the specific-first order).
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
     "<EMAIL>"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "<SSN>"),
    ("phone", r"\d{3}[-.]\d{3}[-.]\d{4}", "<PHONE>"),
]


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "scrubbed",
) -> DataFrame:
    """Training-corpus PII redaction (the C4/RefinedWeb-style scrub
    every published web-scale pipeline runs before training): replace
    emails, phone numbers and SSNs with typed placeholder tokens and
    count each redaction per document.

    Order matters and is fixed (see PII_PATTERNS). Entirely row-local
    regexp codegen — map-only at any corpus size — and the patterns
    use only character classes so any ANSI engine reproduces the
    replacements byte-for-byte. Counts come from regexp_count on the
    PRE-scrub text for the same reason.

    Returns ``df`` plus ``{name}_n`` counts and ``out_col``.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    out = {}
    for name, pat, token in PII_PATTERNS:
        out[f"{name}_n"] = F.regexp_count(t, F.lit(pat))
    scrubbed = t
    for name, pat, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    out[out_col] = F.when(F.col(text_col).isNotNull(), scrubbed)
    return df.withColumns(out)


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into fixed-budget whitespace-token chunks
    with optional overlap — the standard pre-tokenization step before
    sequence packing (long documents otherwise overflow every pack and
    the tail of a context window is wasted).

    Chunk i covers tokens [i*(max_tokens-overlap), ...][:max_tokens],
    1-indexed positions; the last chunk may be short; a document
    shorter than the budget yields exactly one chunk. Entirely
    row-local (split + sequence + slice higher-order expressions):
    map-only, no shuffle, no Python — the explode multiplies rows by
    ceil(len/stride), never materializes overlap copies beyond it.

    Returns one row per chunk: id, chunk_idx (0-based), chunk_text,
    n_tokens. NULL, empty and whitespace-only texts produce no chunks
    (nothing to train on) — the text is trimmed and zero-length tokens
    are dropped before slicing, so leading/trailing whitespace cannot
    mint phantom tokens (consistent with the dedup/packing operators'
    ``_norm_words``).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda w: F.length(w) > 0,
    )

    def chunks_over(w_col: str):
        w = F.col(w_col)
        n = F.size(w)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"),
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.concat_ws(
                    " ", F.slice(w, i * stride + 1, max_tokens)
                ).alias("chunk_text"),
                F.least(
                    n - i * stride, F.lit(max_tokens)
                ).cast("int").alias("n_tokens"),
            ),
        )

    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), words.alias("_w"))
        .filter(F.size("_w") > 0)
        .select(F.col(id_col), F.explode(chunks_over("_w")).alias("_c"))
        .select(
            id_col,
            F.col("_c.chunk_idx").alias("chunk_idx"),
            F.col("_c.chunk_text").alias("chunk_text"),
            F.col("_c.n_tokens").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis) and mixture rebalancing
# ---------------------------------------------------------------------------

def _md5_uniform(id_col: str, seed: str, open_zero: bool = False) -> F.Column:
    """Deterministic per-row uniform in the row's OWN id (the pinned-
    hash idiom of :func:`stratified_sample` — identical across retries,
    stages, and engines). ``open_zero`` shifts to (0, 1] so ln(u) is
    finite."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 8),
        16, 10,
    ).cast("double")
    if open_zero:
        return (h + F.lit(1.0)) / F.lit(4294967296.0)
    return h / F.lit(4294967295.0)


def _xxhash_uniform(id_col: str, seed: str, open_zero: bool = False) -> F.Column:
    """xxhash64 twin of :func:`_md5_uniform` — the PRODUCTION hash
    family (minhash murmur3 precedent: md5 stays on driver-checked
    surfaces for cross-engine oracle portability; production paths
    take the native JVM hash, which skips the MessageDigest call, the
    hex encode, and the string->bigint conv). Same contract: a
    deterministic per-row uniform on [0, 1] (or (0, 1] with
    ``open_zero``) drawn from the row's OWN id + seed — identical
    across retries, stages, and partitionings, but a DIFFERENT stream
    than md5 (callers pick a family per release, not per run)."""
    h = F.pmod(
        F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)),
        F.lit(4294967296),
    ).cast("double")
    if open_zero:
        return (h + F.lit(1.0)) / F.lit(4294967296.0)
    return h / F.lit(4294967295.0)


def _uniform(
    id_col: str, seed: str, open_zero: bool = False,
    hash_family: str = "md5",
) -> F.Column:
    """Family dispatch for the pinned per-row uniform: ``md5`` (the
    engine-portable oracle-checked stream) or ``xxhash64`` (the
    production stream)."""
    if hash_family == "md5":
        return _md5_uniform(id_col, seed, open_zero)
    if hash_family == "xxhash64":
        return _xxhash_uniform(id_col, seed, open_zero)
    raise ValueError(
        f"hash_family must be 'md5' or 'xxhash64', got {hash_family!r}"
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    seed: str = "ws",
    key_col: str = "samp_key",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of exactly ``k`` rows —
    the Efraimidis–Spirakis (2006) one-pass reservoir: each row draws
    a deterministic uniform u and competes with key ln(u)/w (monotone
    with u^(1/w); larger weights pull the key toward 0 = rank 1); the
    global top-k by key IS a weighted sample without replacement.

    Scale story: the selection plans as TakeOrderedAndProject — each
    partition keeps its local k, the driver merges partition winners;
    no global sort, no shuffle of the corpus, O(k) driver state. The
    uniform is md5-pinned to the row id, so the sample is identical
    across task retries and engines (no RNG state, unlike
    ``df.sample``).

    The key is rounded to 9 decimals BEFORE ordering (ties broken by
    id): libm's ln may differ by 1 ulp across engines, and the round
    quashes that 5e-17 noise without costing rank resolution (key
    gaps at realistic corpus sizes are >> 1e-9).
    """
    w = F.col(weight_col).cast("double")
    key = F.round(F.log(_md5_uniform(id_col, seed, open_zero=True)) / w, 9)
    return (
        df.filter(w > 0)
        .withColumn(key_col, key)
        .orderBy(F.col(key_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def weighted_sample_grouped(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    group_col: str,
    seed: str = "wsg",
    key_col: str = "samp_key",
) -> DataFrame:
    """Per-GROUP Efraimidis-Spirakis: exactly ``k`` weighted-sampled
    rows per group (per-domain / per-language quotas — the grouped
    form of ``weighted_sample``; same deterministic md5 uniforms,
    same 9-dp rounded key, same no-replacement semantics within each
    group).

    Scale shape: one exchange on the group key + a ranking window —
    the P7-style shape, NOT a per-group TakeOrdered (no such operator
    exists); groups sharing the exchange means hot groups can skew a
    task — salt with ``operators/skew`` if a group dominates the
    corpus. Seeded separately from the global sampler so composing
    both on one corpus draws independent uniforms.
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    key = F.round(F.log(_md5_uniform(id_col, seed, open_zero=True)) / w, 9)
    win = Window.partitionBy(group_col).orderBy(
        F.col(key_col).desc(), F.col(id_col).asc()
    )
    return (
        df.filter(w > 0)
        .withColumn(key_col, key)
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def mix_rebalance(
    df: DataFrame,
    strata_col: str,
    target: dict,
    id_col: str,
    seed: str = "mix",
    rate_col: str = "keep_rate",
    weight_col: str | None = None,
) -> DataFrame:
    """Rebalance a corpus to a target mixture by downsampling-only
    (the Pile/DoReMi-style domain-mixing step): given target
    proportions p_s, the largest total T with exact proportions and no
    upsampling is T = min_s(n_s / p_s); each stratum keeps
    rate_s = p_s * T / n_s of its rows via the deterministic md5 thin.
    Strata absent from ``target`` drop entirely (rate 0).

    ``weight_col`` switches the mixture unit from documents to a
    per-row weight (token or char counts — LLM mixtures are specified
    in TOKEN shares, and doc-count mixing skews toward short-doc
    strata): n_s becomes SUM(weight) and the target proportions are
    weight shares. Selection stays per-document at the stratum rate,
    so the realized weight share is the target in expectation with
    O(1/sqrt(docs)) relative error — exact-to-the-token knapsack
    selection would need a per-stratum running sum (one extra window
    shuffle) for a guarantee no training mixture needs. NULL weights
    count as 0 toward the stratum total but the row still thins at
    the stratum rate. A TARGETED stratum whose weight sum is 0 (all
    rows NULL/zero weight) cannot supply any weight toward its share:
    it is excluded from the T minimum (a 0 there would zero out the
    whole corpus — or crash with DIVIDE_BY_ZERO under ANSI mode) and
    its rows drop at rate 0, same as an untargeted stratum.

    All in-plan, no driver collect: the per-stratum counts are one
    tiny aggregate, T is a scalar aggregate over it, and both broadcast
    back onto the fact — the fact itself sees one map-only filter. The
    rates are exact-IEEE arithmetic (one divide, one multiply — both
    correctly rounded, bit-identical in any engine), so membership is
    engine-portable.
    """
    p = None
    for s, frac in target.items():
        cond = F.col(strata_col) == F.lit(s)
        p = F.when(cond, F.lit(float(frac))) if p is None \
            else p.when(cond, F.lit(float(frac)))
    p = p.otherwise(F.lit(0.0))

    n_expr = (
        F.count("*").cast("double")
        if weight_col is None
        else F.sum(F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0)))
    )
    counts = df.groupBy(strata_col).agg(n_expr.alias("_n"))
    counts = counts.withColumn("_p", p)
    t = counts.filter((F.col("_p") > 0) & (F.col("_n") > 0)).agg(
        F.min(F.col("_n") / F.col("_p")).alias("_t")
    )
    rates = counts.crossJoin(F.broadcast(t)).select(
        strata_col,
        F.when(
            (F.col("_p") > 0) & (F.col("_n") > 0),
            F.least(F.lit(1.0), F.col("_p") * F.col("_t") / F.col("_n")),
        ).otherwise(F.lit(0.0)).alias(rate_col),
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(_md5_uniform(id_col, seed) < F.col(rate_col))
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (C4-style corpus-frequency line dedup)
# ---------------------------------------------------------------------------

def line_dedup(
    docs: DataFrame,
    lines_col: str,
    id_col: str = "doc_id",
    min_docs: int = 2,
    sep: str = "\n",
    broadcast_boilerplate: bool = True,
) -> DataFrame:
    """Remove lines that recur across the corpus (nav bars, cookie
    banners, copyright footers — the C4/RefinedWeb line-dedup gate):
    a line appearing in >= ``min_docs`` DISTINCT documents is
    boilerplate and is dropped from every document; survivors are
    reassembled in original order.

    Input is an ``array<string>`` column (the caller chooses the line/
    sentence segmentation); output is one row per document with
    ``n_lines`` / ``n_kept`` and the reassembled ``text_clean``.
    Lines are matched on a normalized form (trim + lowercase +
    whitespace collapse) so cosmetic variation doesn't hide
    boilerplate, but the KEPT text preserves the original bytes.

    Scale shape (two shuffles, both necessary):
      1. posexplode (map-only) -> count DISTINCT docs per normalized
         line — one exchange on the line key with partial aggregation.
      2. the boilerplate set (count >= min_docs) is the HEAVY-HITTER
         head of the line-frequency distribution — small by
         construction (a line needs many repeats to qualify), so it
         broadcasts and the exploded lines see a map-side anti-lookup,
         never a fact-to-fact join.  ``broadcast_boilerplate=False``
         falls back to a shuffled left-anti join for adversarial
         corpora where even the >=min_docs head is huge.
      3. reassembly groups by doc id — the second exchange; kept lines
         re-join with ``array_sort`` on position, so ordering never
         depends on shuffle arrival order.
    Counting DISTINCT docs (not occurrences) means a document that
    repeats its own refrain doesn't self-promote it to boilerplate —
    within-doc repetition is ``repetition_filter``'s job.
    """
    norm = lambda c: F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")  # noqa: E731
    exploded = docs.select(
        F.col(id_col), F.posexplode(lines_col).alias("_pos", "_line")
    ).withColumn("_norm", norm(F.col("_line")))

    boiler = (
        exploded.groupBy("_norm")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= F.lit(min_docs))
        .select("_norm")
    )
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    kept_flag = exploded.join(boiler, "_norm", "left_anti")

    # reassemble: left-join back so documents whose EVERY line was
    # boilerplate still appear (n_kept = 0, empty text_clean)
    kept = kept_flag.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_line"))
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("text_clean"),
    )
    totals = docs.select(
        F.col(id_col), F.size(lines_col).alias("n_lines")
    )
    return (
        totals.join(kept, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter-pruned benchmark decontamination
# ---------------------------------------------------------------------------

def _bloom_pos(gram: "F.Column", i: int, num_bits: int) -> "F.Column":
    """Bit position for hash-family member ``i`` — native ``xxhash64``
    (one JVM hash call per probe; the Bloom needs no engine-portable
    hash because correctness never depends on it: the oracle is the
    EXACT decontamination SQL, and build/probe consistency is
    guaranteed by computing BOTH through this same expression)."""
    return F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(num_bits)).cast("long")


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> "tuple[DataFrame, DataFrame]":
    """``decontaminate`` with a Bloom-filter pre-prune: same exact
    output (the Bloom only PRUNES; survivors are exact-verified), but
    the corpus-side explode+join only ever sees Bloom-positive grams.

    Why this is the 100 TB shape: the exact path broadcasts the
    benchmark's distinct n-gram SET as a join hash relation — fine at
    MBs, but a full eval-suite union (MMLU+GSM8K+HumanEval+held-out
    dumps) runs to 10^8 grams and multi-GB broadcasts.  The Bloom is a
    FIXED-SIZE array of longs (``num_bits``/8 bytes, here 16 KiB)
    carried as a plan literal; each document filters its grams through
    ``getbit`` probes in whole-stage codegen and the overwhelmingly
    common clean document exits at the map stage having shuffled
    NOTHING and joined NOTHING.  Only Bloom-positive grams (true hits
    + ~(1-e^{-kn/m})^k false positives) reach the exact verify join,
    so the output is bit-identical to ``decontaminate`` — a false
    positive costs a join probe, never a wrong row.

    The bit array is built from the benchmark grams in one tiny Spark
    job that collects only the DISTINCT BIT POSITIONS (bounded by
    ``num_bits`` longs, never by gram count or gram bytes); build and
    probe share the same ``_bloom_pos`` expression, so consistency is
    structural, not a cross-library hash contract. ``xxhash64`` is one
    native JVM call per probe — profiled severalx cheaper than an
    md5+substring+conv chain on a 1.5M-gram sf0.1 corpus.
    """
    from claims_data_spark.session import spread

    # eager checkpoint: the gram set feeds TWO consumers (the
    # positions build below and the exact verify join) — without the
    # cut the bench explode+distinct runs twice
    bench_grams_df = (
        benchmark.select(
            F.explode(_word_ngrams(bench_text_col, n)).alias("gram")
        )
        .filter(F.length("gram") > 0)
        .distinct()
        .localCheckpoint(eager=True)
    )
    positions = [
        r.p
        for r in bench_grams_df.select(
            F.explode(
                F.array(*[
                    _bloom_pos(F.col("gram"), i, num_bits)
                    for i in range(num_hashes)
                ])
            ).alias("p")
        )
        .distinct()
        .collect()
    ]

    num_words = (num_bits + 63) // 64
    words = [0] * num_words
    for pos in positions:
        words[pos >> 6] |= 1 << (pos & 63)
    # two's-complement fold so the literal fits LongType
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    # explicit BIGINT element type: a sparse filter whose words all
    # fit in 32 bits would otherwise infer array<int>, and getbit on
    # an INT rejects positions >= 32
    bits = F.lit(words).cast("array<bigint>")

    def probe(g):
        """All ``num_hashes`` bits set -> Bloom-positive."""
        cond = None
        for i in range(num_hashes):
            pos = _bloom_pos(g, i, num_bits)
            hit = (
                F.getbit(
                    # reference the PER-ROW materialized bit array, not
                    # the `bits` literal: Catalyst does not constant-fold
                    # inside lambda bodies, so the 2048-element
                    # CreateArray would otherwise be rebuilt for every
                    # gram x hash evaluation (measured ~10x the probe's
                    # whole cost); as a row column it is built once per
                    # document
                    F.element_at(F.col("_bits"), (pos / 64).cast("int") + 1),
                    (pos % 64).cast("int"),
                )
                == 1
            )
            cond = hit if cond is None else (cond & hit)
        return cond

    # NOTE: no `.filter(size(_cand) > 0)` here — explode() already
    # drops empty arrays, and the predicate form gets PUSHED DOWN
    # below the spread() exchange into the single-task parquet scan,
    # serializing the whole probe onto one core and evaluating the
    # ngram+probe tree twice (measured 6x the stage cost at sf0.1).
    # Gram construction via the compiled NGram frame; only the
    # bit-probe filter remains a (cheap, 3-getbit) lambda.
    candidates = (
        _word_ngram_frame(
            spread(docs.select(F.col(id_col), F.col(text_col))),
            text_col, n, "_grams",
        )
        .withColumn("_bits", bits)
        .select(
            F.col(id_col),
            F.filter(F.col("_grams"), probe).alias("_cand"),
        )
    )

    # explode_OUTER, deliberately: plain explode makes Catalyst infer a
    # `size(_cand) > 0` filter (InferFiltersFromGenerate) and push it
    # below the spread() exchange into the single-task scan — the same
    # serialization the explicit filter caused above. Outer explode
    # infers nothing; the empty-array rows become one NULL gram each
    # and the inner join drops them.
    contaminated = (
        candidates.select(F.col(id_col), F.explode_outer("_cand").alias("gram"))
        .join(F.broadcast(bench_grams_df), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    clean = docs.join(
        F.broadcast(contaminated.select(id_col)), id_col, "left_anti"
    )
    return clean, contaminated


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fixed_point: bool = False,
) -> DataFrame:
    """One-row corpus card — the summary every dataset release ships
    (docs/tokens/chars, emptiness, exact-dup rate, length quantiles,
    quality/punctuation profile): composes the repo's text primitives
    into ONE aggregate action, so producing the card on 100 TB costs a
    single scan with map-side partial aggregation (the distinct-text
    count is the one cardinality-bound term, same contract as
    dedup_exact's hash-groupBy).

    Length quantiles use percentile_approx (bounded sketch state per
    partition) — the card is a profile, not an oracle surface, and the
    approx rank error is documented by Spark; everything else is
    exact.

    ``fixed_point=True`` swaps the float quality/punct AVERAGES for
    BIGINT sums of the per-doc 4dp fixed-point scores: float-sum order
    varies with partitioning, integer sums never do — the mode the
    value-checked driver surface uses (the repo's retry-stable
    discipline)."""
    from claims_data_spark.functions.text import (
        punct_ratio,
        quality_score,
        token_count_ws,
    )

    t = F.col(text_col)
    tok = token_count_ws(t)
    if fixed_point:
        q_agg = F.sum(
            F.when(
                t.isNotNull(),
                F.round(quality_score(t) * 10000).cast("long"),
            ).otherwise(0)
        ).alias("sum_quality_fp")
        p_agg = F.sum(
            F.when(
                t.isNotNull(),
                F.round(punct_ratio(t) * 10000).cast("long"),
            ).otherwise(0)
        ).alias("sum_punct_fp")
    else:
        q_agg = F.round(
            F.avg(F.when(t.isNotNull(), quality_score(t))), 4
        ).alias("avg_quality")
        p_agg = F.round(
            F.avg(F.when(t.isNotNull(), punct_ratio(t))), 4
        ).alias("avg_punct_ratio")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(id_col).alias("n_distinct_ids"),
        F.sum(F.when(t.isNull() | (F.length(F.trim(t)) == 0), 1)
              .otherwise(0)).alias("n_empty"),
        F.sum(F.coalesce(F.length(t), F.lit(0))).alias("n_chars"),
        F.sum(F.when(t.isNotNull(), tok).otherwise(0)).alias("n_tokens"),
        F.countDistinct(
            F.when(F.length(F.trim(t)) > 0, F.md5(t))
        ).alias("n_distinct_texts"),
        F.percentile_approx(
            F.when(t.isNotNull(), tok), [0.1, 0.5, 0.9], 10000
        ).alias("token_quantiles"),
        q_agg,
        p_agg,
    ).withColumn(
        "exact_dup_rate",
        F.round(
            (F.col("n_docs") - F.col("n_empty")
             - F.col("n_distinct_texts"))
            / F.greatest(F.col("n_docs") - F.col("n_empty"), F.lit(1)),
            4,
        ),
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Fractional train-test overlap analysis — the GPT-3-style
    "percent of each document's n-grams that appear in the eval suite"
    report, the ANALYSIS view next to :func:`decontaminate`'s boolean
    gate (a release ships the distribution, not just the drop list:
    1% overlap is quotation, 80% is a leaked test document).

    Per document: total distinct n-grams, distinct n-grams hitting the
    benchmark set, and ``overlap_pct`` rounded to 2dp from the exact
    integer counts (engine-reproducible — no float accumulation).
    Documents shorter than ``n`` words report 0 grams / 0 pct.

    Scale shape: identical to decontaminate — benchmark grams
    broadcast, one corpus scan, per-doc counts aggregate with map-side
    combine; no corpus-grain join.
    """
    from claims_data_spark.session import spread

    bench_grams = (
        benchmark.select(
            F.explode(_word_ngrams(bench_text_col, n)).alias("gram")
        )
        .filter(F.length("gram") > 0)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = (
        _word_ngram_frame(
            spread(docs.select(F.col(id_col), F.col(text_col))),
            text_col, n, "_grams",
        )
        .select(
            F.col(id_col),
            F.explode_outer("_grams").alias("gram"),
        )
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"),
        )
        .withColumn(
            "overlap_pct",
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.col("n_overlap") * 100.0 / F.col("n_grams"), 2
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def assign_splits(
    df: DataFrame,
    splits: dict[str, float],
    id_col: str,
    group_col: str | None = None,
    seed: str = "split",
    out_col: str = "split",
    hash_family: str = "md5",
) -> DataFrame:
    """Deterministic train/val/test split assignment — the release
    step after dedup/decontamination, with the leakage guard every
    training pipeline needs: when ``group_col`` is given (canonical
    domain, URL host, near-dup cluster id), the hash draws on the
    GROUP, so every row of a group lands in the SAME split and
    near-duplicates can never straddle train and eval.

    ``hash_family='xxhash64'`` is the production stream (one native
    JVM hash per draw); ``'md5'`` is the engine-portable stream the
    DuckDB oracle value-checks. DuckDB has NO xxhash64, so the
    production stream is inherently un-oracle-able — its equivalence
    to the checked stream is pinned structurally instead
    (``tests/test_corpus_curation2.py::
    test_assign_splits_cross_stream_properties_at_scale``: identical
    weight behavior, zero group leakage, identical map-only plan at
    real-table scale; plus the 4k-row determinism/cohesion suite).

    ``splits`` maps name -> weight (normalized internally, so
    {train: 8, val: 1, test: 1} works). Assignment is the md5-pinned
    uniform of the sampling family (identical across retries, stages
    and engines — a re-run of the release build reproduces the split
    exactly, and a DuckDB oracle re-derives it value-for-value) cut
    by cumulative weight. Map-only codegen: no shuffle, no state, no
    collect; at 100 TB this is a free column on the release scan.

    Split boundaries use the uniform's full 2^32 grid, so quota error
    is O(2^-32) per split, not rows-dependent. The reference repo has
    no training-split step; this is an engine extension
    (train-data-pipeline family, SURVEY.md addendum).

    ``hash_family='xxhash64'`` draws the uniform from the native JVM
    hash instead of md5 — the PRODUCTION variant (measured ~the md5
    hex+conv pipeline is the dominant per-row cost at sf10; the
    assignment semantics, determinism and group-cohesion guarantee
    are identical, only the pseudo-random stream differs). md5 stays
    the default because it is the cross-engine oracle-checked surface.
    """
    if not splits:
        raise ValueError("splits must be a non-empty {name: weight} map")
    if any(w <= 0 for w in splits.values()):
        raise ValueError("split weights must be positive")
    total = float(sum(splits.values()))
    key_col = group_col or id_col
    u = _uniform(key_col, seed, hash_family=hash_family)
    expr = None
    acc = 0.0
    items = list(splits.items())
    for name, w in items[:-1]:
        acc += float(w) / total
        cond_val = F.lit(name)
        expr = (
            F.when(u < acc, cond_val)
            if expr is None
            else expr.when(u < acc, cond_val)
        )
    last = F.lit(items[-1][0])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


def split_leakage_report(
    df: DataFrame,
    group_col: str,
    split_col: str = "split",
) -> DataFrame:
    """Leakage audit for a split assignment: groups whose rows span
    more than one split (MUST be empty when `assign_splits` ran with
    ``group_col`` — pinned by test). One aggregate on the group key;
    output is bounded by the number of leaky groups."""
    return (
        df.groupBy(group_col)
        .agg(
            F.countDistinct(split_col).alias("n_splits"),
            F.count(F.lit(1)).alias("n_rows"),
            F.array_sort(F.collect_set(split_col)).alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


# ---------------------------------------------------------------------------
# Corpus version diff
# ---------------------------------------------------------------------------


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    compare_cols: "list[str] | None" = None,
    status_col: str = "status",
) -> DataFrame:
    """Per-document delta between two corpus snapshots — the
    versioning primitive for incremental training-data releases
    (what changed between release N and N+1, and is the changed set
    small enough to ship as a delta). Returns one row per id present
    in EITHER snapshot with ``status`` in {'added', 'removed',
    'changed', 'unchanged'} plus the NEW side's columns for added/
    changed/unchanged rows and the OLD side's for removed rows.

    ``compare_cols`` (default: every shared non-id column) compare
    null-safe (``<=>``), so NULL -> 'x' and 'x' -> NULL both read as
    changed and NULL -> NULL as unchanged — no digest round-trip, no
    ambiguity between NULL and empty string.

    Scale: ONE full-outer shuffle join on the id — the minimum any
    exact diff pays. Both snapshots of a stored corpus should be
    written claim-bucketed on the id (`sources/io.write_bucketed`),
    which turns the exchange into a zip of co-located buckets; the
    status projection and any downstream per-status aggregation get
    map-side partials.
    """
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c != id_col and c in old.columns
        ]
    if not compare_cols:
        raise ValueError("no comparable columns between snapshots")
    o = old.select(
        F.col(id_col).alias("_oid"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(id_col).alias("_nid"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    joined = o.join(n, F.col("_oid") == F.col("_nid"), "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        same = eq if same is None else (same & eq)
    status = (
        F.when(F.col("_oid").isNull(), F.lit("added"))
        .when(F.col("_nid").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.coalesce(F.col("_nid"), F.col("_oid")).alias(id_col),
        status.alias(status_col),
        *[
            F.coalesce(F.col(f"_n_{c}"), F.col(f"_o_{c}")).alias(c)
            for c in compare_cols
        ],
    )


def corpus_diff_summary(
    diff: DataFrame, id_col: str = "doc_id", status_col: str = "status"
) -> DataFrame:
    """Release-note rollup of `corpus_diff`: per status, the document
    count and an ORDERLESS id checksum (sum of each id's 60-bit md5
    integer, emitted as a decimal STRING — the repo's portable md5
    family, so an external system can re-verify membership without
    ordering; string because the sum exceeds 2^63 and any engine's
    float fetch path would corrupt it). One aggregation with map-side
    partials; 4 rows out."""
    id60 = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    return (
        diff.groupBy(status_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(id60).alias("id_checksum"),
        )
        .select(
            status_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("id_checksum").cast("decimal(38,0)").cast("string")
            .alias("id_checksum"),
        )
    )


def cross_source_contamination(
    docs: DataFrame,
    source_col: str,
    text_col: str = "text",
    n: int = 8,
    max_sources: int = 16,
) -> DataFrame:
    """Pairwise word-n-gram overlap matrix BETWEEN corpus sources —
    the release report that tells you two ingested sources carry the
    same underlying content (a crawl and a curated dump of the same
    site, two snapshots of one forum) before their duplicates dilute
    a mixture weight. Complements :func:`decontaminate` (corpus vs a
    small eval suite): here both sides are corpus-sized.

    Returns one row per unordered source pair ``(source_a <
    source_b)``: ``shared_ngrams`` (distinct n-grams present in
    both), each side's distinct total, and the Jaccard overlap.

    Scale shape: ONE corpus-grain exchange — the n-gram explode
    shuffles once on the gram so each gram's source set unifies, and
    ``bit_or(1 << source_index)`` folds that set into a single LONG
    with map-side partials (source count is validated ≤
    ``max_sources`` ≤ 16, so masks fit comfortably and the mask
    rollup is bounded by 2^k rows worst-case, typically far fewer).
    Every downstream step (per-mask counts, per-source totals, the
    ≤ k(k-1)/2 pair expansion) runs over dimension-sized frames. The
    distinct-source collect is bounded metadata (≤ ``max_sources``
    rows + 1 for the over-limit check). NULL sources and empty texts
    are excluded; NULL-source rows would otherwise silently merge
    into one phantom source.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if not 2 <= max_sources <= 16:
        raise ValueError("max_sources must be in [2, 16]")
    srcs = sorted(
        r[0]
        for r in docs.select(source_col)
        .filter(F.col(source_col).isNotNull())
        .distinct()
        .limit(max_sources + 1)
        .collect()
    )
    if len(srcs) > max_sources:
        raise ValueError(
            f"more than max_sources={max_sources} distinct sources; "
            "bucket sources first (the mask rollup is 2^k worst-case)"
        )
    if len(srcs) < 2:
        raise ValueError("need at least 2 non-null sources to compare")
    bit_map = F.create_map(
        *[x for s, i in ((s, i) for i, s in enumerate(srcs))
          for x in (F.lit(s), F.lit(1 << i))]
    )
    from claims_data_spark.session import spread

    grams = (
        _word_ngram_frame(
            spread(
                docs.filter(F.col(source_col).isNotNull())
                .select(F.col(source_col).alias("_src"), F.col(text_col))
            ),
            text_col, n, "_grams",
        )
        .select(
            F.element_at(bit_map, F.col("_src")).cast("long").alias("_bit"),
            F.explode_outer("_grams").alias("gram"),
        )
        .filter(F.col("gram").isNotNull() & (F.length("gram") > 0))
    )
    masks = grams.groupBy("gram").agg(F.bit_or("_bit").alias("_mask"))
    mask_counts = masks.groupBy("_mask").agg(F.count(F.lit(1)).alias("_n"))
    pairs = [
        (srcs[a], srcs[b], 1 << a, 1 << b)
        for a in range(len(srcs))
        for b in range(a + 1, len(srcs))
    ]
    pair_df = masks.sparkSession.createDataFrame(
        pairs, "source_a string, source_b string, _ba long, _bb long"
    )
    joined = mask_counts.crossJoin(F.broadcast(pair_df))
    agg = joined.groupBy("source_a", "source_b", "_ba", "_bb").agg(
        F.sum(
            F.when(
                (F.col("_mask").bitwiseAND(F.col("_ba")) != 0)
                & (F.col("_mask").bitwiseAND(F.col("_bb")) != 0),
                F.col("_n"),
            ).otherwise(F.lit(0))
        ).alias("shared_ngrams"),
        F.sum(
            F.when(
                F.col("_mask").bitwiseAND(F.col("_ba")) != 0, F.col("_n")
            ).otherwise(F.lit(0))
        ).alias("total_a"),
        F.sum(
            F.when(
                F.col("_mask").bitwiseAND(F.col("_bb")) != 0, F.col("_n")
            ).otherwise(F.lit(0))
        ).alias("total_b"),
    )
    return agg.select(
        "source_a",
        "source_b",
        F.col("shared_ngrams").cast("long").alias("shared_ngrams"),
        F.col("total_a").cast("long").alias("total_a"),
        F.col("total_b").cast("long").alias("total_b"),
        F.when(
            (F.col("total_a") + F.col("total_b") - F.col("shared_ngrams"))
            > 0,
            F.col("shared_ngrams")
            / (F.col("total_a") + F.col("total_b") - F.col("shared_ngrams")),
        ).otherwise(F.lit(0.0)).alias("jaccard"),
    )

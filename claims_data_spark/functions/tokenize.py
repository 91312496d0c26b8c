"""Subword tokenization compiled to a single regexp — true greedy
longest-match wordpiece, entirely JVM-side.

Token-budget operators (`operators/corpus.pack_sequences`,
`chunk_documents`) and cost estimation need SUBWORD counts, not
whitespace counts. The classic implementation is an iterative
per-string loop (consume the longest vocab piece at the cursor,
advance, repeat) — not expressible as a SQL expression, and the
obvious port is a Python UDF.

The compile trick removes the loop: a regex alternation ordered
longest-first (``(piece_k|...|piece_1|[\\s\\S])``) scanned by
``regexp_extract_all`` IS greedy longest-match tokenization — at each
scan position the engine takes the first (= longest) alternative that
matches, emits it, and resumes at the match end; the single-char
fallback guarantees full tiling (unknown chars become char tokens,
wordpiece's UNK-per-char degradation). Leftmost-first alternation
semantics are shared by java.util.regex (Spark codegen) and RE2
(DuckDB), so the oracle reproduces token boundaries exactly.

One regexp scan per document, zero joins, zero Python — a map-only
stage at any corpus size. Vocabulary size is bounded by regex pattern
limits (~thousands of pieces — enough for the frequent-subword
vocabularies these counting/packing passes use; a full 50k-piece BPE
vocab belongs in the Arrow-batched path, where the per-batch trie
would amortize — deliberately NOT built, because every in-repo
consumer needs counts/boundaries, not production detokenization).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def compile_wordpiece_pattern(vocab: list[str]) -> str:
    """Longest-first alternation over the (regex-escaped, deduplicated)
    vocabulary, with a match-anything single-char fallback."""
    pieces = sorted({p for p in vocab if p}, key=lambda s: (-len(s), s))
    return "(" + "|".join(re.escape(p) for p in pieces) + "|[\\s\\S])"


def wordpiece_tokens(
    text_col: Column | str,
    vocab: list[str],
    lowercase: bool = True,
) -> Column:
    """Array of subword tokens tiling the text (whitespace runs
    dropped)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        c = F.lower(c)
    toks = F.regexp_extract_all(c, F.lit(compile_wordpiece_pattern(vocab)), 1)
    return F.filter(toks, lambda t: F.trim(t) != F.lit(""))


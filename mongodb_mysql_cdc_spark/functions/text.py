"""Text-analysis column functions (tokenize, shingles, quality metrics).

All pure ``pyspark.sql.functions`` — tokenization in the hot path must
never drop to Python at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Matches the DuckDB oracle spelling: string_split_regex(lower(trim(x)), '\s+')
TOKEN_SPLIT_RE = r"\s+"

# Cross-engine CASEFOLD contract (found by the TEXT fixture): plain
# lower() diverges between the JVM (java.lang.String.toLowerCase,
# Locale.ROOT) and DuckDB (utf8proc simple mapping) on exactly two
# Unicode mappings observable in lowercase output:
#   - Turkish İ (U+0130): Java → "i" + U+0307 (combining dot above),
#     utf8proc → plain "i";
#   - Greek Σ (U+03A3): Java is context-sensitive (word-final → ς
#     U+03C2), utf8proc is simple (always σ U+03C3).
# The pinned contract, applied identically ON BOTH ENGINES: after
# lower(), map ς → σ and DELETE U+0307. Legit combining-dot text is
# folded the same way on both sides, so hash parity is preserved; the
# casefold is for token identity, not display.
_FOLD_FROM = "\u03c2\u0307"  # ς, combining dot above
_FOLD_TO = "\u03c3"  # σ (U+0307 maps to nothing → deleted)

# In-corpus function words for stopword-ratio metrics (the harness corpus
# is lowercase word soup; see FIXTURES.md).
STOPWORDS = ("a", "the", "and", "of", "to")


def casefold(col: Column) -> Column:
    """lower() under the pinned cross-engine contract above."""
    return F.translate(F.lower(col), _FOLD_FROM, _FOLD_TO)


def sql_casefold(expr: str) -> str:
    """The DuckDB spelling of ``casefold`` — derived from the same
    constants so the two sides cannot drift (the compat.py builder
    pattern). chr(962)=ς chr(963)=σ chr(775)=U+0307."""
    return f"translate(lower({expr}), chr(962) || chr(775), chr(963))"


def sql_tokens(expr: str = "text") -> str:
    """The DuckDB spelling of ``tokens`` — ONE builder for every
    TOKS_CTE in the suite (5 modules spelled it by hand before round
    10; a casing-contract change would have had to land in all 5)."""
    return f"string_split_regex({sql_casefold(f'trim({expr})')}, '\\s+')"


def sql_toks_cte(extra_cols: str = "") -> str:
    """The shared ``toks`` CTE: doc_id, lang[, extra], tokens AS t."""
    return (
        f"toks AS (SELECT doc_id, lang,{extra_cols} "
        f"{sql_tokens('text')} AS t FROM documents)"
    )


def tokens(col: Column) -> Column:
    """Casefolded whitespace tokens (cross-engine contract above)."""
    return F.split(casefold(F.trim(col)), TOKEN_SPLIT_RE)


def distinct_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """n-word shingles: ['a b c', 'b c d', ...]; empty if fewer than n
    tokens. No explode, no shuffle — and O(tokens) per row.

    The shingle builder is wrapped in ``transform(array(toks), t -> …)``
    — a per-row LET binding. A HOF lambda body re-evaluates any captured
    non-attribute expression PER ELEMENT, so referencing ``toks`` inside
    the position lambda would re-run the whole inline tokenizer — split(casefold(trim(text))) — once per shingle
    position: O(tokens²) per document, measured 14× on the single-split
    documents scan (8.5 s → 0.67 s at sf0.1, hash-identical). As a HOF
    *argument* the token expression is evaluated exactly once per row,
    and the inner lambda references the bound VARIABLE ``t`` (an O(1)
    lookup per element). Same trick as SQL's lateral-alias let; Catalyst
    ProjectCollapse would inline a plain aliased projection right back."""

    def _sh(t: Column) -> Column:
        count = F.greatest(F.size(t) - (n - 1), F.lit(0))
        idx = F.sequence(F.lit(1), count)  # 1-based for F.slice
        return F.when(
            count > 0, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(toks), _sh), 1)


def chunk_starts(text_col: Column, stride: int = 400) -> Column:
    """1-based chunk-start offsets for overlapping-window chunking.

    Cross-engine EMPTY contract (found by the TEXT fixture): Spark's
    ``sequence(1, 0, 400)`` THROWS (Illegal sequence boundaries) while
    DuckDB's ``generate_series(1, 0, 400)`` returns an empty list — so a
    single empty document would kill the whole chunking job. Pinned on both
    engines: an empty document produces NO chunks (Spark guards with
    when(); the oracle's generate_series already behaves that way)."""
    n = F.length(text_col)
    return F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )


def stopword_ratio(toks: Column) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def type_token_ratio(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))


def bpe_ish_token_count(toks: Column, chars_per_piece: int = 4) -> Column:
    """Deterministic BPE-like token count estimate: each word contributes
    ceil(len/chars_per_piece) pieces (a real BPE vocab isn't in this
    container; the estimate is the standard ~4-chars/token heuristic)."""
    pieces = F.transform(
        toks,
        lambda t: F.ceil(F.length(t) / F.lit(float(chars_per_piece))).cast("long"),
    )
    return F.aggregate(pieces, F.lit(0).cast("long"), lambda a, x: a + x)

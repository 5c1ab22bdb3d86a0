"""Text-analysis functions for the web-scale training-data pipeline.

RSGISLib has no text ops (it is a GIS library); these are the
training-data-pipeline operations the task brief adds as first-class
components: language-ID (marker n-gram heuristic), quality scoring
(length/punct/stopword ratios), token counting, and document
fingerprinting. All are native Column expressions (codegen, zero
Python) — at 100 TB these run at scan speed.

Formulas are built from REPLACE/LENGTH arithmetic so the DuckDB
oracle can evaluate the identical expression.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# marker words per language — the classic stopword-profile heuristic
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " los "],
    "pt": [" de ", " e ", " os "],
}


def occurrences_sql(text: str, needle: str) -> str:
    """# of (non-overlapping) occurrences of needle — shared SQL."""
    esc = needle.replace("'", "''")
    return (
        f"(LENGTH({text}) - LENGTH(REPLACE({text}, '{esc}', '')))"
        f" / {len(needle)}"
    )


def token_count_sql(text: str) -> str:
    """Whitespace token count — shared SQL (single-space separated)."""
    return (
        f"(CASE WHEN LENGTH({text}) = 0 THEN 0 ELSE "
        f"LENGTH({text}) - LENGTH(REPLACE({text}, ' ', '')) + 1 END)"
    )


def lang_score_sql(text: str, lang: str) -> str:
    terms = " + ".join(occurrences_sql(text, m) for m in LANG_MARKERS[lang])
    return f"({terms})"


def lang_id_sql(text: str) -> str:
    """argmax language by marker count, alphabetical tie-break —
    shared SQL CASE chain (deterministic).

    NOTE each pairwise comparison inlines both score expressions
    (~4x redundant REPLACE scans per row if the engine's CSE doesn't
    collapse them). The scan-speed form is lang_score_cols_sql +
    lang_id_from_cols_sql: project the 5 scores as named columns
    once, compare columns in the CASE — identical semantics."""
    scores = {lg: lang_score_sql(text, lg) for lg in LANG_MARKERS}
    return _argmax_case(scores)


def _argmax_case(scores: dict[str, str]) -> str:
    ordered = sorted(LANG_MARKERS)  # alphabetical preference on ties
    whens = []
    for lg in ordered:
        others = [f"{scores[lg]} >= {scores[o]}" for o in ordered if o != lg]
        whens.append(f"WHEN {' AND '.join(others)} THEN '{lg}'")
    return "(CASE " + " ".join(whens) + " ELSE 'und' END)"


def lang_score_cols_sql(text: str, prefix: str = "__lang_") -> list[str]:
    """SELECT items projecting each language's marker score ONCE as a
    named column (both engines): the scan-speed companion to
    lang_id_from_cols_sql. Spark's CollapseProject keeps a projected
    alias un-inlined when the outer plan references it more than once
    (each score feeds 4 comparisons), so the 3-REPLACE score subtree
    evaluates once per language instead of once per comparison —
    ~4x fewer text passes per row at 100 TB. DuckDB evaluates
    subquery projections once by construction."""
    return [f"{lang_score_sql(text, lg)} AS {prefix}{lg}"
            for lg in sorted(LANG_MARKERS)]


def lang_id_from_cols_sql(prefix: str = "__lang_") -> str:
    """argmax CASE over the projected score columns — identical
    semantics (and tie-break) to lang_id_sql; NULL text propagates
    NULL scores, every WHEN is non-true, and the ELSE yields 'und'
    exactly as the inline form does."""
    return _argmax_case({lg: f"{prefix}{lg}" for lg in LANG_MARKERS})


def quality_score_sql(text: str) -> str:
    """Quality heuristic in [0,1]-ish: rewards mid-length docs and
    word structure, penalizes punctuation soup. All-arithmetic —
    shared SQL. (Shape follows public quality-filter recipes: length
    + symbol-ratio + stopword signals.)"""
    toks = token_count_sql(text)
    punct = (
        f"({occurrences_sql(text, '.')} + {occurrences_sql(text, ',')}"
        f" + {occurrences_sql(text, '!')} + {occurrences_sql(text, '#')})"
    )
    stop = lang_score_sql(text, "en")
    return (
        f"(LEAST(CAST({toks} AS DOUBLE) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))"
        f" * CAST(0.5 AS DOUBLE)"
        f" + LEAST(CAST({stop} AS DOUBLE) / CAST(10 AS DOUBLE), CAST(1 AS DOUBLE))"
        f" * CAST(0.3 AS DOUBLE)"
        f" + GREATEST(CAST(0.2 AS DOUBLE) - CAST({punct} AS DOUBLE)"
        f" / GREATEST(CAST(LENGTH({text}) AS DOUBLE), CAST(1 AS DOUBLE)),"
        f" CAST(0 AS DOUBLE)))"
    )


# BPE-style pre-tokenizer (the GPT-2 regex family reduced to the
# Java∩RE2 common subset: letter runs | digit runs | single
# non-alnum marks; no lookahead — RE2 has none — and ASCII-space
# delimiting to match the corpus/oracle). A letters+digits word like
# 'abc123' counts as 2 tokens, 'v2.0' as 4 — the merge-friendly
# granularity BPE vocabularies start from.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count_sql(text: str, engine: str) -> str:
    """Pre-tokenizer match count; the pattern is engine-identical,
    only the list-length idiom differs."""
    if engine == "spark":
        return f"size(regexp_extract_all({text}, '{BPE_TOKEN_RE}', 0))"
    if engine == "duckdb":
        return (f"cast(length(regexp_extract_all({text}, "
                f"'{BPE_TOKEN_RE}')) as int)")
    raise ValueError(f"engine must be spark/duckdb, got {engine!r}")


def fingerprint(text: Column | str) -> Column:
    """Order-invariant document fingerprint: md5 of the sorted
    distinct token multiset — catches shuffled-token duplicates that
    exact md5 misses."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.array_join(F.array_sort(F.array_distinct(F.split(c, " "))), " "))

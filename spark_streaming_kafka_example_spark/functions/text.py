"""Text-analysis column expressions for the documents table (SURVEY §7
Phase 3: language-ID, quality scoring, token counting, fingerprinting,
shingling). Every function returns a Column built from built-in functions
only, and every semantics choice is reproducible in ANSI/DuckDB SQL so the
oracle gate covers them.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "words",
    "distinct_words",
    "token_count_ws",
    "token_count_bpe",
    "stopword_ratio",
    "punct_ratio",
    "lang_scores",
    "lang_id",
    "fingerprint",
    "shingles",
    "pii_counts",
    "scrub_pii",
    "LANG_MARKERS",
    "EN_STOPWORDS",
    "BPE_TOKEN_RE",
    "BPE_TOKEN_RE_GPT2",
    "PII_PATTERNS",
]

# Whitespace tokenization: the documents fixture is single-space separated.
def words(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def distinct_words(col: str = "text") -> Column:
    return F.array_distinct(words(col))


def token_count_ws(col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(words(col))


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks —
# the usual pre-merge segmentation shape. Kept to portable regex syntax.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# GPT-2-style variant (text_token_count_bpe's fertility ratio): SINGLE
# digits (GPT-2 splits digit runs per digit) and \s whitespace class —
# deliberately DIFFERENT from BPE_TOKEN_RE above ('2024' is 1 token there,
# 4 here). Both constants live side by side so the two published token
# budgets are distinguishable by definition, not just by column name.
BPE_TOKEN_RE_GPT2 = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe(col: str = "text") -> Column:
    return F.size(F.regexp_extract_all(F.col(col), F.lit(BPE_TOKEN_RE), 0))


EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as",
)


def stopword_ratio(col: str = "text") -> Column:
    """Fraction of (non-distinct) tokens that are English stopwords."""
    w = words(col)
    hits = F.size(F.filter(w, lambda x: x.isin(*EN_STOPWORDS)))
    return hits / F.size(w)


def punct_ratio(col: str = "text") -> Column:
    """Fraction of characters that are neither alphanumeric nor space."""
    stripped = F.regexp_replace(F.col(col), "[^A-Za-z0-9 ]", "")
    return (F.length(F.col(col)) - F.length(stripped)) / F.length(F.col(col))


# Tiny marker vocabularies per language — the classic cheap n-gram/stopword
# language-ID heuristic (real corpora: use fastText/CLD; this container has
# neither, and the heuristic is the oracle-checkable shape).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "with", "for"),
    "de": ("der", "die", "das", "und", "ist", "mit", "ein", "nicht"),
    "es": ("el", "la", "de", "que", "los", "una", "con", "por"),
    "fr": ("le", "la", "les", "et", "des", "une", "est", "pour"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"),
}


def lang_scores(col: str = "text") -> dict[str, Column]:
    dw = distinct_words(col)
    return {
        lang: F.size(F.array_intersect(dw, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: str = "text") -> Column:
    """argmax over marker-hit counts; ties resolve to the earlier language in
    LANG_MARKERS order (CASE chain: each arm only checks the languages after
    it, so the first maximal one wins)."""
    scores = lang_scores(col)
    langs = list(LANG_MARKERS)
    expr = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for later in langs[i + 1:]:
            c = scores[langs[i]] >= scores[later]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    return expr


# PII redaction (training-data cleaning): regexes kept to the common
# Java-regex/RE2 subset (no backrefs, no lookaround; literal dots via [.])
# so Spark and the DuckDB oracle match byte-for-byte. Order matters: email
# before ip (an email's domain can contain digit runs), ssn before ip.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("ip", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
)


def pii_counts(col: str = "text") -> dict[str, Column]:
    """Per-kind match counts on the ORIGINAL text (regexp_extract_all —
    identical builtin in DuckDB).

    Counts are per-pattern on the raw text and may OVERLAP: a span matching
    two patterns (e.g. the IP-shaped local part of ``1.2.3.4@x.com``) counts
    toward both kinds, while ``scrub_pii`` — which applies patterns in
    PII_PATTERNS order to the progressively-scrubbed text — emits only the
    first pattern's placeholder for it. So ``sum(n_*)`` can exceed the
    number of placeholders actually emitted; the counts answer "how often
    does each pattern fire", not "how many redactions happened". Both
    engines replay the same raw-text semantics, so oracle parity is
    unaffected. The deviation is deliberate: counting on scrubbed text
    would hide cross-kind hits from the data-quality profile."""
    return {
        kind: F.size(F.regexp_extract_all(F.col(col), F.lit(pat), 0))
        for kind, pat, _ in PII_PATTERNS
    }


def scrub_pii(col: str = "text") -> Column:
    """Text with every PII_PATTERNS match replaced by its placeholder
    token. Chained regexp_replace — global in both Spark and DuckDB
    (DuckDB needs the 'g' flag; the oracle SQL passes it)."""
    out = F.col(col)
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def fingerprint(col: str = "text") -> Column:
    """Document fingerprint: md5 over the sorted distinct token set —
    order/duplication-insensitive content hash (the cheap exact-ish dedup
    key; SURVEY §7 Phase 3)."""
    return F.md5(F.concat_ws(" ", F.array_sort(distinct_words(col))))


def shingles_from_words(words_col: str, n: int = 3) -> Column:
    """Word n-gram shingles from a materialized words array column —
    referencing one attribute instead of re-evaluating split() per
    subexpression. Empty when the doc is shorter than n words. Stays in
    codegen via transform/sequence — no UDF."""
    w = words_col
    return F.expr(
        f"""
        CASE WHEN size({w}) >= {n}
             THEN transform(sequence(1, size({w}) - {n - 1}),
                            i -> concat_ws(' ', slice({w}, i, {n})))
             ELSE array()
        END
        """
    )


def shingles(col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles of a text column (see shingles_from_words)."""
    return shingles_from_words(f"split({col}, ' ')", n)

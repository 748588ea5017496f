"""Text-processing column expressions (tokenization, shingling, hashing).

All JVM-side (``pyspark.sql.functions`` only — no Python UDFs): these run in
whole-stage codegen and cost nothing extra at 100 TB. Hashing is md5-based so
the DuckDB oracle can reproduce values exactly; ``xxhash64`` would be faster
but engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny multilingual stopword table for the language-ID heuristic. Public
# knowledge (most-frequent function words per language).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "dans", "que"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"),
}

# Word-ish tokens OR single punctuation — a BPE-ish pre-tokenizer regex.
BPE_TOKEN_RE = r"\w+|[^\w\s]"


def normalize(col: Column) -> Column:
    """Lowercase + collapse whitespace + trim — canonical text form for
    fingerprinting and shingling."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties removed → array<string>.

    ``array_remove`` (codegen) rather than a ``filter`` lambda
    (CodegenFallback): after ``trim``, the only possible empty element is
    the single ``[""]`` a fully-blank string splits to, and array_remove
    drops every ``""`` either way — identical semantics, no interpreter.
    """
    return F.array_remove(F.split(F.trim(col), r"\s+"), "")


def word_ngram_structs(toks: Column, n: int = 3) -> Column:
    """Word n-grams as an array of n-field structs — pure codegen.

    ``arrays_zip`` over n shifted ``slice`` views builds the grams without a
    lambda: struct equality is fieldwise, so ``array_distinct``/joins/
    grouping treat a gram struct exactly like the space-joined string
    (tokens can't contain whitespace, so both encodings are injective).
    """
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(toks, i + 1, length) for i in range(n)])


# Base for the polynomial rolling hash below. Any value coprime with the
# Mersenne prime works; 65599 (sdbm) keeps every fold step well inside int64
# when reduced mod 2^31-1 after each multiply-add.
POLY_BASE = 65599


def poly_char_hash(col: Column, pos: Column, k: int, prime: int) -> Column:
    """Polynomial hash of the k-char substring of ``col`` at 1-based ``pos``.

    h ← code(c₀); h ← (h·B + code(cⱼ)) mod prime — pure integer arithmetic
    that stays inside whole-stage codegen, unlike an md5-per-shingle pass
    (md5 + hex + base-conv was the profiled floor of the MinHash pipeline).
    Reproducible in any engine with ord/substr (DuckDB:
    ``(h * 65599 + ord(substr(s, i, 1))) % prime`` folds). Char codes match
    across engines for BMP text; the test corpus is ASCII.
    """
    h = F.ascii(col.substr(pos, F.lit(1))).cast("long")
    for j in range(1, k):
        c = F.ascii(col.substr(pos + F.lit(j), F.lit(1))).cast("long")
        h = (h * F.lit(POLY_BASE) + c) % F.lit(prime)
    return h


def poly_char_hash_sql(text_expr: str, pos_expr: str, k: int, prime: int) -> str:
    """DuckDB twin of :func:`poly_char_hash` — identical fold, literal for
    literal, so hash values are bit-equal across engines."""
    h = f"CAST(ord(substr({text_expr}, {pos_expr}, 1)) AS BIGINT)"
    for j in range(1, k):
        c = f"ord(substr({text_expr}, {pos_expr} + {j}, 1))"
        h = f"(({h}) * {POLY_BASE} + {c}) % {prime}"
    return h


def md5_long(col: Column, bits: int = 32) -> Column:
    """Deterministic non-negative integer hash from the md5 hex digest.

    ``bits`` ≤ 60 keeps the value inside a signed 64-bit range. Reproducible
    in any engine with an md5 function (DuckDB:
    ``CAST(concat('0x', substr(md5(x), 1, n)) AS BIGINT)``).
    """
    nhex = bits // 4
    return F.conv(F.substring(F.md5(col), 1, nhex), 16, 10).cast("long")


def stopword_hits(toks: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (with multiplicity).

    One compiled-regex scan over the double-space-joined token string:
    ``" tok1  tok2  ... "`` makes every token independently matchable by
    ``" (w1|w2|…) "`` even when two stopwords are adjacent (each match
    consumes one of the two separator spaces, leaving one for the next).
    Codegen, no per-token work: this replaced first a ``filter`` lambda
    (interpreted) and then a 10-deep ``array_remove`` chain (10 array
    copies per doc per language).

    Stopword tables are plain ASCII words, so the alternation needs no
    regex escaping.
    """
    padded = F.concat(F.lit(" "), F.concat_ws("  ", toks), F.lit(" "))
    pattern = " (" + "|".join(STOPWORDS[lang]) + ") "
    return F.size(F.regexp_extract_all(padded, F.lit(pattern), 0)).cast("long")

"""Text-analysis operators for training-data pipelines (north-rule
extension set; no reference analogue — built from Spark SQL primitives so
everything stays JVM-side, with no Python worker).

Not everything is whole-stage-codegen: Spark 4.1's higher-order functions
(``transform``, ``filter``, ``aggregate``) are ``CodegenFallback``, so
under ``char_ngrams``, ``stopword_count``, ``fingerprint`` and the dedup
signatures the generated projections call ``ArrayTransform.eval`` (seen in
JFR profiles). A HOF-free MinHash (exploded positions and a per-doc
``min``, with identical signatures and pairs) measured only 3.03–3.78 →
2.94–3.31 s of CPU per ``dedup_minhash_lsh`` query run on a 4-core VM,
so the HOFs stay.

All functions are deterministic and ANSI-SQL-expressible so the DuckDB
oracle can replay them exactly:
 - token_count: whitespace tokenization
 - bpe_token_count: GPT-2-shaped pretokenizer regex (RE2-safe subset)
 - quality features: char length, punctuation ratio, stopword ratio, a
   composite quality score
 - lang_id: marker-stopword heuristic (en/unknown)
 - fingerprint: min-of-md5 over character 5-grams (a 1-permutation MinHash
   — deterministic because md5 is standardized on both engines)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "of", "and", "to", "in", "is", "for", "on", "with", "as",
             "at", "by", "from")


def _tokens(col: str) -> F.Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def token_count(col: str) -> F.Column:
    return F.size(_tokens(col)).cast("long")


# GPT-2-style pretokenizer shape, restricted to constructs Java regex and
# RE2 (DuckDB) treat identically: contraction suffixes, letter runs, digit
# runs, punctuation runs (each optionally space-prefixed), whitespace runs.
# The real GPT-2 pattern's \p{L}/\p{N} classes and trailing-space lookahead
# are dropped for cross-engine replay; counts track BPE pre-token counts
# closely on ASCII-dominant corpora (the point is a cheap length-in-tokens
# signal, not an exact tokenizer).
BPE_TOKEN_RE = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| +"


def bpe_token_count(col: str) -> F.Column:
    """Count of BPE-ish pre-tokens — JVM-side regexp_extract_all, no UDF."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(BPE_TOKEN_RE), 0)).cast("long")


def char_ngrams(col: str, n: int) -> F.Column:
    """Array of all character n-grams (sliding, step 1). Guarded: Spark's
    sequence(1, 0) counts DOWN, so short strings need an explicit empty."""
    return F.expr(
        f"CASE WHEN length({col}) >= {n} THEN "
        f"transform(sequence(1, length({col}) - {n - 1}), i -> substring({col}, i, {n})) "
        f"ELSE array() END"
    )


def stopword_count(col: str) -> F.Column:
    toks = _tokens(col)
    arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"size(filter(split(trim({col}), '\\\\s+'), t -> array_contains(array({arr}), lower(t))))"
    ).cast("long")


def punct_count(col: str) -> F.Column:
    return (F.length(col) - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))).cast("long")


def with_text_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Adds n_chars_f, n_tokens, n_bpe_tokens, n_stopwords, punct_ratio,
    stopword_ratio, quality_score, lang_pred."""
    df = (
        df.withColumn("n_chars_f", F.length(col).cast("long"))
        .withColumn("n_tokens", token_count(col))
        .withColumn("n_bpe_tokens", bpe_token_count(col))
        .withColumn("n_stopwords", stopword_count(col))
        .withColumn("n_punct", punct_count(col))
    )
    df = df.withColumn(
        "punct_ratio", F.col("n_punct") / F.greatest(F.col("n_chars_f"), F.lit(1))
    ).withColumn(
        "stopword_ratio", F.col("n_stopwords") / F.greatest(F.col("n_tokens"), F.lit(1))
    )
    # composite quality score in [0,1]: length sweet spot + low punctuation +
    # presence of function words (a standard pretraining-filter shape)
    df = df.withColumn(
        "quality_score",
        F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0)) * F.lit(0.5)
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * F.lit(0.25)
        + F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * F.lit(0.25),
    )
    df = df.withColumn(
        "lang_pred", F.when(F.col("n_stopwords") >= 1, F.lit("en")).otherwise(F.lit("unknown"))
    )
    return df.drop("n_punct")


def fingerprint(col: str = "text", n: int = 5) -> F.Column:
    """Document fingerprint = lexicographic min of md5 over char 5-grams
    (1-perm MinHash; md5 is identical across engines)."""
    return F.array_min(F.transform(char_ngrams(col, n), lambda g: F.md5(g)))

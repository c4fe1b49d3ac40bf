"""Text-analysis operators for large-scale document pipelines.

Beyond-reference layer (the reference has no document processing): these
are the text ops a 100 TB training-data pipeline needs, expressed as
native Column expressions so they run JVM-side inside whole-stage
codegen — no Python in the hot path.

All expressions are deterministic and mirrored 1:1 by ANSI-SQL oracles
in ``plans/queries.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Words whose presence marks English text — tiny stopword head-list,
# shared verbatim with the DuckDB oracle regex.
EN_STOPWORD_PATTERN = r"\b(the|and|of|to|in|is|a|for|with|on)\b"
PUNCT_PATTERN = r"[.,!?;:]"


def token_count_expr(col: str = "text") -> Column:
    """Whitespace tokenization count (regex split, not single-space)."""
    return F.size(F.split(F.trim(F.col(col)), r"\s+")).cast("int")


def char_count_expr() -> Column:
    return F.length(F.col("text")).cast("int")


def punct_ratio_expr(col: str = "text") -> Column:
    """Punctuation chars / total chars — double division is IEEE-exact
    given identical operands, so it is oracle-safe without rounding."""
    return F.regexp_count(F.col(col), F.lit(PUNCT_PATTERN)).cast("double") / F.length(F.col(col)).cast("double")


def stopword_hits_expr(col: str = "text") -> Column:
    return F.regexp_count(F.lower(F.col(col)), F.lit(EN_STOPWORD_PATTERN)).cast("int")


def stopword_ratio_expr(col: str = "text") -> Column:
    return stopword_hits_expr(col).cast("double") / token_count_expr(col).cast("double")


def lang_id_expr() -> Column:
    """N-gram/stopword heuristic language ID of ``text``: three or more
    English stopword hits → 'en', else 'unknown'. (A real pipeline
    would plug a model here; the classifier interface — one label
    column out — is what downstream operators depend on.)"""
    return F.when(stopword_hits_expr() >= 3, F.lit("en")).otherwise(F.lit("unknown"))


def quality_score_expr(col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: length in a sane band,
    low punctuation density, high stopword density. Deterministic
    double arithmetic, mirrored in the oracle."""
    len_ok = (F.length(F.col(col)) >= 100) & (F.length(F.col(col)) <= 20000)
    return (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(punct_ratio_expr(col) <= 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stopword_ratio_expr(col) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    )


# BPE-style pre-tokenizer (GPT-2-family shape, lookahead-free so the
# same pattern runs on Java regex AND RE2/DuckDB): a token is a
# space-glued letter run, digit run, punctuation run, or a lone
# whitespace char.
BPE_TOKEN_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s"


def bpe_token_count_expr(col: str = "text") -> Column:
    """Token count under the BPE-ish pre-tokenizer — the unit that
    matters for training-data budgeting (whitespace counts undercount
    punctuation-heavy text)."""
    return F.regexp_count(F.col(col), F.lit(BPE_TOKEN_PATTERN)).cast("int")


ROLLING_HASH_BASE = 257
ROLLING_HASH_MOD = 1_000_000_007


def rolling_fingerprint_expr(col: str = "text") -> Column:
    """Polynomial rolling hash (Rabin-Karp) over the character stream:
    ``h = (h * 257 + codepoint) mod 1e9+7``. Unlike md5 this is
    incrementally updatable (windowed substring hashes reuse prefix
    state), which is what content-defined chunking and plagiarism-style
    shingling need at scale. Modulus keeps every intermediate < 2^38,
    safe under ANSI overflow checking; pure JVM fold, no UDF."""
    return F.aggregate(
        F.split(F.col(col), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLLING_HASH_BASE + F.ascii(ch)) % ROLLING_HASH_MOD,
    )


def normalized_text_expr(col: str = "text") -> Column:
    """Canonical form for fingerprinting: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def fingerprint_expr(col: str = "text") -> Column:
    """Portable document fingerprint: md5 hex of the normalized text.
    md5 is identical across Spark/DuckDB/Python — unlike ``F.hash``
    (Spark-private Murmur3, the reference's choice in ``utils.py:8-31``)
    — so fingerprints are stable across engines and releases."""
    return F.md5(normalized_text_expr(col))


def word_ngrams_expr(col: str = "text", n: int = 13) -> Column:
    """Distinct word-level n-grams of the normalized text (the unit of
    benchmark-decontamination checks, GPT-3-style 13-grams). See
    ``word_ngrams_all_expr`` for the evaluation strategy."""
    return F.array_distinct(word_ngrams_all_expr(col, n))


def word_ngrams_all_expr(col: str = "text", n: int = 3) -> Column:
    """All word-level n-grams (with multiplicity, in document order) of
    the normalized text — the unit of Gopher-style intra-document
    repetition scoring, where the DUPLICATE fraction is the signal so
    multiplicity must be preserved. Pure Column expression inside
    whole-stage codegen; empty when < n words.

    The token array is bound as a lambda variable via a one-element
    outer ``transform`` so the lowercase+regex+split pipeline runs
    ONCE per document; inlining it in the per-gram lambda would
    re-evaluate it for every gram index — O(words^2) per doc (the
    measured transform-lambda pitfall from the minhash shingling
    work)."""
    norm = f"trim(regexp_replace(lower({col}), '\\\\s+', ' '))"
    return F.expr(
        f"transform(array(split({norm}, ' ')), w -> "
        f"case when size(w) >= {n} then "
        f"transform(sequence(1, size(w) - {n - 1}), i -> array_join(slice(w, i, {n}), ' ')) "
        f"else cast(array() as array<string>) end)[0]"
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-source change audit between two corpus snapshots, each given
    as (doc_id, source, f) triples where ``f`` is the normalized-text
    fingerprint (:func:`fingerprint_expr`): counts of added / removed /
    modified / unchanged documents per source (the q210 contract).

    100 TB shape: callers fingerprint BEFORE calling, so only
    (id, source, 16-byte md5) ever reaches the full-outer join — text
    never moves.
    """
    o = old.select(
        "doc_id",
        F.col("source").alias("_src_old"),
        F.col("f").alias("_f_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        "doc_id",
        F.col("source").alias("_src_new"),
        F.col("f").alias("_f_new"),
        F.lit(True).alias("_in_new"),
    )
    # Presence is keyed on per-side literal markers, NOT fingerprint
    # nullity: a row whose fingerprint is legitimately NULL (null text
    # -> md5 NULL) must still classify by which snapshot it appears in.
    # Two present rows with equal-or-both-NULL fingerprints compare
    # null-safely as unchanged.
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_f_old").eqNullSafe(F.col("_f_new")), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select(
            F.coalesce("_src_new", "_src_old").alias("source"), status.alias("status")
        )
        .groupBy("source", "status")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )

"""Text analysis operators: language ID (stopword-hit heuristic),
quality scoring, token counting, document fingerprinting. All pure
Column math — runs in whole-stage codegen, SQL-expressible (so each can
be re-derived in DuckDB SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (deterministic heuristic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "una", "por", "con"],
}

# a compact BPE-ish token pattern: words, numbers, or single punctuation
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _marker_hits(words: Column, markers: list[str]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def language_id_col(text: Column) -> Column:
    """Best-scoring marker language, 'und' when nothing hits."""
    words = F.split(F.lower(text), r"\s+")
    scores = {lang: _marker_hits(words, m) for lang, m in LANG_MARKERS.items()}
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # deterministic tie-break: languages in sorted order, strict >
    for lang in sorted(scores):
        s = scores[lang]
        better = s > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s).otherwise(best_score)
    return best_lang


def token_count_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def quality_score_col(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + alpha ratio +
    punctuation-density penalty + mean word length band."""
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    mean_wl = n / F.greatest(n_words, F.lit(1))
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = alpha / F.greatest(n, F.lit(1))
    punct_penalty = F.least(punct * F.lit(10.0) / F.greatest(n, F.lit(1)), F.lit(1.0))
    wl_score = F.when((mean_wl >= 3) & (mean_wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    raw = len_score * 0.3 + alpha_ratio * 0.4 + (F.lit(1.0) - punct_penalty) * 0.1 + wl_score * 0.2
    # truncate (not round): identical across engines, oracle-friendly
    return F.floor(raw * 1e6) / 1e6


def fingerprint_col(text: Column) -> Column:
    """Order-insensitive document fingerprint: xor-fold of word hashes
    (a rolling-hash-style content id that survives reordering-free
    normalization; exact-dup detection via groupBy on it)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    return F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc.bitwiseXOR(F.xxhash64(w))
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (
        df.withColumn("lang_id", language_id_col(t))
        .withColumn("n_tokens", token_count_col(t))
        .withColumn("quality", quality_score_col(t))
        .withColumn("fingerprint", fingerprint_col(t))
    )


def token_rarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_below: int = 3,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Corpus-frequency token rarity per document — the unigram-LM
    quality signal of a curation pipeline (a perplexity stand-in that
    stays integer-exact, so a SQL oracle can re-derive every value):

    * ``n_tokens``  — tokens in the doc (single-space split, the same
      tokenization as repetition_stats/bm25).
    * ``sum_freq``  — sum over the doc's tokens of each token's CORPUS
      occurrence count (bigint: all integer sums, order-free).
    * ``rare_n`` / ``rare_frac`` — tokens whose corpus count is below
      ``rare_below`` (gibberish/OCR noise scores high, boilerplate low).
    * ``avg_freq``  — sum_freq / n_tokens, ONE int/int double division
      at the end (IEEE-identical across engines; no float sums).

    Scale shape: explode -> two-level aggregate. The corpus count table
    aggregates map-side (partial combine on token) and is joined back
    to the exploded tokens on the token column. Zipfian vocabularies
    are tiny relative to the corpus (~millions of distinct tokens for
    100 TB of text), so the default hints the vocab side BROADCAST and
    the exploded frame is never shuffled for the join; pass
    ``broadcast_vocab=False`` for a pathological vocabulary (e.g.
    hashed n-grams) and the plan degrades to a sort-merge join that AQE
    can still flip back per-stage. The per-doc re-aggregate groups on
    the document id, so at most one wide shuffle of (doc_id, token)
    pairs total.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("corpus_n"))
    joined = toks.join(F.broadcast(vocab) if broadcast_vocab else vocab, "tok")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("corpus_n").alias("sum_freq"),
            F.sum((F.col("corpus_n") < rare_below).cast("long")).alias("rare_n"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("sum_freq").cast("long").alias("sum_freq"),
            F.col("rare_n").cast("long").alias("rare_n"),
            (F.col("rare_n").cast("double") / F.col("n_tokens").cast("double")).alias(
                "rare_frac"
            ),
            (F.col("sum_freq").cast("double") / F.col("n_tokens").cast("double")).alias(
                "avg_freq"
            ),
        )
    )

"""BM25 document ranking — the classic lexical relevance scorer a
curation pipeline uses for query-targeted corpus selection ("give me
the top documents about X from 100 TB of crawl").

Scale shape:
* doc lengths + term frequencies come from ONE explode keyed by
  (doc_id, term), filtered to the query vocabulary BEFORE the shuffle
  (the isin predicate is a codegen'd hash probe of a tiny literal
  set, so shuffle volume is O(matching terms), not O(words));
* corpus stats (N, avgdl) and per-term document frequencies are tiny
  aggregates broadcast back onto the fact rows (crossJoin of a 1-row
  frame + broadcast equi-join on term — no fact-table reshuffle);
* the final top-k per term is one window over the small scored frame.

Numeric determinism: the standard BM25 idf uses log(), whose last ulp
is libm-implementation-specific — a value hash across engines would
be luck. This scorer uses the rational idf variant
    idf(t) = (N - df + 0.5) / (df + 0.5)
(the same monotone ranking order as Robertson-Sparck-Jones without
the log wrapper): every input is an exact-integer-valued double, and
+ - * / are exactly rounded by IEEE 754, so identically-parenthesized
expressions produce bit-identical doubles in Spark and DuckDB. An
oracle SQL that mirrors the parenthesization verbatim reproduces them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
# derived constants are computed ONCE in Python doubles and inlined as
# string-parsed literals on both engines (DuckDB parses bare decimal
# literals as DECIMAL, whose int128->double conversion is not
# guaranteed to match strtod for >53-bit mantissas — K1 + 1.0 hits
# that; 1.0 - B is exact but inlined the same way for symmetry)
K1_PLUS_1 = K1 + 1.0
ONE_MINUS_B = 1.0 - B


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents per query term by rational-idf BM25.

    Returns (term, doc_id, tf, df, dl, score, bm25_rank) — score is a
    double whose bits the DuckDB oracle reproduces (see module doc).
    """
    from pyspark.sql import Window

    words = F.split(F.col(text_col), " ")
    docs = df.select(
        F.col(id_col), F.size(words).alias("dl"), F.explode(words).alias("term")
    )
    # tf per (doc, term), restricted to the query vocabulary pre-shuffle
    tf = (
        docs.filter(F.col("term").isin(*terms))
        .groupBy(id_col, "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    # corpus stats: N docs, average doc length (exact ints -> exact division)
    stats = df.select(
        F.count("*").alias("n_docs"),
        (F.sum(F.size(words)).cast("double") / F.count("*").cast("double")).alias(
            "avgdl"
        ),
    )
    # document frequency per term (tiny: <= |terms| rows -> broadcast)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.crossJoin(F.broadcast(stats)).join(F.broadcast(dfreq), on="term")

    n_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    # parenthesization mirrored verbatim in the oracle SQL
    idf = (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    denom = tf_d + F.lit(K1) * (
        F.lit(ONE_MINUS_B) + F.lit(B) * (dl_d / F.col("avgdl"))
    )
    score = idf * ((tf_d * F.lit(K1_PLUS_1)) / denom)

    w = Window.partitionBy("term").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("score", score)
        .withColumn("bm25_rank", F.row_number().over(w))
        .filter(F.col("bm25_rank") <= k)
        .select("term", id_col, "tf", "df", "dl", "score", "bm25_rank")
    )

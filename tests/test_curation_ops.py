"""Round-5 curation operators: repetition filters and BM25 ranking."""

from osmzen_spark.ops.ranking import bm25_rank
from osmzen_spark.ops.repetition import repetition_filter, repetition_stats


def test_repetition_stats_spam_vs_clean(spark):
    docs = spark.createDataFrame(
        [
            # pure bigram spam: "foo bar" repeated
            (1, "foo bar foo bar foo bar foo bar"),
            # clean: all bigrams distinct
            (2, "a b c d e f g h"),
            # trigram dup: "x y z" twice with noise between
            (3, "x y z q w x y z"),
            # too short for a trigram
            (4, "p q"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: 7 bigrams, "foo bar" x4 -> top frac 4/7; all trigrams dup'd
    assert rows[1]["n_bigrams"] == 7
    assert rows[1]["top_bigram_n"] == 4
    assert abs(rows[1]["top_bigram_frac"] - 4 / 7) < 1e-12
    assert rows[1]["dup_trigram_frac"] > 0.5
    # doc 2: everything unique
    assert rows[2]["top_bigram_n"] == 1
    assert rows[2]["dup_trigram_frac"] == 0.0
    # doc 3: "x y z" appears twice among 6 trigrams -> dup frac 2/6
    assert abs(rows[3]["dup_trigram_frac"] - 2 / 6) < 1e-12
    # doc 4: one bigram, zero trigrams -> frac 0, no crash
    assert rows[4]["n_bigrams"] == 1
    assert rows[4]["dup_trigram_frac"] == 0.0

    kept = {r["doc_id"] for r in repetition_filter(docs).select("doc_id").collect()}
    assert 2 in kept and 1 not in kept  # spam dropped, clean kept


def test_bm25_ranks_matching_docs_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "table table table scan"),  # high tf for 'table', short
            (2, "table scan row filter merge sort window window"),
            (3, "join join join join"),
            (4, "row scan filter"),  # no query terms at all
        ],
        ["doc_id", "text"],
    )
    res = bm25_rank(docs, terms=["table", "join"], k=2).collect()
    by_term = {}
    for r in res:
        by_term.setdefault(r["term"], []).append(r)
    # doc 1 (tf=3, dl=4) must outrank doc 2 (tf=1, dl=8) for 'table'
    t = sorted(by_term["table"], key=lambda r: r["bm25_rank"])
    assert [r["doc_id"] for r in t] == [1, 2]
    assert t[0]["score"] > t[1]["score"] > 0
    # 'join' only matches doc 3
    assert [r["doc_id"] for r in by_term["join"]] == [3]
    # df counts docs containing the term
    assert t[0]["df"] == 2 and by_term["join"][0]["df"] == 1


def test_repetition_stats_matches_python_reference(spark):
    import random

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d", "e"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ]

    def ref(text):
        w = text.split(" ")
        big = list(zip(w, w[1:]))
        tri = list(zip(w, w[1:], w[2:]))
        if not big:
            return (0, 0, 0.0, 0.0)
        from collections import Counter

        bc = Counter(big)
        top = max(bc.values())
        dup = 0.0
        if tri:
            tc = Counter(tri)
            dup = sum(c for c in tc.values() if c > 1) / len(tri)
        return (len(big), top, top / len(big), dup)

    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["top_bigram_n"],
            r["top_bigram_frac"],
            r["dup_trigram_frac"],
        )
        for r in __import__(
            "osmzen_spark.ops.repetition", fromlist=["repetition_stats"]
        ).repetition_stats(spark.createDataFrame(docs, ["doc_id", "text"])).collect()
    }
    for i, text in docs:
        assert got[i] == ref(text), (i, text, got[i], ref(text))


def test_bm25_matches_python_reference(spark):
    import random

    rng = random.Random(7)
    vocab = ["x", "y", "z", "table", "join"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(40)
    ]
    from osmzen_spark.ops.ranking import B, K1, K1_PLUS_1, ONE_MINUS_B

    n = len(docs)
    dls = {i: len(t.split(" ")) for i, t in docs}
    avgdl = float(sum(dls.values())) / float(n)
    terms = ["table", "join"]
    tf = {
        (i, t): sum(1 for w in text.split(" ") if w == t)
        for i, text in docs
        for t in terms
    }
    dfreq = {t: sum(1 for i, _ in docs if tf[(i, t)] > 0) for t in terms}

    def score(i, t):
        idf = (float(n) - float(dfreq[t]) + 0.5) / (float(dfreq[t]) + 0.5)
        return idf * (
            (float(tf[(i, t)]) * K1_PLUS_1)
            / (float(tf[(i, t)]) + K1 * (ONE_MINUS_B + B * (float(dls[i]) / avgdl)))
        )

    expected = {}
    for t in terms:
        ranked = sorted(
            ((i, score(i, t)) for i, _ in docs if tf[(i, t)] > 0),
            key=lambda x: (-x[1], x[0]),
        )[:5]
        expected[t] = ranked

    res = __import__("osmzen_spark.ops.ranking", fromlist=["bm25_rank"]).bm25_rank(
        spark.createDataFrame(docs, ["doc_id", "text"]), terms=terms, k=5
    ).collect()
    got = {}
    for r in res:
        got.setdefault(r["term"], []).append((r["bm25_rank"], r["doc_id"], r["score"]))
    for t in terms:
        rows = sorted(got[t])
        assert [(d, s) for _, d, s in rows] == expected[t]  # bit-exact scores

"""frequency_cap + token_rarity unit tests."""

import hashlib


def _bucket(k) -> str:
    return hashlib.md5(str(k).encode()).hexdigest()[:8]


def test_frequency_cap_keeps_hash_order_top_n(spark):
    from osmzen_spark.ops.capping import frequency_cap

    rows = [(i, "g%d" % (i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, ["k", "grp"])
    out = frequency_cap(df, key_col="k", group_col="grp", n=5, keep_rank=True)
    got = {(r["grp"], r["k"]): r["cap_rank"] for r in out.collect()}
    # scalar reference: per group, 5 smallest (md5-prefix, key) pairs
    for g in ("g0", "g1", "g2"):
        members = sorted(
            (k for k, gg in rows if gg == g), key=lambda k: (_bucket(k), k)
        )
        expect = {(g, k): i + 1 for i, k in enumerate(members[:5])}
        assert {kk: v for kk, v in got.items() if kk[0] == g} == expect
    # cap is respected and deterministic on re-run
    assert out.count() == 15
    again = frequency_cap(df, key_col="k", group_col="grp", n=5)
    assert sorted((r["grp"], r["k"]) for r in again.collect()) == sorted(got)


def test_frequency_cap_plan_has_window_group_limit(spark):
    from osmzen_spark.ops.capping import frequency_cap

    df = spark.createDataFrame([(i, "g") for i in range(10)], ["k", "grp"])
    plan = (
        frequency_cap(df, "k", "grp", 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the rank predicate must push a partial per-task limit BELOW the
    # exchange (the mega-group skew guard); if Spark ever stops
    # planning WindowGroupLimit this operator needs a manual two-phase
    assert "WindowGroupLimit" in plan, plan


def test_token_rarity_matches_scalar_reference(spark):
    import random
    from collections import Counter

    from osmzen_spark.ops.textstats import token_rarity

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "rare1", "rare2"]
    weights = [30, 20, 10, 5, 1, 1]
    docs = [
        (
            i,
            " ".join(
                rng.choices(vocab, weights=weights)[0] for _ in range(rng.randint(1, 25))
            ),
        )
        for i in range(50)
    ]
    corpus = Counter(w for _, t in docs for w in t.split(" "))
    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_freq"], r["rare_n"], r["rare_frac"], r["avg_freq"])
        for r in token_rarity(
            spark.createDataFrame(docs, ["doc_id", "text"]), rare_below=3
        ).collect()
    }
    for i, text in docs:
        ws = text.split(" ")
        n = len(ws)
        sf = sum(corpus[w] for w in ws)
        rn = sum(1 for w in ws if corpus[w] < 3)
        assert got[i] == (n, sf, rn, float(rn) / float(n), float(sf) / float(n))

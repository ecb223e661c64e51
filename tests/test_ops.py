"""Training-data ops tests: text stats."""

from osmzen_spark.ops.textstats import with_text_stats


def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat and runs away fast"),  # near dup
        (4, "der schnelle braune fuchs springt und das ist ein test mit auf"),
        (5, "completely different content about spark distributed computing engines"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_stats(spark):
    out = {r["doc_id"]: r for r in with_text_stats(docs_df(spark)).collect()}
    assert out[1]["lang_id"] == "en"
    assert out[4]["lang_id"] == "de"
    assert out[1]["n_tokens"] == 13
    assert 0.0 <= out[1]["quality"] <= 1.0
    assert out[1]["fingerprint"] == out[2]["fingerprint"]

from osmzen_spark.ops.textstats import with_text_stats, language_id_col  # noqa: F401

"""Corpus sinks — the reference's writer processors as DataFrame writers.

- sentence records: ``(iso8601_time, sentence, url, seq_no, perp)`` rows
  (SentenceWriter's TSV shape), written as gzip text or parquet
- plaintext documents: ``(url, text)`` per fetched page (PlainTextDocumentWriter)
- decision log: ``(ts, perp, directive, precedence, url, abbr_text)``
  (DecesiveValueLogger's shape)

The rolling-file-size concern of the reference (<=100MB gz parts) maps to
``maxRecordsPerFile`` / output partition sizing rather than manual rolling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topicrawler_spark.functions.udfs import abbreviate_plaintext_udf, make_sentences_udf


def sentence_records(
    results: DataFrame,
    min_sentence_words: int = 2,
    language_code: str = "default",
    time_col: str = "warc_ts",
) -> DataFrame:
    """Explode scored pages into per-sentence records (SentenceWriter shape).

    ``results`` needs columns url, text, perp (and optionally a timestamp).
    """
    sent = make_sentences_udf(min_sentence_words, language_code)
    ts = (
        F.date_format(F.col(time_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        if time_col in results.columns
        else F.lit(None).cast("string")
    )
    return (
        results.withColumn("_sentences", sent(F.col("text")))
        .select(
            ts.alias("time"),
            F.col("url"),
            F.col("perp"),
            F.posexplode("_sentences").alias("seq_no", "sentence"),
        )
        .select("time", "sentence", "url", "seq_no", "perp")
    )


def write_sentences_tsv(records: DataFrame, path: str, max_records_per_file: int = 500_000) -> None:
    """Gzip TSV sink (the reference's rolling .gz sentence files)."""
    (
        records.select(
            F.concat_ws(
                "\t",
                F.coalesce(F.col("time"), F.lit("")),
                F.col("sentence"),
                F.col("url"),
                F.col("seq_no").cast("string"),
                F.format_string("%012g", F.col("perp")),
            ).alias("value")
        )
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("maxRecordsPerFile", max_records_per_file)
        .text(path)
    )


def plaintext_documents(results: DataFrame) -> DataFrame:
    """(url, text) rows — the byte-identical plaintext corpus."""
    return results.select("url", "text").filter(F.col("text").isNotNull())


def decision_log(results_with_priority: DataFrame) -> DataFrame:
    """The perplexity decision log (DecesiveValueLogger shape)."""
    cols = results_with_priority.columns
    ts = (
        F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
        if "warc_ts" in cols
        else F.lit(None).cast("string")
    )
    return results_with_priority.select(
        ts.alias("ts"),
        F.format_string("%012g", F.col("perp")).alias("perp"),
        F.col("directive").alias("directive") if "directive" in cols else F.lit(None).cast("int").alias("directive"),
        F.col("precedence").alias("precedence") if "precedence" in cols else F.lit(None).cast("int").alias("precedence"),
        F.col("url"),
        abbreviate_plaintext_udf(F.col("text")).alias("abbr_text"),
    )


def filter_lines_by_perplexity(df: DataFrame, max_perp: float = 1000.0, perp_col: str = "perp") -> DataFrame:
    """The reference's FilterLines app: drop rows with perp > max."""
    return df.filter(F.col(perp_col) <= max_perp)


"""WordCount — reference job #1 (reference dfs/wordcountjob.go).

Reference semantics (SURVEY.md §2.3):
- Map (wordcountjob.go:16-27): split each line on runs of whitespace
  via Go's ``strings.Fields`` — which drops empty tokens — and emit
  ``(word, "1")``.  No lowercasing, no punctuation stripping.
- Reduce (wordcountjob.go:29-39): per-word integer sum.
- Output: unordered ``(word, count)`` pairs.

Spark translation: ``split`` + ``explode`` (the map / UDTF shape),
then a hash aggregate. The split is the engine's shared whitespace
tokenizer, ``functions.text.ws_tokens``. Catalyst plans this as
partial+final HashAggregate — the map-side combiner the reference lacks — so the
shuffle carries one row per (partition, word) instead of one row per
token, which is the difference between shuffling ~100 TB of tokens
and shuffling the vocabulary at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.functions.text import ws_tokens, ws_tokens_sql


def wordcount(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """(word, count) over a one-string-column DataFrame of lines.

    Columns: ``word string, cnt bigint`` (unordered).
    """
    return (
        lines.select(F.explode(ws_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def wordcount_oracle_sql(source_sql: str, text_col: str = "value") -> str:
    """DuckDB-equivalent SQL for :func:`wordcount` over ``source_sql``."""
    return f"""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest({ws_tokens_sql(text_col)}) AS word
            FROM ({source_sql})
        )
        GROUP BY word
    """

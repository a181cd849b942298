"""QuestionPercentage — reference job #2 (reference dfs/questionpercentagejob.go).

Input format: Cornell Movie-Dialogs lines, fields joined by the
literal delimiter ``" +++$+++ "`` (questionpercentagejob.go:17):

    lineID +++$+++ characterID +++$+++ movieID +++$+++ characterName +++$+++ utterance

Reference semantics (SURVEY.md §2.4):
- Map (questionpercentagejob.go:16-38): key = ``tokens[1] + " " +
  tokens[3]`` (characterID <space> characterName); value = "Q" if the
  utterance (``tokens[4]``) contains "?" else "NOT Q".
- Reduce (questionpercentagejob.go:40-64): emit
  ``strconv.Itoa((totalQ*100)/total) + "%"`` — **integer division**,
  '%' suffix.
- Output: unordered ``(character, pct)`` string pairs.

Two forms are provided:
- :func:`question_percentage` — byte-level fidelity ("32%" strings),
- :func:`question_percentage_typed` — LongType percentage for typed
  consumers; same integer-division value, no suffix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The field delimiter " +++$+++ " as a Java regex for F.split, with
# the '+' and '$' metacharacters escaped.
DELIM_RE = r" \+\+\+\$\+\+\+ "


def _keyed_is_q(lines: DataFrame, text_col: str) -> DataFrame:
    toks = F.split(F.col(text_col), DELIM_RE)
    return lines.select(
        F.concat_ws(" ", toks[1], toks[3]).alias("character"),
        F.when(toks[4].contains("?"), F.lit(1)).otherwise(F.lit(0)).alias("is_q"),
    )


def question_percentage(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Fidelity form: columns ``character string, pct string`` ("32%")."""
    return (
        _keyed_is_q(lines, text_col)
        .groupBy("character")
        .agg(
            F.concat(
                F.floor(F.sum("is_q") * 100 / F.count("*")).cast("string"),
                F.lit("%"),
            ).alias("pct")
        )
    )


def question_percentage_typed(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Typed form: columns ``character string, pct bigint``."""
    return (
        _keyed_is_q(lines, text_col)
        .groupBy("character")
        .agg(F.floor(F.sum("is_q") * 100 / F.count("*")).alias("pct"))
    )


def parse_dialog(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Dialog-corpus parser: raw delimiter-joined line -> typed columns
    (FIXTURES.md A2 parsed form)."""
    toks = F.split(F.col(text_col), DELIM_RE)
    return lines.select(
        toks[0].alias("line_id"),
        toks[1].alias("character_id"),
        toks[2].alias("movie_id"),
        toks[3].alias("character_name"),
        toks[4].alias("utterance"),
    )


def question_percentage_oracle_sql(source_sql: str, text_col: str = "value") -> str:
    """DuckDB SQL twin of :func:`question_percentage`.

    DuckDB's string_split takes a literal separator and is 1-indexed.
    Integer division fidelity: (100*q)//total via DuckDB's // operator.
    """
    return f"""
        SELECT character, CAST((100 * sum(is_q)) // count(*) AS VARCHAR) || '%' AS pct
        FROM (
            SELECT toks[2] || ' ' || toks[4] AS character,
                   CASE WHEN contains(toks[5], '?') THEN 1 ELSE 0 END AS is_q
            FROM (
                SELECT string_split({text_col}, ' +++$+++ ') AS toks
                FROM ({source_sql})
            )
        )
        GROUP BY character
    """

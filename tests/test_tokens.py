"""Cross-engine parity of the whitespace tokenizer (functions/text.py).

The Spark and DuckDB forms of the rule must split exactly where the
Python reference below splits: on runs of the six ASCII whitespace
characters, vertical tab included. NBSP and NEL stay inside tokens.
Inputs cover the edges where engines could disagree: empty, whitespace
only, leading/trailing/repeated separators, each whitespace character,
non-ASCII spaces, multi-byte UTF-8 and a long string.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.functions.text import (
    ws_split,
    ws_split_sql,
    ws_tokens,
    ws_tokens_sql,
)

ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")

STRINGS = [
    "",
    " \t\n ",
    "  lead and trail  ",
    "repeated    spaces",
    "tab\tnewline\ncr\rff\fend",
    "vertical\x0btab",
    "nbsp stays nel\u0085stays",
    "Héllo  wörld 日本語\t🚀",
    "the quick\tbrown\x0bfox\njumps  " * 300,
]


def _split(s: str) -> list[str]:
    return ASCII_WS.split(s)


def _tokens(s: str) -> list[str]:
    return [t for t in _split(s) if t]


@pytest.fixture(scope="module")
def spark_rows(spark):
    df = spark.createDataFrame(list(enumerate(STRINGS)), "i int, s string")
    return (
        df.select(
            "i",
            ws_split(F.col("s")).alias("split"),
            ws_tokens(F.col("s")).alias("tokens"),
        )
        .orderBy("i")
        .collect()
    )


@pytest.fixture(scope="module")
def duck_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(STRINGS)))
    rows = con.execute(
        f"SELECT {ws_split_sql('s')}, {ws_tokens_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    con.close()
    return rows


@pytest.mark.parametrize("i", range(len(STRINGS)))
def test_tokens_match_reference(spark_rows, duck_rows, i):
    ref = _tokens(STRINGS[i])
    assert spark_rows[i].tokens == ref
    assert duck_rows[i][1] == ref


@pytest.mark.parametrize("i", range(len(STRINGS)))
def test_raw_split_matches_reference(spark_rows, duck_rows, i):
    ref = _split(STRINGS[i])
    assert spark_rows[i].split == ref
    assert duck_rows[i][0] == ref

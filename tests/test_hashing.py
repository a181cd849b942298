"""Cross-engine parity of the md5 → integer hash (functions/hashing.py).

Every form of the hash — Spark Column, Spark SQL text, DuckDB SQL
text — must give the value Python's hashlib gives, at both widths and
under the mod-P31 reduction, on inputs where engines could plausibly
disagree: empty, one character, multi-byte UTF-8, and a long string.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from dfs_w_mapreduce_spark.functions.hashing import (
    P31,
    _h31_spark,
    _h31_sql,
    md5_long,
    md5_long_expr,
    md5_long_sql,
)

STRINGS = [
    "",
    "a",
    "Héllo Wörld — 日本語 🚀",
    "the quick brown fox jumps over the lazy dog " * 300,
]


def _ref(s: str, digits: int) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:digits], 16)


@pytest.fixture(scope="module")
def strings_df(spark):
    return spark.createDataFrame(list(enumerate(STRINGS)), "i int, s string")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(STRINGS)))
    yield con
    con.close()


@pytest.mark.parametrize("digits", [15, 8])
def test_all_forms_match_hashlib(strings_df, duck, digits):
    ref = [_ref(s, digits) for s in STRINGS]
    rows = (
        strings_df.select(
            "i",
            md5_long(F.col("s"), digits).alias("col"),
            F.expr(md5_long_expr("s", digits)).alias("expr"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r.col for r in rows] == ref
    assert [r.expr for r in rows] == ref
    got = duck.execute(f"SELECT {md5_long_sql('s', digits)} FROM t ORDER BY i").fetchall()
    assert [r[0] for r in got] == ref


def test_h31_matches_hashlib(strings_df, duck):
    ref = [_ref(s, 15) % P31 for s in STRINGS]
    rows = strings_df.select("i", _h31_spark(F.col("s")).alias("h")).orderBy("i").collect()
    assert [r.h for r in rows] == ref
    got = duck.execute(f"SELECT {_h31_sql('s')} FROM t ORDER BY i").fetchall()
    assert [r[0] for r in got] == ref

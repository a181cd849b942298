"""The md5 → integer hash that Spark and the DuckDB oracle share.

A value is the first `digits` hex digits of md5(x), read as an
integer: 15 digits give a non-negative 60-bit long (join keys, minhash
inputs, sampling and cut-point hashes), 8 digits a 32-bit checksum.
Both engines compute md5 the same way, and the prefix keeps the value
inside a signed BIGINT, so every MinHash band, sketch cell, CDC cut
point, sample split and round-trip checksum agrees row for row with
its oracle. Each form below writes the same value:

- `md5_long`      — Spark Column;
- `md5_long_expr` — Spark SQL text, for F.expr strings such as
                    lambdas inside transform(sequence(...), i -> ...);
- `md5_long_sql`  — DuckDB SQL text, for the oracles.

`hex_long_expr` / `hex_long_sql` are the same conversion for a query
that already holds the md5 hex digest as a column.
`_h31_spark` / `_h31_expr` / `_h31_sql` (Column, Spark SQL, DuckDB)
reduce the 60-bit value mod P31, the input domain of the universal
hash family h(x) = (a*x + b) mod P31.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1, the modulus of the minhash family


def md5_long(col: Column | str, digits: int = 15) -> Column:
    return F.conv(F.substring(F.md5(col), 1, digits), 16, 10).cast("long")


def hex_long_expr(hex_expr: str, digits: int = 15) -> str:
    return f"cast(conv(substr({hex_expr}, 1, {digits}), 16, 10) as bigint)"


def md5_long_expr(expr: str, digits: int = 15) -> str:
    return hex_long_expr(f"md5({expr})", digits)


def hex_long_sql(hex_expr: str, digits: int = 15) -> str:
    return f"CAST(('0x' || substr({hex_expr}, 1, {digits})) AS BIGINT)"


def md5_long_sql(expr: str, digits: int = 15) -> str:
    return hex_long_sql(f"md5({expr})", digits)


def _h31_spark(col: Column) -> Column:
    return md5_long(col) % P31


def _h31_expr(expr: str) -> str:
    return f"({md5_long_expr(expr)} % {P31})"


def _h31_sql(expr: str) -> str:
    return f"({md5_long_sql(expr)} % {P31})"

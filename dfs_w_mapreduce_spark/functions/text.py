"""The whitespace tokenizer that Spark and the DuckDB oracle share.

A token is a maximal run of characters that are not ASCII whitespace:
space, \\t, \\n, \\x0B (vertical tab), \\f and \\r. This is the map
step of the reference's WordCount, Go's ``strings.Fields``, which
splits on runs of whitespace and drops empty fields. Fields also
splits on Unicode spaces; here NBSP (U+00A0) and NEL (U+0085) stay
inside tokens, on both engines alike.

The two engines spell the class differently. Java's ``\\s`` is exactly
the six characters above; RE2's ``\\s`` (DuckDB) lacks \\x0B, so the
DuckDB pattern adds it. Each engine has two forms:

- `ws_split` / `ws_split_sql`   — the raw split, which keeps the empty
                                  strings a leading or trailing
                                  separator leaves (BPE filters its
                                  words by regex after it);
- `ws_tokens` / `ws_tokens_sql` — the split with empty tokens dropped.

Callers pass their own input (``F.lower(...)``, ``"lower(text)"``, a
punctuation-stripping ``regexp_replace``); the rule takes no flags.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ws_split(col: Column) -> Column:
    return F.split(col, r"\s+")


def ws_tokens(col: Column) -> Column:
    return F.filter(ws_split(col), lambda t: t != F.lit(""))


def ws_split_sql(expr: str) -> str:
    return rf"string_split_regex({expr}, '[\s\x0B]+')"


def ws_tokens_sql(expr: str) -> str:
    return f"list_filter({ws_split_sql(expr)}, t -> t <> '')"

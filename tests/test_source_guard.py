"""Source guard: cross-engine expression formats live only in functions/.

The whitespace tokenizer and the md5 → integer hash decide whether a
query matches its DuckDB oracle, so each is written once, in
functions/text.py and functions/hashing.py. This test reads the
package's source (no Spark) and fails on an inline copy anywhere else.
"""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "dfs_w_mapreduce_spark"

INLINE_FORMS = [
    "string_split_regex(",  # DuckDB tokenizer: functions.text.ws_*_sql
    "substr(md5",  # md5 → integer hash: functions.hashing
    "substring(F.md5",
    "'0x' || substr",
]


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.parent.name != "functions":
            yield path.relative_to(PACKAGE), path.read_text()


def _spark_ws_splits(src: str):
    """Argument text of each F.split(...) call that splits on \\s+."""
    for m in re.finditer(r"F\.split\(", src):
        depth, i = 1, m.end()
        while depth and i < len(src):
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        args = src[m.end():i - 1]
        if r"\s+" in args:
            yield args


def test_no_inline_tokenizer_or_hash_outside_functions():
    found = []
    for rel, src in _sources():
        found += [f"{rel}: {form}" for form in INLINE_FORMS if form in src]
        found += [f"{rel}: F.split({args})" for args in _spark_ws_splits(src)]
    assert not found, "inline copies (use functions/):\n" + "\n".join(found)

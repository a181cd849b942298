"""Source guard: cross-engine formats and fixture rules are written once.

The whitespace tokenizer and the md5 → integer hash decide whether a
query matches its DuckDB oracle, so each is written once, in
functions/text.py and functions/hashing.py. The synthetic media
fixtures (operators/multimodal.py) derive each document's WAV, PNG and
GIF from (doc_id, n_chars); each rule is written once in Python (a
Spark Column expression counts as Python) and once in the SQL of the
oracles. These tests read the package's source
(no Spark) and fail on a copy.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
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


# Fixture rules of the multimodal builders and their DuckDB twins: WAV
# samples per channel, the WAV waveform, GIF width, PNG width. Python
# counts both plain arithmetic and Spark Column expressions.
FIXTURE_FORMULAS = ["% 1000 + 1", "% 4096 - 2048", "doc_id % 5 + 4", "doc_id % 16 + 4"]
_STRING_TOKENS = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", tokenize.STRING)}
_LAYOUT_TOKENS = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
                  tokenize.DEDENT, tokenize.ENDMARKER}


# A Spark Column reference, F.col("doc_id"), spells the same rule as
# the bare name doc_id in a Python builder.
_COLUMN_REF = re.compile(r"\bF\.col(?:umn)?\(\s*([\"'])(\w+)\1\s*\)")


def _engine_texts(src: str) -> tuple[str, str]:
    """(python, sql) of one module: its code tokens without strings or
    comments, with each F.col("name") read as the name, and its string
    literals other than docstrings — the SQL the oracles run.
    Whitespace is collapsed in both."""
    src = _COLUMN_REF.sub(r"\2", src)
    doc_lines = {
        node.body[0].lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and ast.get_docstring(node, clean=False) is not None
    }
    code, sql = [], []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _STRING_TOKENS:
            if tok.start[0] not in doc_lines:
                sql.append(tok.string)
        elif tok.type not in _LAYOUT_TOKENS:
            code.append(tok.string)
    return " ".join(code), re.sub(r"\s+", " ", " ".join(sql))


def test_fixture_formulas_written_once_per_engine():
    counts = {(f, engine): [] for f in FIXTURE_FORMULAS for engine in ("python", "sql")}
    for rel, src in _sources():
        for engine, text in zip(("python", "sql"), _engine_texts(src)):
            for formula in FIXTURE_FORMULAS:
                counts[formula, engine] += [str(rel)] * text.count(formula)
    copies = [f"{engine} {formula!r}: {where}"
              for (formula, engine), where in counts.items() if len(where) > 1]
    assert not copies, "fixture rule written more than once (use the multimodal.py helper):\n" + "\n".join(copies)

"""Source guard: cross-engine formats and fixture rules are written once.

The whitespace tokenizer and the md5 → integer hash decide whether a
query matches its DuckDB oracle, so each is written once, in
functions/text.py and functions/hashing.py. The synthetic media
fixtures (operators/multimodal.py) derive each document's WAV, PNG and
GIF from (doc_id, n_chars); each rule is written once in Python (a
Spark Column expression counts as Python) and once in the SQL of the
oracles. More generally, a rule that two queries use is one helper
per engine, so no block of code lines repeats. A loop round is
materialized through checkpoint.py, which frees the round it replaces,
so no loop body calls localCheckpoint() itself. These tests read the
package's source (no Spark) and fail on a copy.
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


# A rule used by two queries lives in one helper per engine: a run of
# DUP_LINES consecutive code lines totalling at least DUP_CHARS
# characters must not appear twice in the package.
DUP_LINES, DUP_CHARS = 8, 160
_BRACKETS_ONLY = re.compile(r"[()\[\]{},:;]*")


def _code_lines(src: str):
    """(line number, stripped text) of each line that is not blank, a
    comment, an import or brackets only."""
    for no, line in enumerate(src.splitlines(), 1):
        s = line.strip()
        if (s and not s.startswith("#") and not _BRACKETS_ONLY.fullmatch(s)
                and not s.startswith("import ")
                and not (s.startswith("from ") and " import " in s)):
            yield no, s


def test_no_repeated_code_blocks():
    seen: dict[tuple[str, ...], tuple[str, int, int]] = {}
    copies = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE)
        lines = list(_code_lines(path.read_text()))
        for i in range(len(lines) - DUP_LINES + 1):
            run = lines[i:i + DUP_LINES]
            key = tuple(s for _, s in run)
            if sum(map(len, key)) < DUP_CHARS:
                continue
            here = (str(rel), run[0][0], run[-1][0])
            first = seen.setdefault(key, here)
            if first != here:
                copies.append((first, here))
    # report each repeated block once: overlapping runs of one pair of
    # locations merge into a single line range
    blocks: list[list] = []
    for (fa, sa, ea), (fb, sb, eb) in copies:
        last = blocks[-1] if blocks else None
        if last and last[0] == fa and last[3] == fb and sa <= last[2] and sb <= last[5]:
            last[2], last[5] = max(last[2], ea), max(last[5], eb)
        else:
            blocks.append([fa, sa, ea, fb, sb, eb])
    msg = "\n".join(f"{fa}:{sa}-{ea} repeats at {fb}:{sb}-{eb}"
                    for fa, sa, ea, fb, sb, eb in blocks)
    assert not blocks, f"{len(blocks)} repeated code blocks (write the rule once, in a helper):\n{msg}"


def _loop_checkpoints(tree: ast.AST):
    """Line numbers of `.localCheckpoint(` calls lexically inside the
    body of a for or while loop."""
    for loop in ast.walk(tree):
        if isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
            for stmt in loop.body + loop.orelse:
                for node in ast.walk(stmt):
                    if (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "localCheckpoint"):
                        yield node.lineno


def test_loop_rounds_go_through_checkpoint_module():
    found = sorted({
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in PACKAGE.rglob("*.py") if path.name != "checkpoint.py"
        for line in _loop_checkpoints(ast.parse(path.read_text()))
    })
    assert not found, (
        "localCheckpoint() in a loop body (a round is "
        "checkpoint.observed_checkpoint(..., replaces=prev)):\n" + "\n".join(found))

"""Check a query's collected result against its DuckDB oracle.

The comparison is the one ``tools/driver_mimic.py`` makes (column
names, normalized column types, row count, and the order-insensitive
multiset of normalized row values, compared here by its hash).  Its
normalization helpers are taken from that file as they are: the module
runs a whole Spark session when imported, so the named top-level
definitions are compiled from its syntax tree instead of importing it.

An oracle's answer depends only on its SQL, the fixture tables and the
DuckDB version, so it is computed once per checkout and cached under
that key: several oracles take 15-30 s in DuckDB, longer than a
benchmark run can spend on its correctness pass.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os

import duckdb

from fixtures import TABLES

_REUSED = {"SPARK_T", "DUCK_T", "norm_spark_type", "norm_duck_type", "norm",
           "PANDAS_DIVERGENT", "assert_driver_safe_types"}


def load_normalization(repo_root: str) -> dict:
    """Namespace holding the driver mimic's normalization definitions."""
    path = os.path.join(repo_root, "tools", "driver_mimic.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name in _REUSED:
            keep.append(node)
        elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id in _REUSED for t in node.targets):
            keep.append(node)
    found = {n.name if isinstance(n, ast.FunctionDef) else n.targets[0].id for n in keep}
    if found != _REUSED:
        raise ImportError(f"{path} no longer defines {sorted(_REUSED - found)}")
    ns = {"math": __import__("math")}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns


class Oracle:
    """Cached DuckDB oracle answers for one fixture directory, and the comparison."""

    def __init__(self, repo_root: str, sf_dir: str, cache_dir: str) -> None:
        self.ns = load_normalization(repo_root)
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.con = None

    def close(self) -> None:
        if self.con is not None:
            self.con.close()

    def _duckdb(self):
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.sf_dir}/{t}.parquet')")
        return self.con

    def _rows_hash(self, rows, columns) -> str:
        order = sorted(range(len(columns)), key=lambda i: columns[i])
        norm = self.ns["norm"]
        normalized = sorted(tuple(norm(r[i]) for i in order) for r in rows)
        return hashlib.sha256(repr(normalized).encode()).hexdigest()

    def expected(self, name: str, sql: str) -> dict:
        """The oracle's columns, normalized types, row count and value hash."""
        key = hashlib.sha256("\0".join(
            (sql, os.path.basename(self.sf_dir), duckdb.__version__)).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key[:16]}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        rel = self._duckdb().sql(sql)
        self.ns["assert_driver_safe_types"](rel, name)
        columns = list(rel.columns)
        rows = rel.fetchall()
        answer = {
            "columns": sorted(columns),
            "types": {c: self.ns["norm_duck_type"](t) for c, t in zip(columns, rel.types)},
            "rows": len(rows),
            "hash": self._rows_hash(rows, columns),
        }
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(answer, f)
        os.replace(tmp, path)
        return answer

    def mismatch(self, name: str, sql: str | None, sdf) -> str | None:
        """Collect ``sdf`` and return why it differs from the oracle, or None."""
        got_cols = sdf.columns
        got_types = {c: self.ns["norm_spark_type"](t) for c, t in sdf.dtypes}
        got = [tuple(r) for r in sdf.collect()]
        if sql is None:
            return None if got else "no oracle and no rows"
        want = self.expected(name, sql)
        if sorted(got_cols) != want["columns"]:
            return f"columns {sorted(got_cols)} != {want['columns']}"
        bad = {c: (got_types[c], want["types"][c]) for c in got_cols
               if got_types[c] != want["types"][c]}
        if bad:
            return f"types differ {bad}"
        if len(got) != want["rows"]:
            return f"rows {len(got)} != oracle {want['rows']}"
        if self._rows_hash(got, got_cols) != want["hash"]:
            return "values differ"
        return None

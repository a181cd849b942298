"""Dump formatted physical plans: PLANS.md, or before/after evidence files.

    python tools/dump_plans.py                        # regenerate PLANS.md
    python tools/dump_plans.py <tag> before|after q…  # plans/<tag>/
    python tools/dump_plans.py <tag> diff             # compare plans/<tag>/

With no arguments, writes the formatted plans of the headline queries
(bench.HEADLINE) to PLANS.md — the evidence artifact for the scale posture: shows
PushedFilters / ReadSchema pruning, BroadcastHashJoin placement,
partial+final HashAggregate, TakeOrderedAndProject, and exchange counts
per query. Regenerate after plan-affecting changes.

With a tag, writes plans/<tag>/<q>_<before|after>.txt (the formatted
plan before execution) and <q>_<before|after>_executed.txt (the
executed plan after a collect(): ReusedExchange and the final AQE
shape appear only there) for each named query, at
$SPARK_GRAFT_SF_DIR (default sf0.01). Arguments and query names are
checked before Spark starts.

`diff` reads those files (no Spark) and prints "same" or "differs" per
query. Formatted plans are compared after normalizing what changes
between two runs of one tree: expression ids, plan_id, RDD ids, lambda
variable suffixes, temp-dir names, and the order in which the
count-distinct rewrite (Expand) lists its distinct groups and numbers
their gid.
Executed plans are compared as operator multisets, because AQE may pick
the other broadcast build side from run to run. Exits 1 if any query
differs.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bench import HEADLINE  # noqa: E402  (the bench's headline keys)

SF_DIR = "/root/testdata/sf0.01"


USAGE = "usage: dump_plans.py [<tag> before|after <query> ... | <tag> diff]"

_NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),  # F.transform lambda variables
    (re.compile(r"/tmp/[^\s,\])]+"), "/tmp/<dir>"),
]


def _items(text: str) -> list[str]:
    """Top-level comma-separated items of a bracket list's inside."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        depth += {"(": 1, "[": 1, ")": -1, "]": -1}.get(ch, 0)
        if ch == "," and depth == 0:
            items.append(text[start:i].strip())
            start = i + 1
    return items + [text[start:].strip()]


def _canonical_expand(plan: str) -> str:
    """Undo the count-distinct rewrite's run-to-run permutation. Spark
    orders the distinct groups by a hash of expression ids, which
    permutes the Expand columns before gid and renumbers gid. Sort that
    column run wherever it appears, and renumber gid by the order of
    the sorted projections."""
    node = ""
    for line in plan.splitlines():
        if re.match(r"\(\d+\) ", line):
            node = line.split()[1]
        if node != "Expand" or not line.startswith("Arguments: [["):
            continue
        projections, output = (x[1:-1] for x in _items(line[len("Arguments: ") :]))
        out = _items(output)
        g = next((i for i, o in enumerate(out) if o.startswith("gid#")), None)
        if g is None:  # a grouping-sets Expand: its order is fixed
            continue
        order = sorted(range(g), key=lambda i: out[i])

        def canon(items: list[str]) -> list[str]:
            return [items[i] for i in order] + items[g:]

        projs = sorted((canon(_items(x[1:-1])) for x in _items(projections)),
                       key=lambda x: x[:g] + x[g + 1 :])
        gid = {x[g]: str(k) for k, x in enumerate(projs)}
        args = ", ".join("[" + ", ".join(x[:g] + [gid[x[g]]] + x[g + 1 :]) + "]" for x in projs)
        plan = plan.replace(line, f"Arguments: [{args}], [{', '.join(canon(out))}]")
        for sep in (", ", " ASC NULLS FIRST, "):
            plan = plan.replace(sep.join(out[:g]), sep.join(canon(out)[:g]))
        plan = re.sub(r"gid#N = (\d+)", lambda x: "gid#N = " + gid.get(x[1], x[1]), plan)
    return plan


def normalize_formatted(plan: str) -> str:
    """A formatted plan with run-to-run noise removed (see the module
    docstring)."""
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return _canonical_expand(plan)


def operator_counts(executed: str) -> Counter:
    """Multiset of operator names in an executed plan's tree text."""
    ops: Counter = Counter()
    for line in executed.splitlines():
        body = re.sub(r"^[\s:|+-]*", "", line)
        if body.startswith("=="):
            continue
        m = re.match(r"(?:\*\(\d+\)\s*)?([A-Za-z]\w*)", body)
        if m:
            ops[m.group(1)] += 1
    return ops


def diff_plans(plan_dir: Path) -> dict[str, list[str]]:
    """Query -> the plan kinds (formatted, executed) whose before and
    after files in plan_dir differ; an empty list means same."""
    result = {}
    for before in sorted(plan_dir.glob("*_before.txt")):
        q = before.name[: -len("_before.txt")]
        after = plan_dir / f"{q}_after.txt"
        if not after.exists():
            result[q] = ["no after plan"]
            continue
        kinds = []
        if normalize_formatted(before.read_text()) != normalize_formatted(after.read_text()):
            kinds.append("formatted")
        eb, ea = (plan_dir / f"{q}_{s}_executed.txt" for s in ("before", "after"))
        if eb.exists() != ea.exists() or (
            eb.exists() and operator_counts(eb.read_text()) != operator_counts(ea.read_text())
        ):
            kinds.append("executed")
        result[q] = kinds
    return result


def main(argv: list[str]) -> int:
    if not argv:
        write_plans_md()
        return 0
    if len(argv) == 2 and argv[1] == "diff":
        result = diff_plans(Path(_REPO) / "plans" / argv[0])
        for q, kinds in result.items():
            print(f"{q}: " + (f"differs ({', '.join(kinds)})" if kinds else "same"))
        return 1 if any(result.values()) else 0
    if len(argv) < 3 or argv[1] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        return 2
    from dfs_w_mapreduce_spark.plans.explain import formatted_plan
    from dfs_w_mapreduce_spark.registry import collect
    from dfs_w_mapreduce_spark.session import get_spark

    tag, suffix, names = argv[0], argv[1], argv[2:]
    registry = collect()
    unknown = [n for n in names if n not in registry]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
    out_dir = Path(_REPO) / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plans:{tag}")
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        (out_dir / f"{name}_{suffix}.txt").write_text(formatted_plan(df))
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        (out_dir / f"{name}_{suffix}_executed.txt").write_text(executed)
        # a query's cached frames must not show up in the next one's plan
        spark.catalog.clearCache()
        print(f"wrote plans/{tag}/{name}_{suffix}.txt", file=sys.stderr)
    return 0


def write_plans_md() -> None:
    from dfs_w_mapreduce_spark.plans.explain import exchange_count, formatted_plan
    from dfs_w_mapreduce_spark.registry import collect
    from dfs_w_mapreduce_spark.session import get_spark

    spark = get_spark("plans")
    registry = collect()
    out = [
        "# Physical plans (generated by tools/dump_plans.py at sf0.01)",
        "",
        "Scale-relevant markers to look for: `PushedFilters` (predicate",
        "pushdown reached the scan), `ReadSchema` (column pruning),",
        "`BroadcastHashJoin` (dim joins avoid shuffling the fact side),",
        "partial+final `HashAggregate` pairs (map-side combine),",
        "`TakeOrderedAndProject` (top-k without a full sort), and the",
        "exchange count (shuffles — the scale currency).",
        "",
    ]
    for name in HEADLINE:
        spec = registry[name]
        df = spec.fn(spark, SF_DIR)
        plan = formatted_plan(df)
        out += [
            f"## {name}",
            "",
            f"{spec.doc}  ",
            f"Exchanges: {exchange_count(df)}",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    Path(_REPO, "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

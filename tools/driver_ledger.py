"""Generate DRIVER_LEDGER.md and the DRIVER_FRONT rotation module.

The round driver records correctness rows for the FIRST 50 registry
entries only, so the front of the registry must rotate each round.
This tool scans every CORRECTNESS_r*.json in the repo root, joins
against the live registry, and writes:

- DRIVER_LEDGER.md: (query, last round green, oracled?) per query,
  never-verified queries first (COVERAGE.md references it);
- dfs_w_mapreduce_spark/driver_front.py: the 50 names that
  registry.collect() puts first — never-verified queries, then by
  last green round (oldest first), then registry (module) order.

Usage: python tools/driver_ledger.py   (from anywhere; rerun after
each round's correctness file lands, and commit both outputs)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FRONT_SIZE = 50  # the driver verifies this many leading registry entries


def load_rows() -> dict[str, int]:
    """query name -> latest round with a green driver row."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            # a row is green unless it carries an explicit false flag
            ok = True
            if isinstance(row, dict):
                flags = [v for v in row.values() if isinstance(v, bool)]
                ok = all(flags) if flags else True
            if ok:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def main() -> int:
    sys.path.insert(0, REPO)
    from dfs_w_mapreduce_spark.registry import assemble

    reg = assemble()
    latest = load_rows()
    never = [n for n in reg if n not in latest]
    seen = [n for n in reg if n in latest]
    lines = [
        "# DRIVER_LEDGER — per-query driver-verification status",
        "",
        "Generated by `tools/driver_ledger.py` from CORRECTNESS_r*.json; do",
        "not edit by hand. `last green` = most recent round whose driver",
        "correctness file contains an all-green row for the query. The same",
        f"run writes the {FRONT_SIZE} names of",
        "`dfs_w_mapreduce_spark/driver_front.py`: never-verified queries",
        "first (registry order), then verified ones by last green round,",
        "oldest first.",
        "",
        f"Registry: {len(reg)} queries; driver-verified at least once: "
        f"{len(seen)}; never verified: {len(never)}.",
        "",
        f"## Never driver-verified ({len(never)}, registry order)",
        "",
    ]
    if never:
        lines += ["| query | oracled |", "|---|---|"]
        lines += [
            f"| `{n}` | {'yes' if reg[n].oracle else 'rows-only'} |" for n in never
        ]
    else:
        lines.append("(none — every registry query has a driver row)")
    lines += [
        "",
        f"## Driver-verified ({len(seen)})",
        "",
        "| query | last green | oracled |",
        "|---|---|---|",
    ]
    for n in sorted(seen, key=lambda n: (latest[n], n)):
        lines.append(
            f"| `{n}` | r{latest[n]:02d} | "
            f"{'yes' if reg[n].oracle else 'rows-only'} |"
        )
    out = os.path.join(REPO, "DRIVER_LEDGER.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(never)} never-verified, {len(seen)} verified")
    write_front(list(reg), latest)
    return check_evidence_clean()


def write_front(names: list[str], latest: dict[str, int]) -> None:
    """names in registry order; never-verified (round 0) sort first."""
    front = sorted(names, key=lambda n: latest.get(n, 0))[:FRONT_SIZE]
    body = textwrap.fill(" ".join(f'"{n}",' for n in front), 76,
                         initial_indent="    ", subsequent_indent="    ")
    out = os.path.join(REPO, "dfs_w_mapreduce_spark", "driver_front.py")
    with open(out, "w") as f:
        f.write(f'''"""The names registry.collect() puts first: the round driver
verifies the first {FRONT_SIZE} registry entries.

Generated by tools/driver_ledger.py from CORRECTNESS_r*.json; do not
edit by hand. Order: never driver-verified queries, then by last green
driver round (oldest first), then registry order.
"""

DRIVER_FRONT: tuple[str, ...] = (
{body}
)
''')
    print(f"wrote {out}: {len(front)} names")


def check_evidence_clean() -> int:
    """Round-7 verdict ask: the adjudication baseline must be the
    committed one. Exit nonzero (after printing) if any evidence file
    is modified-but-uncommitted, so the round-ending checklist can't
    silently ship a BENCH_LOCAL.json that differs from what the next
    round's promotion rule will read from git history."""
    import subprocess

    evidence = ["BENCH_LOCAL.json", "SCALING.md", "SCALING_100X.md",
                "PLANS.md", "DRIVER_LEDGER.md", "COVERAGE.md",
                "dfs_w_mapreduce_spark/driver_front.py"]
    try:
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", *evidence],
            cwd=REPO, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
    except Exception:
        return 0  # no git available: nothing to assert
    if dirty:
        print("EVIDENCE FILES NOT COMMITTED:\n" + dirty)
        return 1
    print("evidence files clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Compare two sets of benchmark runs, metric by metric and workload by workload.

Usage (from the root of a checkout):

    python3 perfbench/diff.py PARENT CHANGE

PARENT and CHANGE are each a ``records/<workload>.jsonl`` file written
by ``perfbench/run.py`` or a directory of them.  For every workload and
end-to-end metric the tool prints each side's median and quartiles and
a verdict under the rule of section 8 of the choosing-metrics method:

- better: at least ten pairs, the change wins at least nine tenths of
  them (ties count for neither side), and the medians differ by more
  than the parent's own spread (the distance between its quartiles);
- unresolved: the run-to-run spread of either side is wider than the
  metric's bound, unless every run of the change reads better than
  every run of the parent;
- worse: the change's median is worse than the parent's by more than
  the bound BENCHMARK.json fixes;
- unchanged: otherwise.

Runs are paired by seed.  For traced runs it then prints the per-layer
medians of both sides, labelled "plan change" when the job, stage or
shuffle-byte counts moved and "same-plan drift" when they did not.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import quartiles  # noqa: E402

MIN_PAIRS = 10
WIN_SHARE = 0.9
PLAN_COUNTS = ("spark.jobs", "spark.stages")
PLAN_BYTES = ("spark.shuffle_write_mb", "spark.shuffle_read_mb")
BYTES_TOLERANCE = 0.05


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    """Verdict for one metric; the lists are paired run by run."""
    sign = 1.0 if better == "lower" else -1.0
    qa, qb = quartiles(parent), quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for a, b in pairs if sign * (a - b) > 0)
    gain = sign * (qa[1] - qb[1])
    if len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs) and gain > qa[2] - qa[0]:
        return "better"
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (qa, qb))
    all_better = all(sign * (a - b) > 0 for a in parent for b in change)
    if spread > bound and not all_better:
        return "unresolved"
    if -gain > bound * abs(qa[1]):
        return "worse"
    return "unchanged"


def layer_label(parent: dict[str, float], change: dict[str, float]) -> str:
    """'plan change' if jobs, stages or shuffle bytes moved, else 'same-plan drift'."""
    for key in PLAN_COUNTS:
        if round(parent.get(key, 0.0), 6) != round(change.get(key, 0.0), 6):
            return "plan change"
    for key in PLAN_BYTES:
        a, b = parent.get(key, 0.0), change.get(key, 0.0)
        if abs(a - b) > BYTES_TOLERANCE * max(abs(a), abs(b), 1e-9):
            return "plan change"
    return "same-plan drift"


def load(path: str) -> list[dict]:
    p = Path(path)
    files = sorted(p.glob("*.jsonl")) if p.is_dir() else [p]
    records = []
    for f in files:
        with open(f) as fh:
            records.extend(json.loads(line) for line in fh if line.strip())
    return records


def by_workload(records: list[dict], traced: bool) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in sorted(records, key=lambda r: r["seed"]):
        if bool(r["trace"]) == traced:
            out.setdefault(r["workload"], []).append(r)
    return out


def paired(a: list[dict], b: list[dict]) -> tuple[list[dict], list[dict]]:
    """Runs of both sides paired by seed; unmatched runs pair in order."""
    seeds = {r["seed"] for r in a} & {r["seed"] for r in b}
    if seeds:
        a = [r for r in a if r["seed"] in seeds]
        b = [r for r in b if r["seed"] in seeds]
    n = min(len(a), len(b))
    return a[:n], b[:n]


def fmt(values: list[float]) -> str:
    q1, med, q3 = quartiles(values)
    return f"{med:10.4f} [{q1:.4f}, {q3:.4f}]"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    parent, change = load(argv[0]), load(argv[1])

    e2e_a, e2e_b = by_workload(parent, False), by_workload(change, False)
    print(f"{'workload':<16} {'metric':<15} {'parent median [q1, q3]':>32} "
          f"{'change median [q1, q3]':>32} {'delta':>8}  verdict")
    for wl in sorted(set(e2e_a) & set(e2e_b)):
        a, b = paired(e2e_a[wl], e2e_b[wl])
        for m in spec["end_to_end"]:
            va = [r["end_to_end"][m["name"]] for r in a]
            vb = [r["end_to_end"][m["name"]] for r in b]
            if not va:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            delta = (mb - ma) / ma if ma else float("nan")
            print(f"{wl:<16} {m['name']:<15} {fmt(va):>32} {fmt(vb):>32} "
                  f"{delta:>+8.1%}  {verdict(va, vb, m['better'], m['bound'])}"
                  f"  (n={len(va)})")

    tr_a, tr_b = by_workload(parent, True), by_workload(change, True)
    for wl in sorted(set(tr_a) & set(tr_b)):
        la = {k: statistics.median(r["per_layer"][k] for r in tr_a[wl])
              for k in tr_a[wl][0]["per_layer"]}
        lb = {k: statistics.median(r["per_layer"][k] for r in tr_b[wl])
              for k in tr_b[wl][0]["per_layer"]}
        print(f"\n{wl}: per-layer medians ({len(tr_a[wl])} vs {len(tr_b[wl])} traced runs)"
              f" -> {layer_label(la, lb)}")
        rows = [(k, la.get(k, 0.0), lb.get(k, 0.0)) for k in sorted(set(la) | set(lb))]
        rows = [r for r in rows if r[1] or r[2]]
        for k, a_v, b_v in sorted(rows, key=lambda r: -abs(r[2] - r[1])):
            print(f"  {k:<32} {a_v:>12.4f} {b_v:>12.4f} {b_v - a_v:>+12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

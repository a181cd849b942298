"""tools/dump_plans.py <tag> diff: plan normalization and verdicts (no Spark)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_PATH = Path(__file__).resolve().parent.parent / "tools" / "dump_plans.py"
_spec = importlib.util.spec_from_file_location("_dump_plans_tool", _PATH)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)

BEFORE = """== Physical Plan ==
AdaptiveSparkPlan (4)
+- HashAggregate (3)
   +- Expand (2)
      +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [a#11L, b#12]
Arguments: [a#11L, b#12], MapPartitionsRDD[33] at applySchemaToPythonRDD, file:/tmp/spark-1/x

(2) Expand
Input [2]: [a#11L, b#12]
Arguments: [[a#11L, null, 1], [null, b#12, 2]], [a#13L, b#14, gid#15]

(3) HashAggregate
Keys [3]: [a#13L, b#14, gid#15]
Functions [2]: [count(a#13L) FILTER (WHERE (gid#15 = 1)), count(b#14) FILTER (WHERE (gid#15 = 2))]

(4) AdaptiveSparkPlan
Output [1]: [transform(e#16, lambdafunction(x_7#17 + 1, x_7#17))]
Arguments: isFinalPlan=false, [plan_id=101]
"""

# the same plan from another run: new ids, RDD id, temp dir and lambda
# suffix, and the count-distinct rewrite listing its groups (b, a) and
# numbering them the other way round
AFTER = """== Physical Plan ==
AdaptiveSparkPlan (4)
+- HashAggregate (3)
   +- Expand (2)
      +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [a#41L, b#42]
Arguments: [a#41L, b#42], MapPartitionsRDD[907] at applySchemaToPythonRDD, file:/tmp/spark-2/x

(2) Expand
Input [2]: [a#41L, b#42]
Arguments: [[b#42, null, 1], [null, a#41L, 2]], [b#44, a#43L, gid#45]

(3) HashAggregate
Keys [3]: [b#44, a#43L, gid#45]
Functions [2]: [count(a#43L) FILTER (WHERE (gid#45 = 2)), count(b#44) FILTER (WHERE (gid#45 = 1))]

(4) AdaptiveSparkPlan
Output [1]: [transform(e#46, lambdafunction(x_312#47 + 1, x_312#47))]
Arguments: isFinalPlan=false, [plan_id=5]
"""

EXECUTED = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(2) BroadcastHashJoin [a#1L], [a#2L], Inner, BuildRight, false
      :- *(2) Scan ExistingRDD[a#1L]
      +- BroadcastQueryStage 0
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
            +- *(1) Scan ExistingRDD[a#2L]
"""


def _write(tmp_path: Path, q: str, before: str, after: str, eb: str, ea: str) -> None:
    for suffix, formatted, executed in (("before", before, eb), ("after", after, ea)):
        (tmp_path / f"{q}_{suffix}.txt").write_text(formatted)
        (tmp_path / f"{q}_{suffix}_executed.txt").write_text(executed)


def test_run_to_run_noise_reads_same(tmp_path):
    flipped = EXECUTED.replace("BuildRight", "BuildLeft").replace("#1L", "#9L")
    _write(tmp_path, "q", BEFORE, AFTER, EXECUTED, flipped)
    assert dump_plans.diff_plans(tmp_path) == {"q": []}


def test_plan_changes_read_differs(tmp_path):
    _write(tmp_path, "f", BEFORE, AFTER.replace("count(a", "sum(a"), EXECUTED, EXECUTED)
    # a's aggregate filtered on b's group: a real change, not a renumbering
    swapped = AFTER.replace("(gid#45 = 2)), count(b", "(gid#45 = 1)), count(b")
    _write(tmp_path, "s", BEFORE, swapped, EXECUTED, EXECUTED)
    extra = EXECUTED.replace("+- *(1) Scan", "+- Exchange SinglePartition\n   +- *(1) Scan")
    _write(tmp_path, "e", BEFORE, BEFORE, EXECUTED, extra)
    (tmp_path / "g_before.txt").write_text(BEFORE)
    assert dump_plans.diff_plans(tmp_path) == {
        "e": ["executed"], "f": ["formatted"], "g": ["no after plan"], "s": ["formatted"],
    }


def test_operator_counts():
    assert dump_plans.operator_counts(EXECUTED) == {
        "AdaptiveSparkPlan": 1, "ResultQueryStage": 1, "BroadcastHashJoin": 1,
        "Scan": 2, "BroadcastQueryStage": 1, "BroadcastExchange": 1,
    }

"""Read Spark's runtime counters for one query from outside the engine.

Everything here runs after a query's sink has returned, outside its
timed region.  Jobs are found through the query's job group
(``setJobGroup`` -> ``statusTracker().getJobIdsForGroup``) and their
stages in the JVM status store (``statusStore().lastStageAttempt``),
which works with ``spark.ui.enabled=false``.  Python-worker time and
bytes are SQL metrics of the MapInPandas / ArrowEvalPython / ... nodes,
read from the SQL status store of every execution the query started.
"""

from __future__ import annotations

import re

# SQL metric name -> per-layer metric it adds to.
PYTHON_METRICS = {
    "time to start Python workers": "udf.python_start_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to run Python workers": "udf.python_run_s",
    "data sent to Python workers": "udf.bytes_sent_mb",
    "data returned from Python workers": "udf.bytes_returned_mb",
}

_SECONDS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}
_MB = {"B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")

MB = 2**20

# Per-stage counters summed over a query's stages (see StatusReader.jobs).
STAGE_SUMS = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
    "shuffle_fetch_wait_s", "spill_mb",
)


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in seconds or MiB.

    Spark formats a metric over several tasks as
    ``"total (min, med, max (stageId: taskId))\\n14.3 s (...)"`` and one
    over a single task as ``"14.3 s"``; the total is the first value of
    the last line.
    """
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unrecognised SQL metric value {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SECONDS:
        return number * _SECONDS[unit]
    if unit in _MB:
        return number * _MB[unit]
    raise ValueError(f"unrecognised SQL metric unit {unit!r} in {text!r}")


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Per-query reads of the JVM status stores of one SparkSession."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_execution = 0
        self.mark()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[dict]:
        """Jobs of a job group with their stage totals; skipped stages count as skipped."""
        out = []
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(job_id)
            job = {
                "id": job_id,
                "start": _ms(jd.submissionTime()),
                "end": _ms(jd.completionTime()),
                "stages": [],
                "stages_skipped": jd.numSkippedStages(),
            }
            for stage_id in _seq(jd.stageIds()):
                st = self._store.lastStageAttempt(stage_id)
                if st.status().toString() == "SKIPPED":
                    continue
                job["stages"].append({
                    "id": stage_id,
                    "start": _ms(st.submissionTime()),
                    "end": _ms(st.completionTime()),
                    "tasks": st.numTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "executor_run_s": st.executorRunTime() / 1e3,
                    "executor_cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "input_mb": st.inputBytes() / MB,
                    "output_mb": st.outputBytes() / MB,
                    "shuffle_read_mb": st.shuffleReadBytes() / MB,
                    "shuffle_write_mb": st.shuffleWriteBytes() / MB,
                    "shuffle_fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                    "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB,
                    "peak_exec_mem_mb": st.peakExecutionMemory() / MB,
                })
            out.append(job)
        return out

    def mark(self) -> None:
        """Start the next python_workers() window after the newest execution."""
        count = self._sql.executionsCount()
        if count:
            newest = self._sql.executionsList(count - 1, 1).apply(0)
            self._next_execution = newest.executionId() + 1

    def python_workers(self) -> dict[str, float]:
        """Python-worker SQL metric totals over the executions since mark().

        Execution ids are consecutive, so the executions a query started
        are the ids after the mark, up to the first id the store does not
        hold yet.
        """
        totals = {v: 0.0 for v in PYTHON_METRICS.values()}
        while True:
            ex = self._sql.execution(self._next_execution)
            if not ex.isDefined():
                return totals
            values = self._sql.executionMetrics(self._next_execution)
            for node in _seq(self._sql.planGraph(self._next_execution).allNodes()):
                for metric in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(metric.name())
                    value = values.get(metric.accumulatorId())
                    if key and value.isDefined():
                        totals[key] += parse_metric(value.get())
            self._next_execution += 1

    def retained_storage(self) -> tuple[int, float]:
        """(persisted RDDs, MiB they hold in memory and on disk) right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
        return self.sc._jsc.getPersistentRDDs().size(), mb

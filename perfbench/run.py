"""Benchmark harness: run one workload of registry queries and report its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run sets up the engine once, from a cold process (importing the
engine and ``registry.collect()``, which imports the query modules;
``session.get_spark()``, which launches the JVM; and a warm-up scan;
``setup_s`` is their sum), then makes one untimed pass that collects
every query of the workload and checks it against its DuckDB oracle,
which also warms the session.
It then runs whole passes over the workload, one query at a time in a
closed loop, until ``--seconds`` have been measured and at least
MIN_PASSES passes have run.  Each query is measured from the call to
its ``QuerySpec.fn`` until its noop sink returns; the plan build
(``fn``) and the materialization (``save``) are timed apart.

The gated end-to-end time, ``wall_s``, sums each query's smallest
latency over the measured passes: the JVM is still warming up (JIT)
during them, the first pass costs the most, and on a shared machine a
co-tenant's burst slows one query of one pass, not all of them.

With ``--trace 0`` the last line of stdout is a JSON object carrying
the end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics, read from Spark's status stores after each query (outside
its measured region) and from spans written to ``.perfbench/traces``.
In a traced run the odd passes are untraced, so the run also reports
the tracing overhead as traced minus untraced pass time.  End-to-end
values of a traced run come from its untraced passes.  Metric names
and units are the ones BENCHMARK.json lists.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the fixture tables, cached oracle answers, the temp dirs queries
create, Spark's local dirs, traces, and one record per run appended to
``records/<workload>.jsonl`` (the input of ``perfbench/diff.py``).
"""

from __future__ import annotations

import argparse
import fcntl
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
MIN_PASSES = 2
# A traced run alternates untraced and traced passes, U T U, so the
# traced pass sits between the untraced ones and the JIT warm-up slope
# cancels out of the tracing overhead.
TRACED_MIN_PASSES = 3
JVM_EXIT_TIMEOUT_S = 60

sys.path.insert(0, str(HERE))

import fixtures  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402
from sparkstats import PYTHON_METRICS, STAGE_SUMS, StatusReader  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

QUERY_SUMS = STAGE_SUMS + (
    "jobs", "stages", "stages_skipped", "driver_outside_jobs_s",
    "storage.retained_rdds", "storage.retained_mb", "sources.tmp_written_mb",
    "trace.collect_s",
)
SETUP_PARTS = ("registry.collect_s", "session.get_spark_s", "session.warmup_s")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def module_layer(fn) -> str:
    """Layer name of a query: the engine module its QuerySpec.fn lives in."""
    parts = fn.__module__.split(".")
    return parts[-2] if parts[-1] == "specs" else parts[-1]


def tree_mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / 2**20
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


class Harness:
    """One benchmark run: a SparkSession, its fixtures and its measurements."""

    def __init__(self, args: argparse.Namespace, cores: int) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.cores = cores
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.registry = None
        self.reader = None
        self.attempted = 0
        self.n_groups = 0
        self.failures: list[dict] = []
        self.setup_parts: dict[str, float] = {}
        self.passes: list[dict] = []
        self.check_pass_s = 0.0
        self.check_latency: dict[str, float] = {}
        self.tmp = str(WORK / "tmp")
        self.sf_dir = fixtures.ensure(str(WORK / "fixtures"))
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
        }

    # -- set-up -----------------------------------------------------------

    def setup(self, run_span) -> None:
        with self.tracer.span("setup", run_span) as sid:
            t0 = time.perf_counter()
            with self.tracer.span("registry.collect", sid):
                registry = importlib.import_module("dfs_w_mapreduce_spark.registry")
                self.registry = registry.collect()
            t1 = time.perf_counter()
            with self.tracer.span("session.get_spark", sid):
                session = importlib.import_module("dfs_w_mapreduce_spark.session")
                self.spark = session.get_spark("perfbench", extra_conf=self.conf)
            t2 = time.perf_counter()
            with self.tracer.span("session.warmup", sid):
                self.spark.read.parquet(
                    os.path.join(self.sf_dir, "lineitem.parquet")
                ).write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        self.setup_parts = dict(zip(SETUP_PARTS + ("total_s",),
                                    (t1 - t0, t2 - t1, t3 - t2, t3 - t0)))
        missing = [q for q in self.workload if q not in self.registry]
        if missing:
            raise KeyError(f"workload names unknown queries: {missing}")
        if self.tracer.enabled:
            self.reader = StatusReader(self.spark)

    # -- one query --------------------------------------------------------

    def run_query(self, name: str, parent, oracle, traced: bool) -> dict | None:
        """Run one query; return its measurements, or None if it failed.

        With an oracle the result is collected and checked; without one
        it goes to the noop sink.
        """
        spark, spec = self.spark, self.registry[name]
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        before = set(os.listdir(self.tmp))
        group = f"perfbench-{self.n_groups}"
        self.n_groups += 1
        spark.sparkContext.setJobGroup(group, name)
        if traced:
            self.reader.drain()
            self.reader.mark()
        self.attempted += 1
        error = None
        start = time.time()
        t0 = t1 = time.perf_counter()
        try:
            df = spec.fn(spark, self.sf_dir)
            t1 = time.perf_counter()
            if oracle is not None:
                error = oracle.mismatch(name, spec.oracle, df)
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # one failing query must not end the run
            error = traceback.format_exc(limit=3)
        t2 = time.perf_counter()
        end = time.time()
        tmp_mb = self.remove_new_tmp(before)
        if error is not None:
            self.failures.append({"query": name, "pass": len(self.passes), "error": error})
            print(f"FAILED {name}: {error}", file=sys.stderr, flush=True)
            return None
        out = {"query": name, "module": module_layer(spec.fn), "plan_s": t1 - t0,
               "exec_s": t2 - t1, "latency_s": t2 - t0}
        if traced:
            c0 = time.perf_counter()
            out.update(self.layer_counts(group, parent, start, end, t1 - t0))
            out["sources.tmp_written_mb"] = tmp_mb
            out["trace.collect_s"] = time.perf_counter() - c0
        return out

    def remove_new_tmp(self, before: set[str]) -> float:
        """Delete what the last query left in the temp dir; return its size in MiB."""
        mb = 0.0
        for entry in sorted(set(os.listdir(self.tmp)) - before):
            path = os.path.join(self.tmp, entry)
            mb += tree_mb(path)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
        return mb

    def layer_counts(self, group: str, parent, start: float, end: float,
                     plan_s: float) -> dict:
        """Status-store counters of one query, recorded as spans under it."""
        self.reader.drain()
        qid = self.tracer.add("query", start, end, parent, group=group)
        self.tracer.add("plan", start, start + plan_s, qid)
        self.tracer.add("exec", start + plan_s, end, qid)
        jobs = self.reader.jobs(group)
        out = {k: 0.0 for k in STAGE_SUMS}
        out["peak_exec_mem_mb"] = 0.0
        out["jobs"] = len(jobs)
        out["stages"] = sum(len(j["stages"]) for j in jobs)
        out["stages_skipped"] = sum(j["stages_skipped"] for j in jobs)
        intervals = []
        for job in jobs:
            if job["start"] is None:
                continue
            job_end = job["end"] if job["end"] is not None else end
            intervals.append((job["start"], job_end))
            jid = self.tracer.add("spark.job", job["start"], job_end, qid, job=job["id"])
            for st in job["stages"]:
                for k in STAGE_SUMS:
                    out[k] += st[k]
                out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], st["peak_exec_mem_mb"])
                if st["start"] is not None:
                    self.tracer.add("spark.stage", st["start"],
                                    st["end"] if st["end"] is not None else job_end,
                                    jid, stage=st["id"], tasks=st["tasks"])
        out["driver_outside_jobs_s"] = (end - start) - covered(intervals, start, end)
        out.update(self.reader.python_workers())
        rdds, mb = self.reader.retained_storage()
        out["storage.retained_rdds"] = rdds
        out["storage.retained_mb"] = mb
        return out

    # -- passes -----------------------------------------------------------

    def check_pass(self, run_span, oracle) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("check_pass", run_span) as pid:
            for name in pass_order(self.workload, self.args.seed, 0):
                r = self.run_query(name, pid, oracle, traced=False)
                if r is not None:
                    self.check_latency[name] = r["latency_s"]
        self.check_pass_s = time.perf_counter() - t0

    def measured_passes(self, run_span) -> None:
        measured = 0.0
        min_passes = TRACED_MIN_PASSES if self.tracer.enabled else MIN_PASSES
        while measured < self.args.seconds or len(self.passes) < min_passes:
            pass_no = len(self.passes) + 1
            traced = self.tracer.enabled and pass_no % 2 == 0
            order = pass_order(self.workload, self.args.seed, pass_no)
            t0 = time.perf_counter()
            with self.tracer.span("pass", run_span, index=pass_no, traced=traced) as pid:
                results = [self.run_query(q, pid, None, traced) for q in order]
            elapsed = time.perf_counter() - t0
            measured += elapsed
            ok = [r for r in results if r is not None]
            self.passes.append({
                "traced": traced,
                "elapsed_s": elapsed,
                "wall_s": sum(r["latency_s"] for r in ok),
                "queries": ok,
            })

    # -- shutdown ---------------------------------------------------------

    def shutdown(self) -> float:
        """Stop Spark and its JVM, wait for the JVM to exit; return peak RSS in MiB.

        Peak RSS is the JVM's high-water mark (the largest waited-for
        child) plus this Python driver's own.
        """
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        jvm_kb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    # -- metrics ----------------------------------------------------------

    def untraced(self) -> list[dict]:
        return [p for p in self.passes if not p["traced"]]

    def end_to_end(self) -> dict:
        latency = [{q["query"]: q["latency_s"] for q in p["queries"]} for p in self.untraced()]
        return {"wall_s": stats.best_pass_s(latency), "setup_s": self.setup_parts["total_s"]}

    def latency(self) -> dict:
        """Ungated wall-time figures: pass wall and per-query latency median and tail."""
        passes = self.untraced()
        lat = [q["latency_s"] for p in passes for q in p["queries"]]
        p_tail = stats.tail_percentile(len(lat))
        return {
            "pass_wall_s": statistics.median(p["wall_s"] for p in passes),
            "latency_p50_s": stats.percentile(lat, 50.0) if lat else None,
            "latency_samples": len(lat),
            # None: fewer than 20 samples, so no percentile has 10 beyond it
            "latency_tail_percentile": p_tail,
            "latency_tail_s": stats.percentile(lat, p_tail) if p_tail else None,
        }

    def per_layer(self, peak_rss_mb: float) -> tuple[dict, dict]:
        """Per-layer values (per pass, averaged over traced passes) and per-module rows."""
        traced = [p for p in self.passes if p["traced"]]
        k = len(traced)
        modules = {module_layer(s.fn): {"plan_s": 0.0, "exec_s": 0.0, "jobs": 0.0}
                   for s in self.registry.values()}
        sums = {key: 0.0 for key in QUERY_SUMS + tuple(PYTHON_METRICS.values())}
        out = {key: self.setup_parts[key] for key in SETUP_PARTS}
        peak = plan = exe = 0.0
        for p in traced:
            for q in p["queries"]:
                for key in sums:
                    sums[key] += q[key]
                peak = max(peak, q["peak_exec_mem_mb"])
                plan += q["plan_s"]
                exe += q["exec_s"]
                row = modules[q["module"]]
                for key in row:
                    row[key] += q[key] / k
        for key, total in sums.items():
            out[key if "." in key else f"spark.{key}"] = total / k
        wall = statistics.median(p["wall_s"] for p in traced)
        untraced = self.untraced()
        out.update({
            "spark.peak_exec_mem_mb": peak,
            "spark.busy_ratio": out["spark.executor_run_s"] / (wall * self.cores) if wall else 0.0,
            "query.plan_s": plan / k,
            "query.exec_s": exe / k,
            "pass.wall_s": wall,
            "process.peak_rss_mb": peak_rss_mb,
            "trace.overhead_s": wall - statistics.median(p["wall_s"] for p in untraced),
        })
        for mod, row in modules.items():
            for key, v in row.items():
                out[f"{mod}.{key}"] = v
        return out, modules


def print_layers(h: Harness, layers: dict, modules: dict, trace_path: Path) -> None:
    print(f"per-layer, per traced pass (local[{h.cores}]):")
    for key in sorted(k for k in layers if k.split(".")[0] not in modules):
        print(f"  {key:<28} {layers[key]:>12.4f}")
    print(f"  {'module':<16} {'plan_s':>9} {'exec_s':>9} {'jobs':>7}")
    for mod, row in sorted(modules.items()):
        if row["jobs"] or row["plan_s"]:
            print(f"  {mod:<16} {row['plan_s']:>9.3f} {row['exec_s']:>9.3f} {row['jobs']:>7.1f}")
    selfs = self_times(h.tracer.spans)
    by_name: dict[str, float] = {}
    for s in h.tracer.spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.id]
    print("  self time by span over the whole run (s):")
    for name, t in sorted(by_name.items(), key=lambda kv: -kv[1]):
        print(f"    {name:<22} {t:>10.3f}")
    print(f"  spans written to {trace_path.relative_to(ROOT)}")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    sys.path.insert(0, str(ROOT))
    try:
        # The engine is imported inside the timed set-up; here only check it is there.
        if importlib.util.find_spec("dfs_w_mapreduce_spark") is None:
            raise ImportError("no module named dfs_w_mapreduce_spark")
        from oracle import Oracle, load_normalization
        load_normalization(str(ROOT))
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    # A second run in the same checkout would delete this one's temp files.
    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        print(f"perfbench: another run is using {WORK}", file=sys.stderr)
        return 3
    for sub in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    for sub in ("traces", "records"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = str(WORK / "tmp")

    h = Harness(args, cores)
    oracle = Oracle(str(ROOT), h.sf_dir, str(WORK / "oracle"))
    try:
        with h.tracer.span("run", None, workload=args.workload, seed=args.seed) as rid:
            h.setup(rid)
            h.check_pass(rid, oracle)
            h.measured_passes(rid)
    finally:
        oracle.close()
        peak_rss = h.shutdown()

    values = h.end_to_end()
    latency = h.latency()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": cores, "attempted": h.attempted,
        "failed": len(h.failures), "failures": h.failures, "setup": h.setup_parts,
        "check_pass_s": h.check_pass_s, "check_latency_s": h.check_latency,
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"], "elapsed_s": p["elapsed_s"],
                    "latency_s": {q["query"]: q["latency_s"] for q in p["queries"]}}
                   for p in h.passes],
        "end_to_end": values, "latency": latency, "peak_rss_mb": peak_rss,
    }
    if args.trace:
        layers, modules = h.per_layer(peak_rss)
        record["per_layer"] = layers
        trace_path = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        h.tracer.dump(str(trace_path))
        record["trace_file"] = str(trace_path.relative_to(ROOT))
        print_layers(h, layers, modules, trace_path)
        chosen, listed = layers, spec["per_layer"]
    else:
        chosen, listed = values, spec["end_to_end"]
    with open(WORK / "records" / f"{args.workload}.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")

    print(f"workload {args.workload}: {len(h.passes)} measured passes, "
          f"{h.attempted} query runs, failed_share {len(h.failures) / h.attempted:.4f}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:<18} {values[m['name']]:>12.4f} {m['unit']}")
    if latency["latency_samples"]:
        tail = (f"p{latency['latency_tail_percentile']:g} {latency['latency_tail_s']:.4f} s"
                if latency["latency_tail_percentile"]
                else "no percentile has 10 samples beyond it")
        print(f"  not gated: pass wall {latency['pass_wall_s']:.4f} s, query p50 "
              f"{latency['latency_p50_s']:.4f} s, tail {tail}, "
              f"{latency['latency_samples']} samples; peak RSS {peak_rss:.1f} MB")
    result = {
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": {m["name"]: {"value": chosen[m["name"]], "unit": m["unit"]}
                    for m in listed},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

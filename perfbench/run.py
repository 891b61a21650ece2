"""Benchmark of the crz_scraper_spark engine.

Usage (from the repository root or anywhere else):

    python3 perfbench/run.py --workload olap_ingest_sf0.01 --seed 1 --seconds 20 --trace 0

One closed-loop client: this process issues one registry query at a time on
`local[<cores>]`, half the machine's processors, and waits for its complete result (builder call plus
`collect()`). Each run

1. sets up: imports the engine, generates the workload's inputs from the
   seed, verifies their row counts, launches the JVM and starts a Spark
   session, all timed from process start;
2. runs pass 1, each query's first execution in the process (cold);
3. runs WARMUP_PASSES pass(es) of JIT warm-up, checked but not timed into
   the warm metrics, then round(`--seconds` / NOMINAL_PASS_S)
   warm passes (a count fixed by `--seconds`, so every run and commit does
   the same work);
4. stops the session and deletes what the run left behind.

Every execution's result is checked against the query's DuckDB oracle
outside the timed window; an exception or a mismatch counts as failed.

Pass 1 runs the workload's listed order; every warm pass runs an order
shuffled from the seed. `--trace 0` prints the end-to-end metrics;
`--trace 1` traces the layers (see tracing.py), alternates traced and
untraced warm passes after the warm-up, and prints the per-layer metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
A detail file with the environment stamp and per-query figures is written
under `.perfbench/results/`.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Seconds of measurement one warm pass stands for: a run of `seconds` makes
# round(seconds / NOMINAL_PASS_S) warm passes (at least two), a count that
# does not vary with the speed of the run or of the commit under test.
NOMINAL_PASS_S = 5.0
# Passes between the cold pass and the warm passes, checked but not timed
# into the warm metrics. The first pass after the cold one is the slowest
# and the most variable while the JVM is still compiling; more warm-up
# passes would not fit the per-run time budget.
WARMUP_PASSES = 1
TAIL_BEYOND = 10  # warm executions the reported tail percentile must leave above it
# Reading the JVM's smaps_rollup walks its page tables (25-50 ms on a 4-vCPU
# host), so memory is sampled once a second to keep that out of the queries.
SAMPLE_INTERVAL_S = 1.0
UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_rss_mb": "MB",
}


def tail(samples: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least TAIL_BEYOND samples above it
    (nearest rank), and that percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[0], 0
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    return xs[max(math.ceil(pct * n / 100) - 1, 0)], pct


def warm_passes(seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_PASS_S))


def is_warm(rec: dict) -> bool:
    """Whether an execution belongs to a warm pass (after the warm-up)."""
    return rec["pass"] > 1 + WARMUP_PASSES


def pass_order(queries: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """Pass 1 runs the workload's listed order, so which query pays the
    process's first-use costs does not vary between runs; every later pass
    (warm-up or warm) runs a fresh shuffle fixed by (seed, pass)."""
    order = list(queries)
    if pass_no > 1:
        random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def typical_pass_s(executions: list[dict]) -> float:
    """Sum over queries of each query's median latency in `executions`: the
    time of a typical pass, robust to one slow execution."""
    by_query = defaultdict(list)
    for r in executions:
        by_query[r["query"]].append(r["latency_s"])
    return sum(statistics.median(v) for v in by_query.values())


def source_stamp() -> dict:
    """Git SHA when the tree is a git checkout, and a digest of the engine and
    benchmark sources either way."""
    h = hashlib.sha256()
    for top in ("crz_scraper_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(dirpath, name), "rb") as f:
                        h.update(f.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


class Run:
    def __init__(self, workload, seed: int, seconds: float, traced: bool, work_root: str,
                 started: float | None = None):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(work_root, f"{workload.name}-{seed}-{os.getpid()}")
        # Spark gets half the processors: the rest stay free for the JVM's
        # compiler and GC threads, this process and the Python workers, so a
        # task waits less on whichever processor the host is busy with.
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)
        self.driver_mem_mb = max(1024, procs.meminfo_mb() // 8)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.executions: list[dict] = []  # one per timed execution
        self.passes: list[dict] = []
        self.tracer = tracing.Tracer()
        self.input_dir = ""
        self.rows: dict[str, int] = {}
        self.setup_times: dict[str, float] = {}
        # Set-up is timed from `started` (process start for a command-line
        # run), or else from the creation of this object.
        self.started = time.time() if started is None else started
        self.versions: dict[str, str] = {}
        self.expected: dict[str, dict] = {}  # query -> oracle digest

    # -- set-up ---------------------------------------------------------------
    def _session_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # A fixed-size heap (initial = maximum), touched in full at JVM
            # start, is resident at its configured size in every run, so the
            # JVM's resident size does not follow how much of the heap GC
            # happened to use (engine heap use is mem.jvm_heap_peak_mb); GC
            # threads are capped at Spark's share of the processors.
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.driver_mem_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
                f" -XX:ParallelGCThreads={self.cores} -XX:ConcGCThreads=1"
                f" -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> float:
        """Generate and verify the inputs, launch the JVM and start the
        session. Return the seconds from process start until the first
        query may run, which include the interpreter and engine imports."""
        for d in ("spark-local", "tmp", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # Spark's Python workers import the engine from the repository root.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.driver_mem_mb}m"
        from crz_scraper_spark.plans import registry  # noqa: F401 - engine imports count in set-up
        from crz_scraper_spark.session import get_spark

        self.input_dir = os.path.join(self.work, "inputs")
        t0 = time.time()
        expected = gen.generate(self.input_dir, self.w.sf, self.seed)
        self.rows = self._verify_inputs(expected)
        t1 = time.time()
        self.spark = get_spark(f"perfbench-{self.w.name}", cpus=self.cores,
                               extra_conf=self._session_conf())
        t2 = time.time()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_times = {"setup_s": t2 - self.started, "imports_s": t0 - self.started,
                            "generate_s": t1 - t0, "session_s": t2 - t1}
        jvm_system = self.spark.sparkContext._jvm.java.lang.System
        self.versions = {
            "spark": self.spark.version,
            "java": f"{jvm_system.getProperty('java.vendor')} {jvm_system.getProperty('java.version')}",
        }
        return self.setup_times["setup_s"]

    def _verify_inputs(self, expected: dict[str, int]) -> dict[str, int]:
        import pyarrow.parquet as pq

        got = {
            t: pq.ParquetFile(os.path.join(self.input_dir, f"{t}.parquet")).metadata.num_rows
            for t in expected
        }
        if got != expected:
            raise RuntimeError(f"generated inputs have {got} rows, expected {expected}")
        return got

    # -- execution ------------------------------------------------------------
    def execute(self, name: str, pass_no: int, traced: bool) -> dict:
        """Time one execution (builder call plus collecting the complete
        result), then check the result outside the timed window."""
        from crz_scraper_spark.plans.registry import REGISTRY

        qid = f"p{pass_no}:{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(qid, f"perfbench {self.w.name} pass {pass_no}")
        rec = {"qid": qid, "query": name, "pass": pass_no, "traced": traced}
        self.tracer.qid = qid
        rows = None
        t0 = time.time()
        try:
            span = self.tracer.begin("plans.build") if traced else None
            try:
                df = REGISTRY[name][0](self.spark, self.input_dir)
            finally:
                if traced:
                    self.tracer.end(span)
            t_built = time.time()
            if traced:
                df._jdf.queryExecution().executedPlan()
            t_planned = time.time()
            rows = df.collect()
        except Exception:  # noqa: BLE001 - a failed query is counted and the run goes on
            self.errors.append(f"{qid}: {traceback.format_exc(limit=3)}")
            t_built = t_planned = time.time()
        t1 = time.time()
        rec.update(start=t0, end=t1, latency_s=t1 - t0, build_s=t_built - t0,
                   plan_s=t_planned - t_built, action_s=t1 - t_planned)
        sc.setJobGroup("perfbench-idle", "between queries")
        rec["ok"] = rows is not None and self.check(name, rows, df.columns)
        self.attempted += 1
        self.failed += not rec["ok"]
        self.spark.catalog.clearCache()
        gc.collect()
        return rec

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        io0 = procs.tree_io() if traced else None
        recs = [self.execute(n, pass_no, traced)
                for n in pass_order(self.w.queries, self.seed, pass_no)]
        p = {"pass": pass_no, "traced": traced,
             "seconds": sum(r["latency_s"] for r in recs)}
        if traced:
            p["io_read_bytes"], p["io_write_bytes"] = procs.io_delta(io0, procs.tree_io())
        self.executions.extend(recs)
        self.passes.append(p)
        return p

    # -- correctness ----------------------------------------------------------
    def load_expected(self) -> None:
        """Compute every query's oracle digest in a child interpreter, so the
        DuckDB oracle's memory never counts toward this process tree."""
        code = (
            "import json, sys; sys.path.insert(0, sys.argv[1]); import run; "
            "print(json.dumps(run.oracle_digests(sys.argv[2], sys.argv[3].split(','))))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code, HERE, self.input_dir, ",".join(self.w.queries)],
            capture_output=True, text=True, timeout=170, check=True,
        ).stdout
        self.expected = json.loads(out.strip().splitlines()[-1])

    def check(self, name: str, rows: list, cols: list[str]) -> bool:
        """Compare a result's columns, row count and value hash with the
        oracle's digest in `expected`."""
        from crz_scraper_spark.oracle import value_hash

        got = {"cols": sorted(cols), "rows": len(rows),
               "hash": value_hash([tuple(r) for r in rows], cols)}
        if got != self.expected[name]:
            self.errors.append(f"check {name}: got {got}, expected {self.expected[name]}")
            return False
        return True

    # -- the run --------------------------------------------------------------
    def stop_spark(self) -> None:
        """Stop the session, then the JVM that PySpark launched, and wait for
        it (and with it the Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while len(procs.tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.1)

    def run(self) -> tuple[dict, dict]:
        """Set up, run the passes, tear down; return (detail, metrics)."""
        heap = rss = None
        try:
            setup_s = self.setup()
            t0 = time.time()
            self.load_expected()
            self.oracle_s = time.time() - t0
            jvm_pid = self.spark.sparkContext._gateway.proc.pid
            rss = procs.Sampler(lambda: procs.engine_pss_mb(jvm_pid), SAMPLE_INTERVAL_S).start()
            if self.traced:
                self.tracer.install()
                jvm_rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                heap = procs.Sampler(
                    lambda: (jvm_rt.totalMemory() - jvm_rt.freeMemory()) / 2**20,
                    SAMPLE_INTERVAL_S,
                ).start()
            cold = self.run_pass(1, self.traced)
            first_warm = 2 + WARMUP_PASSES
            for pass_no in range(2, first_warm):
                self.run_pass(pass_no, False)
            for pass_no in range(first_warm, first_warm + warm_passes(self.seconds)):
                # Traced runs alternate traced and untraced warm passes, the
                # first one traced, so the tracing overhead is a paired
                # comparison.
                self.run_pass(pass_no, self.traced and (pass_no - first_warm) % 2 == 0)
            leftover = procs.tree_bytes(
                procs.fixture_dirs(os.getpid()) + [os.path.join(self.work, "spark-local")]
            )
            heap_peak = heap.stop() if heap else 0.0
            app_id = self.spark.sparkContext.applicationId
            self.stop_spark()
            event_log = (tracing.fold_event_log(os.path.join(self.work, "eventlog", app_id))
                         if self.traced else None)
        finally:
            self.tracer.uninstall()
            if heap:
                heap.stop()
            peak_rss = rss.stop() if rss else 0.0
            self.stop_spark()
            procs.remove(procs.fixture_dirs(os.getpid()) + [self.work])

        untraced_warm = [r for r in self.executions if is_warm(r) and not r["traced"]]
        warm_lat = [r["latency_s"] for r in untraced_warm]
        tail_s, tail_pct = tail(warm_lat)
        detail = {
            "workload": self.w.name, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.traced), "setup": self.setup_times, "input_rows": self.rows,
            "oracle_s": self.oracle_s, "passes": self.passes, "errors": self.errors[:20],
            "query_tail_percentile": tail_pct, "warm_executions": len(warm_lat),
        }
        if self.traced:
            metrics = self.layer_metrics(event_log, leftover, heap_peak)
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_pass_s": cold["seconds"],
                "warm_pass_s": typical_pass_s(untraced_warm),
                "query_p50_s": statistics.median(warm_lat),
                "query_tail_s": tail_s,
                "peak_rss_mb": peak_rss,
            }
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
        detail["per_query"] = self.per_query()
        return detail, metrics

    def per_query(self) -> dict:
        out = defaultdict(lambda: {"cold_s": None, "warmup_s": [], "warm_s": []})
        for r in self.executions:
            q = out[r["query"]]
            if r["pass"] == 1:
                q["cold_s"] = r["latency_s"]
            elif not is_warm(r):
                q["warmup_s"].append(r["latency_s"])
            elif not r["traced"]:
                q["warm_s"].append(r["latency_s"])
        return dict(out)

    # -- per-layer metrics ----------------------------------------------------
    def layer_metrics(self, log: tracing.EventLog, leftover: int, heap_peak: float) -> dict:
        traced = [r for r in self.executions if r["traced"]]
        traced_passes = [p for p in self.passes if p["traced"]]
        n_passes = len(traced_passes)
        windows = {r["qid"]: (r["start"], r["end"]) for r in traced}
        jobs = tracing.jobs_by_execution(log, windows)
        layer_s = self.tracer.layer_seconds()
        totals: dict[str, float] = defaultdict(float)

        def span_jobs(qid, span):
            return sum(1 for j in jobs.get(qid, []) if span.start <= j.submitted <= span.end)

        for r in traced:
            qid = r["qid"]
            ls = layer_s.get(qid, {})
            totals["plans.build_s"] += r["build_s"]
            totals["plans.self_s"] += ls.get("plans.build.self", 0.0)
            totals["catalyst.plan_s"] += r["plan_s"]
            totals["exec.action_s"] += r["action_s"]
            q_jobs = jobs.get(qid, [])
            action_start = r["start"] + r["build_s"] + r["plan_s"]
            totals["plans.eager_jobs"] += sum(1 for j in q_jobs if j.submitted < action_start)
            totals["exec.jobs"] += len(q_jobs)
            totals["exec.stages"] += sum(len(j.ran_stages) for j in q_jobs)
            for j in q_jobs:
                for k, v in log.task_metrics.get(j.job_id, {}).items():
                    totals["exec." + k] += v
            for layer in {tracing.layer_of(name) for name in tracing.LAYERS}:
                totals[f"{layer}.s"] += ls.get(layer, 0.0)
        for layer in ("catalog.load_table", "catalog.pin"):
            totals[f"{layer}.calls"] = sum(
                1 for s in self.tracer.spans if tracing.layer_of(s.name) == layer and s.qid in windows)
        for layer in ("operators.dedup", "operators.similarity"):
            totals[f"{layer}.eager_jobs"] = sum(
                span_jobs(s.qid, s) for s in self.tracer.outer_spans(layer) if s.qid in windows)
        stream = [p for p in log.stream_progress
                  if any(a <= p[0] <= b for a, b in windows.values())]
        totals["streaming.batches"] = len(stream)
        totals["streaming.batch_s"] = sum(p[1] for p in stream)
        latency = sum(r["latency_s"] for r in traced)
        util = totals["exec.task_run_s"] / (latency * self.cores) if latency else 0.0
        io_read = sum(p["io_read_bytes"] for p in traced_passes)
        io_write = sum(p["io_write_bytes"] for p in traced_passes)

        per_pass = {k: v / n_passes for k, v in totals.items()}
        untraced_warm = [r for r in self.executions if is_warm(r) and not r["traced"]]
        traced_warm = [r for r in traced if is_warm(r)]
        ratio = (typical_pass_s(traced_warm) / typical_pass_s(untraced_warm)
                 if traced_warm and untraced_warm else 0.0)
        values = {
            "session.start_s": (self.setup_times["session_s"], "s"),
            "inputs.generate_s": (self.setup_times["generate_s"], "s"),
            "exec.core_util": (util, "ratio"),
            "streaming.state_rows_peak": (max((p[2] for p in stream), default=0), "rows"),
            "io.read_bytes": (io_read / n_passes, "bytes"),
            "io.write_bytes": (io_write / n_passes, "bytes"),
            "io.leftover_bytes": (leftover, "bytes"),
            "mem.jvm_heap_peak_mb": (heap_peak, "MB"),
            "trace.overhead_ratio": (ratio, "ratio"),
        }
        for k in PER_PASS_METRICS:
            values[k] = (per_pass.get(k, 0.0), PER_PASS_METRICS[k])
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


# per-layer metrics reported per traced pass: name -> unit
PER_PASS_METRICS = {
    "plans.build_s": "s", "plans.self_s": "s", "plans.eager_jobs": "count",
    "catalog.load_table.calls": "count", "catalog.load_table.s": "s",
    "catalog.pin.calls": "count", "catalog.pin.s": "s",
    "operators.dedup.s": "s", "operators.dedup.eager_jobs": "count",
    "operators.similarity.s": "s", "operators.similarity.eager_jobs": "count",
    "operators.textquality.s": "s", "operators.tagging.s": "s",
    "operators.heavyhitters.s": "s", "operators.upsert.s": "s",
    "operators.compaction.s": "s", "sources.read.s": "s", "sources.write.s": "s",
    "streaming.s": "s", "streaming.batches": "count", "streaming.batch_s": "s",
    "catalyst.plan_s": "s", "exec.action_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.result_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.python_bytes_sent": "bytes", "exec.python_rows_returned": "rows",
}


def oracle_digests(input_dir: str, queries: list[str]) -> dict[str, dict]:
    """Column names, row count and value hash of each query's DuckDB oracle
    result over `input_dir`, materialized the way
    `crz_scraper_spark.oracle.compare` does. A query whose oracle fails gets
    a digest no result can match."""
    sys.path.insert(0, ROOT)
    from crz_scraper_spark.oracle import _oracle_rows, duckdb_connection, value_hash
    from crz_scraper_spark.plans.registry import REGISTRY

    con = duckdb_connection(input_dir)
    try:
        out = {}
        for name in queries:
            try:
                rows, cols = _oracle_rows(con, REGISTRY[name][1])
            except Exception:  # noqa: BLE001 - recorded in the digest, checked as a mismatch
                out[name] = {"oracle_error": traceback.format_exc(limit=2)}
                continue
            out[name] = {"cols": sorted(cols), "rows": len(rows), "hash": value_hash(rows, cols)}
        return out
    finally:
        con.close()


def environment(run: Run) -> dict:
    import pyspark

    return {
        "cores": run.cores,
        "mem_total_mb": procs.meminfo_mb(),
        "driver_mem_mb": run.driver_mem_mb,
        **source_stamp(),
        **run.versions,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crz_scraper_spark")):
        print(f"perfbench: no crz_scraper_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench")
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work_root,
              started=PROCESS_START if argv is None else None)
    detail, metrics = run.run()
    detail["environment"] = environment(run)
    detail["metrics"] = metrics
    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    out = os.path.join(work_root, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for err in run.errors:
        print(err, file=sys.stderr)
    print(json.dumps({"environment": detail["environment"], "detail": out,
                      "query_tail_percentile": detail["query_tail_percentile"],
                      "warm_executions": detail["warm_executions"]}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

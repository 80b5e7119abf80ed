"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It starts Spark on ``local[n]``
(n = min(4, usable cores)), sets up the workload, runs closed-loop
operations for ``--seconds`` seconds, checks every result, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` wraps the program's public entry points in spans (see
``tracing.py``) and reports the per-layer metrics instead, including
``trace.overhead_ratio``: traced over untraced operation time, from the
same run. The first rotation of polls, or the first query pass, is traced;
the rest are not.

Workloads, both listed in ``BENCHMARK.json``: ``cdc_incremental``
(steady-state polling, ``cdc.py``) and ``query_iterative`` (registry
queries, ``queries.py``).

End-to-end metrics, by workload:

* ``op_s_p50`` — cdc_incremental: median wall time of one
  ``run_incremental_sync`` call. query_iterative: the sum over the
  workload's queries of each query's median wall time (plan build plus
  execution into the ``noop`` sink), i.e. one pass.
* ``disk_bytes_per_op`` — cdc_incremental: bytes added under the output,
  state and git-repository directories by one sync (mean over whole
  rotations of poll shapes; divide by the issue-versions per sync, printed
  in the info line, for bytes per issue).
  query_iterative: bytes Spark wrote to local disk in one pass (shuffle
  writes plus disk spills, from the status store).
* ``setup_s`` — session start plus the workload's set-up and warm-up.
* ``peak_rss_mb`` — peak resident memory (VmHWM) of the driver JVM plus
  the Python driver. The JVM runs a fixed 2 GB heap (``DRIVER_JAVA_OPTIONS``),
  so this moves with old-generation growth, native memory and the Python
  side, not with GC timing.

Which end-to-end metric each layer should move, and where:

* ``jira_rest.*`` — about nothing on cdc_incremental (it would move an
  initial-load workload, which this benchmark does not run).
* ``pipeline.*``, ``state.*`` — ``op_s_p50`` and ``disk_bytes_per_op`` on
  cdc_incremental (rewriting more state per poll trades one for the other).
* ``sinks.*`` — ``disk_bytes_per_op`` (small files) on cdc_incremental.
* ``sinks_git.*`` — ``op_s_p50`` on cdc_incremental; the slowest
  per-project partition sets ``sinks_git.fan_out_s``.
* ``jql.*`` — ``op_s_p50`` of both workloads, expected small:
  ``optimize_query`` runs in every sync, ``compile_jql`` in the
  ``jql_project_active`` query.
* ``materialize.*`` — ``op_s_p50`` on query_iterative; nothing on
  cdc_incremental, which never calls it.
* ``q.<query>.*`` — ``op_s_p50`` on query_iterative.
* ``spark.*`` — ``op_s_p50`` on cdc_incremental (job overhead) and on
  query_iterative. A persist or cache change trades ``op_s_p50`` against
  ``peak_rss_mb``.

Earlier lines of standard output carry the environment and extra figures
(the tail percentile with its sample count, issue-versions per second,
mock-server request counts). Spans of a traced run are written to
``.bench_out/``. Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
MAX_CPUS = 4
DRIVER_MEM = "2g"
#: driver JVM flags: a fixed-size heap under the serial collector. Heap
#: growth then does not hang on GC timing, so peak RSS repeats, and no
#: parallel GC threads compete with the four task threads for the cores.
DRIVER_JAVA_OPTIONS = f"-XX:+UseSerialGC -Xms{DRIVER_MEM}"

END_TO_END = [("op_s_p50", "s"), ("disk_bytes_per_op", "B"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]

#: per-layer metrics read from spans: (metric, span, field, unit), per
#: operation (one sync, or one query pass)
SPAN_METRICS = [
    ("jira_rest.pages", "jira_rest.fetch_page", "count", "count"),
    ("jira_rest.fetch_s", "jira_rest.fetch_page", "total_s", "s"),
    ("jira_rest.limiter_wait_s", "jira_rest.limiter_wait", "total_s", "s"),
    ("jira_rest.retries", "jira_rest.backoff", "count", "count"),
    ("pipeline.change_set_s", "pipeline.incremental_sync_batch", "self_s", "s"),
    ("state.filter_changes_s", "state.filter_changes", "total_s", "s"),
    ("state.merge_s", "state.merge", "total_s", "s"),
    ("state.record_operation_s", "state.record_operation", "total_s", "s"),
    ("sinks.issue_deltas_s", "sinks.append_issue_deltas", "total_s", "s"),
    ("sinks.commit_log_s", "sinks.append_commit_log", "total_s", "s"),
    ("sinks.edges_s", "sinks.write_edges", "total_s", "s"),
    ("sinks_git.fan_out_s", "sinks_git.materialize_fan_out", "total_s", "s"),
    ("sinks_git.symlinks_s", "sinks_git.materialize_symlinks_fan_out",
     "total_s", "s"),
    ("jql.optimize_s", "jql.optimize_query", "total_s", "s"),
    ("jql.compile_s", "jql.compile_jql", "total_s", "s"),
    ("materialize.calls", "materialize.materialize", "count", "count"),
    ("materialize.s", "materialize.materialize", "total_s", "s"),
]
#: per-layer metrics cdc_incremental measures outside the spans
MEASURED = [
    ("pipeline.change_yield", "ratio"),
    ("state.partitions_rewritten", "count"),
    ("state.partitions_linked", "count"),
    ("state.rows_rewritten_per_change", "rows"),
    ("state.bytes_written", "B"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "B"),
    ("sinks_git.commits", "count"),
    ("sinks_git.bytes_written", "B"),
    ("trace.overhead_ratio", "ratio"),
]
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
               "output_bytes": "B", "executor_cpu_s": "s", "spill_bytes": "B"}
QUERY_FIELDS = [("build_s", "s"), ("exec_s", "s"), ("jobs", "count")]


def per_layer(query_names) -> list[tuple[str, str]]:
    return (
        [(m, u) for m, _s, _f, u in SPAN_METRICS]
        + MEASURED
        + [(f"spark.{k}", u) for k, u in SPARK_UNITS.items()]
        + [(f"q.{n}.{f}", u) for n in query_names for f, u in QUERY_FIELDS]
    )


class Run:
    """State of one benchmark invocation, shared with the workloads."""

    def __init__(self, args, spark, work: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s = 0.0
        self._plant = args.plant_wrong
        self.redeliver_changed = args.redeliver_changed
        self.root = ROOT
        self.data = DATA
        self.cache = os.path.join(ROOT, ".bench_cache")
        self.metrics: dict[str, float] = {}
        self.info: dict = {}
        #: traced operation call ids, and how many operations they make up
        self.layer_calls: set[int] = set()
        self.layer_ops = 0

    def check(self, errs: list[str]) -> None:
        """Count one verified operation."""
        self.attempted += 1
        if errs:
            self.failed += 1
            for e in errs:
                self.errors.append(e)
                print(f"CHECK FAILED: {e}", file=sys.stderr, flush=True)

    def take_planted(self) -> bool:
        """True once, for the first checked output, under --plant-wrong:
        the caller corrupts that output before checking it."""
        planted, self._plant = self._plant, False
        return planted

    def timed(self, fn, traced: bool = False):
        """Run one operation; (result, seconds, call id or None). Spark
        counters are read after the clock stops."""
        tr = self.tracer
        call = None
        if tr is not None and traced:
            call = tr.begin_call()
            tr.active = True
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            if tr is not None:
                tr.active = False
        if tr is not None:
            tr.collect_jobs()
        return out, dt, call

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = value

    def span_metrics(self) -> None:
        """Per-layer metrics from the spans of the traced operations."""
        tr, n = self.tracer, max(self.layer_ops, 1)
        totals = tr.totals(self.layer_calls)
        for metric, span, field, _unit in SPAN_METRICS:
            self.metric(metric, totals.get(span, {}).get(field, 0) / n)
        for k, v in tr.spark_totals(self.layer_calls).items():
            self.metric(f"spark.{k}", v / n)
        for name, agg in totals.items():
            if name.startswith("q.") and name.endswith((".build", ".exec")):
                self.metric(f"{name}_s", agg["total_s"] / agg["count"])
        for name, jobs in tr.inclusive_jobs(self.layer_calls).items():
            self.metric(f"q.{name}.jobs", jobs)


def install_spans(tracer) -> None:
    from jira_cdc_git_spark import jql, materialize, sinks, sinks_git
    from jira_cdc_git_spark.sources import jira_rest
    from jira_cdc_git_spark.state import SyncStateStore
    from jira_cdc_git_spark.streaming import pipeline

    for owner, attr, name in [
        (pipeline, "run_incremental_sync", "pipeline.run_incremental_sync"),
        (pipeline, "incremental_sync_batch", "pipeline.incremental_sync_batch"),
        (jira_rest, "search_query", "jira_rest.search_query"),
        (jira_rest, "fetch_page", "jira_rest.fetch_page"),
        (jira_rest, "parse_search_payloads", "jira_rest.parse_search_payloads"),
        (jira_rest.RateLimiter, "wait", "jira_rest.limiter_wait"),
        (jira_rest.RateLimiter, "backoff", "jira_rest.backoff"),
        (SyncStateStore, "filter_changes", "state.filter_changes"),
        (SyncStateStore, "merge", "state.merge"),
        (SyncStateStore, "record_operation", "state.record_operation"),
        (sinks, "append_issue_deltas", "sinks.append_issue_deltas"),
        (sinks, "append_commit_log", "sinks.append_commit_log"),
        (sinks, "write_edges", "sinks.write_edges"),
        (sinks_git, "materialize_fan_out", "sinks_git.materialize_fan_out"),
        (sinks_git, "materialize_symlinks_fan_out",
         "sinks_git.materialize_symlinks_fan_out"),
        (jql, "optimize_query", "jql.optimize_query"),
        (jql, "compile_jql", "jql.compile_jql"),
    ]:
        tracer.patch(owner, attr, name)
    tracer.patch_everywhere(materialize, "materialize", "materialize.materialize")


def start_spark(cpus: int, work: str):
    from jira_cdc_git_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it every
    Python worker it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def environment(spark, args, cpus: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "default_parallelism": sc.defaultParallelism,
        "master": sc.master, "nproc": os.cpu_count(),
        "sf_dir": os.path.relpath(DATA, ROOT),
        "git_sha": sha.stdout.strip() if sha.returncode == 0 else None,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "jvm_args": list(sc._jvm.java.lang.management.ManagementFactory
                         .getRuntimeMXBean().getInputArguments()),
        "python": platform.python_version(),
    }


def workloads():
    from perfbench import cdc, queries

    return {
        "cdc_incremental": cdc.run_incremental,
        "query_iterative": lambda run: queries.run_queries(
            run, queries.QUERY_ITERATIVE),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt the first checked output; the run must fail")
    ap.add_argument("--redeliver-changed", action="store_true",
                    help="cdc_incremental: redeliver a changed issue-version, "
                         "not an unchanged issue, in each poll (self-test probe)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "jira_cdc_git_spark")):
        print(f"no program next to the benchmark under {ROOT}", file=sys.stderr)
        return 2
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    table = workloads()
    if args.workload not in table:
        print(f"unknown workload {args.workload!r}; one of {sorted(table)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers must import the program whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # everything Spark, Python and git write stays under the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher included: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # pin the session: no caller environment may change master or memory
    for var in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # collected timestamps become naive datetimes in the local zone; the
    # checks compare them with the generator's UTC clock
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))

    t0 = time.perf_counter()
    spark = start_spark(cpus, work)
    session_s = time.perf_counter() - t0
    run = None
    try:
        env = environment(spark, args, cpus)
        print(json.dumps({"env": env}), flush=True)
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark)
            install_spans(tracer)
        run = Run(args, spark, work, tracer)
        try:
            table[args.workload](run)
        except Exception:
            traceback.print_exc()
            run.attempted += 1
            run.failed += 1
            run.errors.append("operation raised")
        if not args.trace:
            run.metric("setup_s", session_s + run.setup_s)
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}
            run.metric("peak_rss_mb", sum(rss.values()))
            run.info["peak_rss_mb"] = rss
        if tracer is not None:
            tracer.uninstall()
            if run.layer_calls:
                run.span_metrics()
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"spans-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"env": env, "spans": tracer.dump()}, f)
            run.info["spans_file"] = os.path.relpath(path, ROOT)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.info["session_s"] = session_s
    print(json.dumps({"info": run.info}), flush=True)
    from perfbench.queries import QUERY_ITERATIVE

    wanted = per_layer(QUERY_ITERATIVE) if args.trace else END_TO_END
    correct = run.failed == 0 and not run.errors
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": run.metrics.get(k, 0), "unit": u}
                    for k, u in wanted},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

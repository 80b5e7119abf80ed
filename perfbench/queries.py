"""The analytics workload, ``query_iterative``: registry queries from
``__spark_entry__``, one analyst waiting for each. An operation is one
query: the plan build (the registry function call, which runs any eager
``materialize()`` jobs) plus execution into the ``noop`` sink. A pass runs
every query of the workload once, in a seeded order.

Results are checked untimed, once per run, against the frozen DuckDB
oracles by the ``tests/_diffcheck.compare`` rule. Oracle results are
cached under the checkout, keyed by the sha256 of the oracle SQL and the
data directory, so DuckDB runs only when the SQL or the data changes.
"""

from __future__ import annotations

import hashlib
import os
import pickle

#: two of the driver-heavy iterative queries, from the graph and the
#: language-model families, whose plan builds run eager ``materialize()``
#: jobs; and one JQL query, the only registry path that compiles JQL
#: (``jql.compile_jql``). More queries would not fit the run-time budget.
QUERY_ITERATIVE = ["hits_scores", "kn_perplexity_split", "jql_project_active"]


def _data_key(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        h.update(name.encode())
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def oracle_frames(names: list[str], sf_dir: str, cache_dir: str) -> dict:
    """name -> oracle result (pandas), from the cache or from DuckDB."""
    import __spark_entry__ as E

    sqls = E.oracle_sql()
    data = _data_key(sf_dir)
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        pin = hashlib.sha256(sqls[name].encode()).hexdigest()
        path = os.path.join(cache_dir, f"{name}-{data}-{pin[:16]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
            continue
        if con is None:
            con = _duckdb(sf_dir)
        df = con.execute(sqls[name]).fetchdf()
        tmp = path + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(df, f)
        os.replace(tmp, path)
        out[name] = df
    if con is not None:
        con.close()
    return out


def _duckdb(sf_dir: str):
    """DuckDB with a view per table file; the bundled data holds only the
    tables the workload's queries read."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(sf_dir)):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * "
                    f"FROM '{os.path.join(sf_dir, f)}'")
    return con


def load_compare(root: str):
    """The repository's oracle comparison rule, ``tests/_diffcheck.compare``."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "perfbench_diffcheck", os.path.join(root, "tests", "_diffcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # the module prepends its own checkout path
    return mod.compare


#: timed passes per run at least; in a traced run the first pass is traced
#: and the rest are not
MIN_PASSES = 3


def run_queries(run, names: list[str]) -> None:
    import random
    import statistics
    import time

    import __spark_entry__ as E

    from perfbench.tracing import JobCursor, new_jobs

    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    registry = E.queries()
    compare = load_compare(run.root)
    t_or = time.perf_counter()
    oracle = oracle_frames(names, run.data, run.cache)
    oracle_s = time.perf_counter() - t_or
    order = random.Random(run.seed).sample(names, len(names))

    def execute(name: str, traced: bool) -> None:
        sp = tr.open(f"q.{name}.build") if traced else None
        try:
            df = registry[name](spark, run.data)
        finally:
            if sp is not None:
                tr.close(sp)
        sp = tr.open(f"q.{name}.exec") if traced else None
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            if sp is not None:
                tr.close(sp)

    # set-up: one untimed pass checks every result and warms every plan
    for name in order:
        got = registry[name](spark, run.data).toPandas()
        if run.take_planted():
            got = got.iloc[1:]
        diff = compare(name, got, oracle[name])
        run.check([f"{name}: {diff}"] if diff else [])
    run.setup_s = time.perf_counter() - t0 - oracle_s
    run.info["oracle_s"] = oracle_s
    cursor = JobCursor()
    if tr is None:
        new_jobs(spark.sparkContext, cursor)  # skip the set-up jobs

    times = {"traced": {n: [] for n in names}, "plain": {n: [] for n in names}}
    disk, calls, passes, pass_times = [], set(), 0, []
    t_end = time.perf_counter() + run.seconds
    while passes < MIN_PASSES or time.perf_counter() < t_end:
        traced = tr is not None and passes == 0
        pass_times.append(0.0)
        for name in order:
            _, dt, call = run.timed(lambda: execute(name, traced), traced)
            run.check([])
            times["traced" if traced else "plain"][name].append(dt)
            pass_times[-1] += dt
            if call is not None:
                calls.add(call)
        if tr is None:
            jobs = new_jobs(spark.sparkContext, cursor)
            disk.append(sum(c["shuffle_write_bytes"] + c["spill_bytes"]
                            for _, c in jobs))
        passes += 1

    def pass_s(kind: str) -> float:
        return sum(statistics.median(times[kind][n]) for n in names)

    run.info["passes"] = passes
    run.info["pass_s"] = pass_times
    if tr is None:
        run.metric("op_s_p50", pass_s("plain"))
        run.metric("disk_bytes_per_op", statistics.median(disk))
        run.info["query_s_p50"] = {n: statistics.median(times["plain"][n])
                                   for n in names}
        return
    run.layer_calls = calls
    run.layer_ops = len(calls) / len(names)
    if any(times["plain"].values()):
        run.metric("trace.overhead_ratio", pass_s("traced") / pass_s("plain"))

"""Self-tests for the benchmark.

    python3 perfbench/selftest.py            # pure-Python checks, seconds
    python3 perfbench/selftest.py --spark    # plus end-to-end runs, minutes

The end-to-end part runs ``run.py`` as a user would: two traced runs of
one seed must report identical Spark job, stage and task counts, and a run
with a planted wrong answer must fail. It also probes a known program
defect (see ``probe_redelivered_version``) and reports it without counting
it. Exit status 0 means every check passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT

from perfbench import mockjira as MJ  # noqa: E402
from perfbench.tracing import Span, self_time, tail_percentile  # noqa: E402

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def test_seeded_polls() -> None:
    def digests(seed):
        c = MJ.Corpus(seed, 300)
        return [c.snapshot().digest()] + [c.poll(r, 20, 5, 20).digest()
                                          for r in range(1, 6)]

    expect(digests(7) == digests(7), "same seed gives identical poll batches")
    expect(digests(7) != digests(8), "another seed gives other poll batches")
    c = MJ.Corpus(7, 300)
    c.snapshot()
    p = c.poll(1, 20, 5, 20)
    keys = [json.loads(i)["key"] for i in p.issues_json]
    expect(p.total == 25 and p.new == 5 and len(keys) == 46
           and len(set(keys)) == 45,
           "a poll plants 20 updates + 5 new among 46 issues, one delivered twice")
    twice = {k for k in keys if keys.count(k) == 2}
    expect(not twice & set(p.changed),
           "the timed polls deliver an unchanged issue twice")
    c = MJ.Corpus(7, 300)
    c.snapshot()
    p = c.poll(1, 20, 5, 20, redeliver_changed=True)
    keys = [json.loads(i)["key"] for i in p.issues_json]
    twice = {k for k in keys if keys.count(k) == 2}
    expect(p.total == 25 and len(twice) == 1 and twice <= set(p.changed),
           "redeliver_changed delivers one changed issue-version twice")
    expect(all(MJ.project_of(k) in MJ.POLL_PROJECTS[0] for k in p.changed),
           "poll edits stay inside its projects")


def test_tail_percentile() -> None:
    xs = [float(i) for i in range(30, 0, -1)]
    expect(tail_percentile(xs) == (66, 20.0, 30),
           "30 samples: p66 is the highest with 10 samples above it")
    expect(tail_percentile(xs[:11]) == (9, 20.0, 11),
           "11 samples: p9, the minimum, has 10 above it")
    expect(tail_percentile(xs[:10]) is None, "10 samples: no tail percentile")


def test_self_time() -> None:
    parent = Span(0, "p", None, 1, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1, 1.0, 3.0), Span(2, "b", 0, 1, 2.0, 5.0),
            Span(3, "c", 0, 1, 7.0, 8.0), Span(4, "d", 0, 1, 9.5, 12.0)]
    expect(abs(self_time(parent, kids) - 4.5) < 1e-12,
           "self time subtracts the union of child intervals, clipped")
    expect(self_time(parent, []) == 10.0, "a leaf's self time is its duration")


def test_checks_catch_wrong_answers() -> None:
    import pandas as pd

    from perfbench import cdc, queries

    compare = queries.load_compare(ROOT)
    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    expect(compare("x", good.copy(), good) is None, "compare accepts equal frames")
    bad = good.copy()
    bad.loc[1, "v"] = 1.6
    expect(compare("x", bad, good) is not None, "compare rejects a wrong value")
    expect(compare("x", good.iloc[1:], good) is not None,
           "compare rejects a missing row")

    class FakeTarget:
        versions = 0
        commits: dict = {}

    poll = MJ.Corpus(3, 100).poll(1, 10, 2, 5)
    ok = cdc.check_counts(poll, {"total": poll.total, "new": poll.new},
                          FakeTarget())
    wrong = cdc.check_counts(poll, {"total": poll.total + 1, "new": poll.new},
                             FakeTarget())
    expect(ok == [] and wrong != [], "sync count check rejects a wrong total")


def test_benchmark_json() -> None:
    from perfbench import queries, run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expect([m["name"] for m in spec["end_to_end"]]
           == [n for n, _ in run.END_TO_END],
           "BENCHMARK.json end_to_end matches run.END_TO_END")
    expect([(m["name"], m["unit"]) for m in spec["per_layer"]]
           == run.per_layer(queries.QUERY_ITERATIVE),
           "BENCHMARK.json per_layer matches run.per_layer")


def bench(*args: str, stderr: list | None = None) -> tuple[int, dict]:
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                         cwd=ROOT, capture_output=True, text=True, timeout=300)
    if stderr is not None:
        stderr.append(out.stderr)
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-1]) if lines else {}


def test_spark_counters_repeat() -> None:
    for workload in ("cdc_incremental", "query_iterative"):
        runs = [bench("--workload", workload, "--seed", "5", "--seconds", "1",
                      "--trace", "1")[1] for _ in range(2)]
        keys = [k for k in runs[0].get("metrics", {})
                if k in ("spark.jobs", "spark.stages", "spark.tasks")
                or (k.startswith("q.") and k.endswith(".jobs"))]
        same = all(runs[0]["metrics"][k] == runs[1]["metrics"][k] for k in keys)
        expect(bool(keys) and same,
               f"{workload}: Spark job/stage/task counts repeat across two "
               f"traced runs ({ {k: runs[0]['metrics'][k]['value'] for k in keys[:3]} })")


def test_planted_wrong_answer_fails() -> None:
    for workload in ("cdc_incremental", "query_iterative"):
        rc, res = bench("--workload", workload, "--seed", "5", "--seconds", "1",
                        "--trace", "0", "--plant-wrong")
        expect(rc != 0 and res.get("correct") is False and res.get("failed", 0) > 0,
               f"{workload}: a planted wrong answer fails the run")


def probe_redelivered_version() -> None:
    """Known program defect, kept visible: a poll that delivers one changed
    issue-version twice must sync it once (50 versions, one commit), but
    the program reports total=51, writes 51 commit-log rows and makes four
    git commits for that key. The timed polls therefore redeliver an
    unchanged issue instead. Once the program is fixed this probe fails,
    and the timed polls should redeliver a changed version again."""
    err: list[str] = []
    rc, res = bench("--workload", "cdc_incremental", "--seed", "5",
                    "--seconds", "1", "--trace", "0", "--redeliver-changed",
                    stderr=err)
    failed = [ln for ln in err[0].splitlines()
              if "CHECK FAILED" in ln and "planted total" in ln]
    if rc != 0 and res.get("correct") is False and failed:
        print("KNOWN DEFECT (not counted): a redelivered changed version is "
              f"synced again: {failed[0].split('CHECK FAILED: ')[-1]}",
              flush=True)
        return
    expect(False, "redelivered changed version: the known defect is gone "
                  f"(rc={rc}, correct={res.get('correct')}); make "
                  "mockjira.Corpus.poll redeliver a changed version in the "
                  "timed polls")


def main() -> int:
    test_seeded_polls()
    test_tail_percentile()
    test_self_time()
    test_checks_catch_wrong_answers()
    test_benchmark_json()
    if "--spark" in sys.argv[1:]:
        test_spark_counters_repeat()
        test_planted_wrong_answer_fails()
        probe_redelivered_version()
    print(f"{len(FAILURES)} failed", flush=True)
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())

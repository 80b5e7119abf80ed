"""Spans around the program's public entry points, and the Spark counters
of the jobs each span launched.

Spans are recorded from outside the program: ``Tracer.install`` swaps a
timing wrapper in for each listed function or method, and ``uninstall``
puts the originals back. Spans stay in memory until the run ends.

Each open span adds a Spark job tag, so a job carries the tags of every
span open on the driver thread when it started (broadcast-build threads
inherit them). A job belongs to the innermost of those spans. Stage
counters come from the status store, which Spark keeps even with the UI
off.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass, field

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "output_bytes", "executor_cpu_s", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    call: int
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover (children may overlap; each instant is subtracted once)."""
    cuts = sorted((max(c.start, span.start), min(c.end, span.end))
                  for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in cuts:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """The highest percentile p (whole percent, nearest rank) with at least
    ``min_beyond`` samples ranked above it, as (p, value, n); None when
    there are not enough samples."""
    n = len(samples)
    xs = sorted(samples)
    for p in range(99, 0, -1):
        # nearest-rank percentile
        idx = max(0, -(-p * n // 100) - 1)
        if n - 1 - idx >= min_beyond:
            return p, xs[idx], n
    return None


class JobCursor:
    """Remembers the newest Spark job already read."""

    def __init__(self):
        self._last_job = -1


class Tracer(JobCursor):
    """In-memory spans of one run, and the Spark jobs each launched."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._call = 0
        self.active = False
        super().__init__()

    # -- spans -------------------------------------------------------------

    def begin_call(self) -> int:
        """Start a new top-level call id (one benchmark operation)."""
        self._call += 1
        return self._call

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, self._call,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.addJobTag(f"pb{sp.id}")
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.sc.removeJobTag(f"pb{sp.id}")
        self._stack.pop()

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            sp = tracer.open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(sp)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def patch_everywhere(self, module, attr: str, name: str) -> None:
        """Patch a function in its module and in every program module that
        already bound it with ``from module import attr``; modules imported
        later bind the patched one."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("jira_cdc_git_spark")
                    or mname == "__spark_entry__"):
                continue
            if getattr(mod, attr, None) is orig:
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark counters ----------------------------------------------------

    def collect_jobs(self) -> None:
        """Attribute every job started since the last call to its innermost
        span, with the counters of the stages it ran."""
        by_id = {s.id: s for s in self.spans}
        for tags, counters in new_jobs(self.sc, self):
            ids = [int(t[2:]) for t in tags
                   if t.startswith("pb") and t[2:].isdigit()]
            sp = by_id.get(max(ids)) if ids else None
            if sp is not None:
                for k, v in counters.items():
                    sp.spark[k] = sp.spark.get(k, 0) + v

    # -- aggregation -------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def totals(self, calls: set[int]) -> dict[str, dict[str, float]]:
        """name -> {count, total_s, self_s, <spark counters>} over the
        spans of the given calls."""
        kids = self.children()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.call not in calls:
                continue
            agg = out.setdefault(s.name, {"count": 0, "total_s": 0.0,
                                          "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s.duration
            agg["self_s"] += self_time(s, kids.get(s.id, []))
            for k, v in s.spark.items():
                agg[k] = agg.get(k, 0) + v
        return out

    def inclusive_jobs(self, calls: set[int]) -> dict[str, float]:
        """query name -> Spark jobs per execution of its ``q.<name>.build``
        and ``q.<name>.exec`` spans, jobs of nested spans included."""
        kids = self.children()

        def jobs(s: Span) -> int:
            return s.spark.get("jobs", 0) + sum(jobs(c) for c in kids.get(s.id, []))

        total: dict[str, int] = {}
        count: dict[str, int] = {}
        for s in self.spans:
            if s.call not in calls or not s.name.startswith("q."):
                continue
            name, phase = s.name[2:].rsplit(".", 1)
            total[name] = total.get(name, 0) + jobs(s)
            if phase == "build":
                count[name] = count.get(name, 0) + 1
        return {n: total[n] / count[n] for n in count}

    def spark_totals(self, calls: set[int]) -> dict[str, float]:
        out = {k: 0 for k in SPARK_COUNTERS}
        for s in self.spans:
            if s.call in calls:
                for k, v in s.spark.items():
                    out[k] += v
        return out

    def dump(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "call": s.call, "start": s.start, "end": s.end,
                 "spark": s.spark} for s in self.spans]


def new_jobs(sc, cursor) -> list[tuple[list[str], dict[str, float]]]:
    """(job tags, counters) for each job started since the cursor, read from
    the status store once the listener bus has drained. Counters sum the
    job's completed stages; skipped stages ran in an earlier job."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    newest = cursor._last_job
    for job in _scala_iter(store.jobsList(None)):
        jid = job.jobId()
        if jid <= cursor._last_job:
            continue
        newest = max(newest, jid)
        acc = dict.fromkeys(SPARK_COUNTERS, 0)
        acc["jobs"] = 1
        for sid in _scala_iter(job.stageIds()):
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # py4j error: the stage never ran
                continue
            if str(st.status()) != "COMPLETE":
                continue
            acc["stages"] += 1
            acc["tasks"] += st.numCompleteTasks()
            acc["shuffle_read_bytes"] += st.shuffleReadBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["output_bytes"] += st.outputBytes()
            acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
            acc["spill_bytes"] += st.diskBytesSpilled()
        out.append((list(_scala_iter(job.jobTags())), acc))
    cursor._last_job = newest
    return out


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()

"""The sync workload, ``cdc_incremental``: steady-state polling CDC as a
closed loop with one client, each ``run_incremental_sync`` call starting
when the previous one returned. Set-up backfills a corpus through the
program and syncs one untimed rotation of polls; then each operation syncs
one seeded poll.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

from perfbench import mockjira as MJ

JQL = 'project in ({}) AND updated >= "-1h" ORDER BY updated ASC'.format(
    ", ".join(f'"{p}"' for p in MJ.PROJECT_WEIGHTS))

#: state holds STATE_ISSUES issues, 20 times the 30 issue-versions one
#: poll syncs (updates plus new issues), and grows by 6 per poll. Larger
#: sizes do not fit the run-time budget of the benchmark.
STATE_ISSUES = 600
POLL_UPDATES = 24
POLL_NEW = 6
POLL_STALE = 30


class Target:
    """One sync destination: state store, output root and git repos."""

    def __init__(self, root: str):
        from jira_cdc_git_spark.state import SyncStateStore

        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.out = os.path.join(root, "out")
        self.repos = os.path.join(root, "repos")
        self.store = SyncStateStore(os.path.join(root, "state"))
        #: path -> (inode, size) at the last call of written()
        self.files: dict[str, tuple[tuple[int, int], int]] = {}
        # expected totals, advanced by every verified sync
        self.versions = 0
        self.commits: dict[str, int] = {}

    def written(self) -> dict[str, tuple[int, int]]:
        """(bytes, files) added since the last call, per area. A file
        counts in full when it is new, and by its growth when it existed
        before. It existed before when one of its paths held the same
        inode at the last call, so a hard link to a kept file adds
        nothing, while a new file on an inode number the filesystem
        reused after a delete counts in full."""
        areas = {"sinks": self.out, "state": self.store.root,
                 "sinks_git": self.repos}
        files: dict[str, tuple[tuple[int, int], int]] = {}
        inodes: dict[tuple[int, int], list[str]] = {}
        area_of: dict[tuple[int, int], str] = {}
        for area, path in areas.items():
            for dirpath, _dirs, names in os.walk(path):
                for f in names:
                    full = os.path.join(dirpath, f)
                    try:
                        st = os.lstat(full)
                    except FileNotFoundError:
                        continue
                    ino = (st.st_dev, st.st_ino)
                    files[full] = (ino, st.st_size)
                    inodes.setdefault(ino, []).append(full)
                    area_of.setdefault(ino, area)
        out = {area: [0, 0] for area in areas}
        for ino, paths in inodes.items():
            size = files[paths[0]][1]
            before = [self.files[p][1] for p in paths
                      if self.files.get(p, (None,))[0] == ino]
            grew = size - before[0] if before else size
            if grew > 0 or not before:
                out[area_of[ino]][0] += max(grew, 0)
                out[area_of[ino]][1] += 1
        self.files = files
        return {area: (b, n) for area, (b, n) in out.items()}

    def git_commits(self) -> int:
        """Commits on ``main`` summed over the project repositories."""
        n = 0
        for p in os.listdir(self.repos) if os.path.isdir(self.repos) else []:
            out = subprocess.run(
                ["git", "-C", os.path.join(self.repos, p), "rev-list",
                 "--count", "main"], capture_output=True, text=True)
            n += int(out.stdout) if out.returncode == 0 else 0
        return n

    def state_layout(self, changes: int) -> dict[str, float]:
        """Partitions of the newest state version rewritten vs hard-linked
        from the previous one, and rows rewritten per change."""
        import pyarrow.parquet as pq

        v = self.store.current_version()
        vdir = self.store._version_path(v)
        rewritten = linked = rows = 0
        for part in os.listdir(vdir):
            if not part.startswith("project_key="):
                continue
            files = [os.path.join(vdir, part, f)
                     for f in os.listdir(os.path.join(vdir, part))
                     if f.endswith(".parquet")]
            if files and all(os.stat(f).st_nlink > 1 for f in files) and v > 1:
                linked += 1
            else:
                rewritten += 1
                rows += sum(pq.read_metadata(f).num_rows for f in files)
        return {"partitions_rewritten": rewritten, "partitions_linked": linked,
                "rows_rewritten_per_change": rows / max(changes, 1)}


def sync(spark, mock: MJ.MockJira, target: Target, poll: MJ.Poll):
    from jira_cdc_git_spark.sources.jira_rest import RateLimiter
    from jira_cdc_git_spark.streaming.pipeline import run_incremental_sync

    mock.serve(poll)
    return run_incremental_sync(
        spark, mock.url, JQL, target.store, target.out,
        limiter=RateLimiter(delay_ms=0), now=poll.now,
        git_repos_root=target.repos,
    )


def check_counts(poll: MJ.Poll, counts: dict, target: Target) -> list[str]:
    """The call returned what the generator planted; advance the target's
    expected totals."""
    errs = []
    if counts.get("total") != poll.total or counts.get("new") != poll.new:
        errs.append(f"sync at {poll.now}: total={counts.get('total')} "
                    f"new={counts.get('new')}, planted total={poll.total} "
                    f"new={poll.new}")
    if poll.total:
        target.versions += poll.total
        per_project: dict[str, int] = {}
        for k in poll.changed:
            p = MJ.project_of(k)
            per_project[p] = per_project.get(p, 0) + 1
        for p, n in per_project.items():
            # one commit per issue-version plus one symlink-tree commit
            target.commits[p] = target.commits.get(p, 0) + n + 1
    return errs


def check_target(spark, target: Target, corpus: MJ.Corpus) -> list[str]:
    """State, latest-issue view, commit log and git history all agree with
    the generator."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.sinks import latest_issues, read_commit_log

    errs = []
    want = corpus.last_updated()
    got = {r["key"]: r["last_updated"] for r in
           target.store.load(spark).select("key", "last_updated").collect()}
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        wrong = sorted(k for k in want if k in got and got[k] != want[k])[:3]
        errs.append(f"state: {len(got)} keys vs {len(want)} planted; "
                    f"missing {missing}, wrong last_updated {wrong}")
    latest = latest_issues(spark, os.path.join(target.out, "issues"))
    agg = latest.agg(F.count("*").alias("n"),
                     F.countDistinct("key").alias("k")).first()
    if agg["n"] != len(want) or agg["k"] != len(want):
        errs.append(f"latest_issues: {agg['n']} rows, {agg['k']} keys, "
                    f"want {len(want)}")
    n_log = read_commit_log(spark, os.path.join(target.out, "commit_log")).count()
    if n_log != target.versions:
        errs.append(f"commit_log: {n_log} rows, want {target.versions}")
    for p, n in sorted(target.commits.items()):
        repo = os.path.join(target.repos, p)
        out = subprocess.run(["git", "-C", repo, "rev-list", "--count", "main"],
                             capture_output=True, text=True)
        got_n = int(out.stdout.strip() or -1) if out.returncode == 0 else -1
        if got_n != n:
            errs.append(f"git {p}: {got_n} commits, want {n}")
    return errs


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _op_loop(run, step, period: int):
    """Closed loop: call step(i, traced) in whole rotations of ``period``
    operations until --seconds have passed and at least two rotations
    ran. In a traced run the
    first rotation is traced and the rest are not, so traced and untraced
    operations cover the same poll shapes. The first operations still run
    slower than later ones (warm-up the set-up does not finish), so the
    overhead ratio errs high."""
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i < 2 * period or i % period or time.perf_counter() < t_end:
        step(i, run.tracer is not None and i < period)
        i += 1


def _layer_metrics(run, records: list[dict], fetched: int, changed: int):
    """Per-layer figures measured outside the spans, per traced sync."""
    import statistics

    traced = [r for r in records if r["call"] is not None]
    untraced = [r for r in records if r["call"] is None]
    run.layer_calls = {r["call"] for r in traced}
    run.layer_ops = len(traced)
    m = {"pipeline.change_yield": changed / max(fetched, 1)}
    for key in ("partitions_rewritten", "partitions_linked",
                "rows_rewritten_per_change"):
        m[f"state.{key}"] = _mean([r["layout"][key] for r in traced])
    for area in ("state", "sinks", "sinks_git"):
        m[f"{area}.bytes_written"] = _mean(
            [r["written"][area][0] for r in traced])
    m["sinks.files_written"] = _mean([r["written"]["sinks"][1] for r in traced])
    m["sinks_git.commits"] = _mean([r["commits"] for r in traced])
    if untraced:
        m["trace.overhead_ratio"] = (
            statistics.median(r["dt"] for r in traced)
            / statistics.median(r["dt"] for r in untraced))
    return m


def _report(run, records: list[dict], fetched: int, changed: int) -> None:
    import statistics

    from perfbench.tracing import tail_percentile

    if run.tracer is not None:
        for k, v in _layer_metrics(run, records, fetched, changed).items():
            run.metric(k, v)
        return
    dts = [r["dt"] for r in records]
    versions = sum(r["total"] for r in records)
    op_bytes = [sum(b for b, _ in r["written"].values()) for r in records]
    run.metric("op_s_p50", statistics.median(dts))
    # the poll shapes of a rotation write different amounts, so a median
    # would fall between them; the mean over whole rotations does not
    run.metric("disk_bytes_per_op", sum(op_bytes) / len(op_bytes))
    tail = tail_percentile(dts)
    run.info.update({
        "ops": len(dts),
        "op_s": dts,
        "op_bytes": op_bytes,
        "op_bytes_by_area": [{a: b for a, (b, _n) in r["written"].items()}
                             for r in records],
        "issue_versions_per_op": versions / len(records),
        "synced_issues_per_s": versions / sum(dts),
        "bytes_written_per_issue": sum(op_bytes) / max(versions, 1),
        "op_s_tail": ({"percentile": tail[0], "value": tail[1], "n": tail[2]}
                      if tail else {"percentile": None, "n": len(dts)}),
    })


def _sync_op(run, mock, target, poll, traced: bool) -> dict:
    commits = target.git_commits() if traced else 0
    counts, dt, call = run.timed(lambda: sync(run.spark, mock, target, poll),
                                 traced)
    if run.take_planted():
        counts = dict(counts, total=counts["total"] - 1)
    errs = check_counts(poll, counts, target)
    written = target.written()
    record = {"dt": dt, "call": call, "total": poll.total, "written": written}
    if traced:
        record["layout"] = target.state_layout(poll.total)
        record["commits"] = target.git_commits() - commits
    run.check(errs)
    return record


def run_incremental(run) -> None:
    t0 = time.perf_counter()
    corpus = MJ.Corpus(run.seed, STATE_ISSUES)
    mock = MJ.MockJira()

    def poll_at(r: int) -> MJ.Poll:
        return corpus.poll(r, POLL_UPDATES, POLL_NEW, POLL_STALE,
                           redeliver_changed=run.redeliver_changed)

    try:
        target = Target(os.path.join(run.work, "incremental"))
        # set-up: the backfill seeds state, output and repos; one untimed
        # rotation of polls warms the steady-state path
        period = len(MJ.POLL_PROJECTS)
        polls = [corpus.snapshot()] + [poll_at(r) for r in range(1, period + 1)]
        for poll in polls:
            t = time.perf_counter()
            _sync_op(run, mock, target, poll, False)
            run.info.setdefault("setup_sync_s", []).append(
                time.perf_counter() - t)
        run.setup_s = time.perf_counter() - t0

        records: list[dict] = []

        def step(i: int, traced: bool) -> None:
            poll = poll_at(i + period + 1)
            polls.append(poll)
            records.append(_sync_op(run, mock, target, poll, traced))

        _op_loop(run, step, period)
        pages = sum(len(p.pages) for p in polls)

        # untimed checks: target state, then C4 replay of the last poll
        run.check(check_target(run.spark, target, corpus))
        again = sync(run.spark, mock, target, polls[-1])
        pages += len(polls[-1].pages)
        run.check([] if again.get("total") == 0 else
                  [f"replayed poll synced {again.get('total')}, want 0"])
        run.check([] if mock.requests == pages else
                  [f"mock served {mock.requests} pages, syncs asked for {pages}"])
        run.info["server_requests"] = mock.requests
        traced = [p for p, r in zip(polls[period + 1:], records)
                  if r["call"] is not None]
        if run.tracer is not None:
            calls = {r["call"] for r in records if r["call"] is not None}
            spans = run.tracer.totals(calls).get("jira_rest.fetch_page", {})
            want = sum(len(p.pages) for p in traced)
            run.check([] if spans.get("count", 0) == want else
                      [f"{spans.get('count', 0)} fetch_page spans for {want} "
                       "pages served"])
        fetched = sum(len(p.issues_json) for p in traced)
        changed = sum(p.total for p in traced)
        _report(run, records, fetched, changed)
    finally:
        mock.close()


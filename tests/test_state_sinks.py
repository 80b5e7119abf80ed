"""Round-trip tests for the CDC state layer, sinks and the shared
incremental-sync batch body (C1-C8, S6-S10)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from jira_cdc_git_spark import fixtures as FX
from jira_cdc_git_spark import sinks, sinks_git
from jira_cdc_git_spark.state import HISTORY_CAP, SyncStateStore
from jira_cdc_git_spark.streaming.pipeline import incremental_sync_batch

T0 = datetime(2002, 1, 1)


@pytest.fixture
def store(tmp_path):
    return SyncStateStore(str(tmp_path / "state"))


@pytest.fixture(scope="module")
def issues(spark, sf_dir):
    df = FX.issues(spark, sf_dir).limit(200).cache()
    df.count()
    return df


def test_empty_store_loads_empty(store, spark):
    assert store.load(spark).count() == 0
    assert store.current_version() == 0


def test_merge_then_all_synced(store, spark, issues):
    store.merge(spark, issues, T0)
    st = store.load(spark)
    assert st.count() == issues.count()
    assert st.filter(F.col("sync_count") != 1).count() == 0
    # idempotent re-merge: same keys, sync_count bumps, no dup rows
    store.merge(spark, issues, T0 + timedelta(hours=1))
    st2 = store.load(spark)
    assert st2.count() == issues.count()
    assert st2.filter(F.col("sync_count") != 2).count() == 0


def test_filter_changes_new_vs_updated(store, spark, issues):
    half = issues.filter(F.col("key").rlike("[02468]$"))
    store.merge(spark, half, T0 + timedelta(days=365 * 10))  # far-future watermark
    changes = store.filter_changes(spark, issues)
    got = {r["change_type"] for r in changes.select("change_type").distinct().collect()}
    assert got == {"new"}  # synced half is up to date, rest is new
    assert changes.count() == issues.count() - half.count()
    # force resyncs everything
    assert store.filter_changes(spark, issues, force=True).count() == issues.count()


def test_incremental_second_run_syncs_only_updates(store, spark, issues, tmp_path):
    out = str(tmp_path / "out")
    r1 = incremental_sync_batch(spark, issues, store, out, now=datetime(2030, 1, 1))
    assert r1["total"] == issues.count()
    # second run, nothing changed → zero candidates
    r2 = incremental_sync_batch(spark, issues, store, out, now=datetime(2030, 1, 2))
    assert r2["total"] == 0
    # touch 10 issues → only those resync
    touched = issues.withColumn(
        "updated",
        F.when(F.col("key").rlike("0$"), F.lit(datetime(2031, 1, 1))).otherwise(
            F.col("updated")
        ),
    )
    n_touched = touched.filter(F.col("key").rlike("0$")).count()
    r3 = incremental_sync_batch(spark, touched, store, out, now=datetime(2031, 1, 2))
    assert r3["total"] == n_touched
    # delta log holds initial snapshot + the touched rows; latest-wins view
    # collapses back to one row per key with the new timestamps winning
    raw = spark.read.parquet(f"{out}/issues")
    assert raw.count() == issues.count() + n_touched
    latest = sinks.latest_issues(spark, f"{out}/issues")
    assert latest.count() == issues.count()
    assert latest.filter(F.col("updated") == datetime(2031, 1, 1)).count() == n_touched
    log = spark.read.parquet(f"{out}/commit_log")
    # commit ids deterministic: one per (key, updated) version
    assert log.select("commit_id").distinct().count() == issues.count() + n_touched
    # compaction rewrites the log to the latest snapshot
    sinks.compact_issues(spark, f"{out}/issues")
    assert spark.read.parquet(f"{out}/issues").count() == issues.count()


def test_dry_run_writes_nothing(store, spark, issues, tmp_path):
    out = str(tmp_path / "out2")
    r = incremental_sync_batch(
        spark, issues, store, out, now=T0, dry_run=True
    )
    assert r["total"] == issues.count() and r["processed"] == 0
    assert store.load(spark).count() == 0
    import os

    assert not os.path.exists(f"{out}/issues")


def test_history_cap_and_watermark(store, spark):
    for i in range(HISTORY_CAP + 10):
        start = T0 + timedelta(minutes=i)
        store.record_operation(
            spark, "incremental", "completed" if i % 2 == 0 else "failed",
            start, start + timedelta(seconds=30),
        )
    hist = store.history(spark)
    assert hist.count() == HISTORY_CAP
    # W5: last completed end time
    last = store.last_sync_time(spark)
    expected_last_completed = T0 + timedelta(minutes=HISTORY_CAP + 8, seconds=30)
    assert last == expected_last_completed


def test_backup_restore_time_travel(store, spark, issues):
    v1 = store.merge(spark, issues.limit(50), T0)
    v2 = store.merge(spark, issues, T0 + timedelta(hours=1))
    assert store.load(spark).count() == issues.count()
    store.restore(v1)
    assert store.load(spark).count() == 50
    store.restore(v2)
    assert store.current_version() == v2
    with pytest.raises(FileNotFoundError):
        store.restore(99)


def test_validate_and_repair(store, spark, issues):
    store.merge(spark, issues, T0)
    st = store.load(spark)
    # simulate disk: drop 5 files, corrupt 3 checksums, add 2 orphans
    files = st.select(
        F.col("file_path").alias("path"),
        F.col("file_size").alias("size"),
        F.col("checksum").alias("sha256"),
    )
    keys = [r["path"] for r in files.limit(10).collect()]
    gone, bad = keys[:5], keys[5:8]
    files_sim = (
        files.filter(~F.col("path").isin(gone))
        .withColumn(
            "sha256",
            F.when(F.col("path").isin(bad), F.lit("feedface")).otherwise(
                F.col("sha256")
            ),
        )
        .unionByName(
            spark.createDataFrame(
                [("projects/X/issues/ORPHAN-1.yaml", 1, "aa"),
                 ("projects/X/issues/ORPHAN-2.yaml", 1, "bb")],
                "path string, size long, sha256 string",
            )
        )
    )
    report = store.validate(spark, files_sim)
    by_problem = {
        r["problem"]: r["n"]
        for r in report.groupBy("problem").agg(F.count("*").alias("n")).collect()
    }
    assert by_problem == {"orphaned": 2, "missing": 5, "drift": 3}
    # repair drops missing entries; orphans untouched
    store.repair(spark, files_sim)
    assert store.load(spark).count() == issues.count() - 5


def test_partitioned_issue_write_prunes(spark, issues, tmp_path):
    out = str(tmp_path / "issues_part")
    sinks.write_issues(issues, out)
    back = spark.read.parquet(out)
    assert back.count() == issues.count()
    one = back.filter(F.col("project_key") == "PROJ")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PROJ" in plan  # partition filter present
    import os

    assert any(d.startswith("project_key=") for d in os.listdir(out))


def test_edge_sink_layout(spark, sf_dir, tmp_path):
    from jira_cdc_git_spark.operators.jira import link_edges

    out = str(tmp_path / "edges")
    edges = link_edges(spark, sf_dir)
    sinks.write_edges(edges, out)
    back = spark.read.parquet(out)
    assert back.count() == edges.count()
    import os

    assert any(d.startswith("link_type=") for d in os.listdir(out))


def test_merge_rewrites_only_touched_partitions(store, spark, issues):
    import os

    # v1: all projects
    v1 = store.merge(spark, issues, T0)
    projects = {
        r["project_key"]
        for r in issues.select("project_key").distinct().collect()
    }
    assert len(projects) > 1
    # v2: a batch touching ONLY one project
    one = sorted(projects)[0]
    batch = issues.filter(F.col("project_key") == one).withColumn(
        "updated", F.lit(T0 + timedelta(days=1))
    )
    v2 = store.merge(spark, batch, T0 + timedelta(days=2))

    def part_files(v, proj):
        d = os.path.join(store._version_path(v), f"project_key={proj}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    # touched partition: physically rewritten (new inodes)
    assert set(part_files(v1, one).values()).isdisjoint(
        set(part_files(v2, one).values())
    )
    # every untouched partition: identical inodes (hard links, zero copy)
    for p in projects - {one}:
        assert part_files(v1, p) == part_files(v2, p), p
    # semantics unchanged: all rows present, touched project bumped
    st = store.load(spark)
    assert st.count() == issues.count()
    assert (
        st.filter(F.col("project_key") == one)
        .filter(F.col("sync_count") != 2)
        .count()
        == 0
    )
    assert (
        st.filter(F.col("project_key") != one)
        .filter(F.col("sync_count") != 1)
        .count()
        == 0
    )
    # time travel still works across the linked version
    store.restore(v1)
    assert store.load(spark).filter(F.col("sync_count") != 1).count() == 0
    store.restore(v2)


def test_corpus_shard_sink_roundtrip(spark, sf_dir, tmp_path):
    import os

    from jira_cdc_git_spark import sinks as S
    from jira_cdc_git_spark.operators.text import corpus_shards

    path = str(tmp_path / "corpus")
    S.write_corpus_shards(spark, sf_dir, path, n_shards=4)
    # partition layout: one directory per shard
    dirs = sorted(d for d in os.listdir(path) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    # read-back of one shard is exactly the assignment's pos order
    assignment = {
        (r["doc_id"]): (r["shard"], r["pos"])
        for r in corpus_shards(spark, sf_dir, n_shards=4).collect()
    }
    got = S.read_corpus_shard(spark, path, 2).select("doc_id", "pos").collect()
    assert len(got) > 0
    assert [r["pos"] for r in got] == sorted(r["pos"] for r in got)
    for r in got:
        assert assignment[r["doc_id"]] == (2, r["pos"])
    # full union covers every document exactly once
    total = spark.read.parquet(path).count()
    assert total == len(assignment)


def test_exact_redelivery_syncs_and_commits_once(store, spark, issues, tmp_path):
    """At-least-once delivery can hand one poll the same CHANGED
    issue-version twice. It is one change: one synced row, one
    commit-log row and one git commit for that version."""
    from jira_cdc_git_spark import sinks_git

    out, repos = str(tmp_path / "out"), str(tmp_path / "repos")
    one = issues.orderBy("key").limit(1).cache()
    key, project = one.select("key", "project_key").first()
    r1 = incremental_sync_batch(
        spark, one, store, out, now=datetime(2030, 1, 1), git_repos_root=repos
    )
    assert r1["total"] == 1
    changed = one.withColumn("updated", F.lit(datetime(2031, 1, 1)))
    r2 = incremental_sync_batch(
        spark,
        changed.unionByName(changed),
        store,
        out,
        now=datetime(2031, 1, 2),
        git_repos_root=repos,
    )
    assert r2["total"] == 1 and r2["successful"] == 1
    log = spark.read.parquet(f"{out}/commit_log").filter(
        F.col("commit_ts") == datetime(2031, 1, 1)
    )
    assert log.count() == 1
    import os

    subjects = sinks_git.git_log_subjects(os.path.join(repos, project))
    assert sum(key in s for s in subjects) == 2  # the first sync + this one
    one.unpersist()


def _job_ids(spark):
    """Every job the status store knows, once the listener bus drained."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def test_sync_jobs_stay_in_caller_job_group(store, spark, issues, tmp_path):
    """The write phase runs on worker threads, yet every job one sync
    launches stays in the caller's job group — the group that
    scheduling.run_scheduled's Replace policy cancels."""
    sc = spark.sparkContext
    before = _job_ids(spark)
    sc.setJobGroup("g", "job-group test")
    try:
        r = incremental_sync_batch(
            spark,
            issues.orderBy("key").limit(40),
            store,
            str(tmp_path / "out"),
            now=datetime(2030, 1, 1),
            edges_dir=str(tmp_path / "out" / "edges"),
            git_repos_root=str(tmp_path / "repos"),
        )
    finally:
        sc._jsc.clearJobGroup()
    assert r["total"] == 40
    launched = _job_ids(spark) - before
    assert launched
    assert launched <= set(sc.statusTracker().getJobIdsForGroup("g"))


def _sync_twice(spark, issues, store, out, repos, fault=None):
    """A sync of 20 issues, then one of 20 new issues plus a newer version
    of 5 synced ones. With ``fault`` (the write branch to fail), the
    second sync first runs with that branch raising — checked to leave
    state and history as they were — and then again without the fault.
    Returns every table and repo the syncs leave behind."""
    import os
    import subprocess
    import threading

    edges = f"{out}/edges"
    batch = issues.orderBy("key").limit(40)
    first = batch.limit(20)
    edited = (
        first.limit(5)
        .withColumn("updated", F.lit(datetime(2030, 1, 1, 12)))
        .withColumn("summary", F.concat("summary", F.lit(" (edited)")))
    )
    second = batch.unionByName(edited)
    incremental_sync_batch(spark, first, store, out, now=datetime(2030, 1, 1),
                           edges_dir=edges, git_repos_root=repos)
    now = datetime(2030, 1, 2)
    if fault is not None:
        version = store.current_version()
        state_before = _rows(store.load(spark))
        hist_before = _rows(store.history(spark))
        finished, lock = set(), threading.Lock()

        def tracked(name, fn):
            def run(*a, **kw):
                res = fn(*a, **kw)
                with lock:
                    finished.add(name)
                return res

            return run

        def boom(*_a, **_kw):
            raise RuntimeError(f"injected {fault} failure")

        with pytest.MonkeyPatch.context() as m:
            for name, (owner, attr) in _BRANCHES.items():
                fn = getattr(owner, attr)
                m.setattr(owner, attr, boom if name == fault else tracked(name, fn))
            with pytest.raises(RuntimeError, match="injected") as err:
                incremental_sync_batch(spark, second, store, out, now=now,
                                       edges_dir=edges, git_repos_root=repos)
            with lock:
                at_raise = set(finished)
        assert err.value.args[0] == f"injected {fault} failure"
        assert at_raise == set(_BRANCHES) - {fault}
        # the staged version, if written, was never committed
        assert store.current_version() == version
        assert _rows(store.load(spark)) == state_before
        assert _rows(store.history(spark)) == hist_before
    r = incremental_sync_batch(spark, second, store, out, now=now,
                               edges_dir=edges, git_repos_root=repos)
    assert (r["total"], r["successful"], r["new"]) == (25, 25, 20)
    assert store.current_version() == 2
    return {
        "state": _rows(store.load(spark)),
        "history": _rows(store.history(spark)),
        "issues": _rows(spark.read.parquet(f"{out}/issues")),
        "commit_log": _rows(sinks.read_commit_log(spark, f"{out}/commit_log")),
        "edges": _rows(spark.read.parquet(edges)),
        "git": {
            p: subprocess.run(
                ["git", "-C", os.path.join(repos, p), "rev-parse", "main"],
                check=True, capture_output=True, text=True,
            ).stdout.strip()
            for p in sorted(os.listdir(repos))
        },
    }


def _rows(df):
    return sorted(df.collect(), key=repr)


#: every write branch of one sync with edges and git: name → (owner, attr)
_BRANCHES = {
    "issues": (sinks, "append_issue_deltas"),
    "commit_log": (sinks, "append_commit_log"),
    "edges": (sinks, "write_edges"),
    "git": (sinks_git, "materialize_fan_out"),
    "stage": (SyncStateStore, "stage_merge"),
}


@pytest.fixture(scope="module")
def clean_views(spark, issues, tmp_path_factory):
    root = tmp_path_factory.mktemp("clean")
    return _sync_twice(spark, issues, SyncStateStore(str(root / "state")),
                       str(root / "out"), str(root / "repos"))


@pytest.mark.parametrize("fault", list(_BRANCHES))
def test_failed_write_branch_leaves_state_and_history(
    store, spark, issues, tmp_path, fault, clean_views
):
    """Crash injection in the concurrent write phase: one branch raises.
    The sync raises only after every other branch has finished, and the
    ``_CURRENT`` flip never happens (state version and history
    unchanged). A re-run without the fault syncs the same change set, and
    every sink — state, history, the issue deltas, commit log and edge
    rows as stored, and each project repo's ``main`` — ends exactly as
    after a run that never failed: what the failed run wrote is not
    written twice."""
    views = _sync_twice(spark, issues, store, str(tmp_path / "out"),
                        str(tmp_path / "repos"), fault=fault)
    for view, rows in clean_views.items():
        assert views[view] == rows, view
    assert views["commit_log"] and views["edges"] and views["git"]

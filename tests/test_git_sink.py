"""S8 git materialization round-trip: sync N issues → a real git repo with
one conventional commit per issue (pkg/git/git.go:214-357 parity)."""

import re
import subprocess

import pytest
from pyspark.sql import functions as F

from jira_cdc_git_spark import fixtures as FX
from jira_cdc_git_spark import sinks_git

SUBJECT_RE = re.compile(
    r"^(feat|fix|chore|refactor|docs|test)\([A-Z][A-Z0-9-]*\): add issue "
    r"[A-Z][A-Z0-9-]*-\d+ - .+"
)


@pytest.fixture(scope="module")
def fifty(spark, sf_dir):
    df = FX.issues(spark, sf_dir).orderBy("key").limit(50).cache()
    df.count()
    return df


def _assert_repo_matches(repo, fifty):
    subjects = sinks_git.git_log_subjects(repo)
    assert len(subjects) == 50
    assert all(SUBJECT_RE.match(s) for s in subjects), subjects[:3]
    # spot-check author propagation: an assigned issue's commit carries F7
    log = subprocess.run(
        ["git", "-C", repo, "log", "--format=%an <%ae>|%s"],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    authored = [line for line in log if not line.startswith("jira-sync")]
    assert authored and all(re.match(r"^user\d+ <user\d+@example.com>\|", a)
                            for a in authored)
    # files exist in the reference layout and parse back (S4 round trip)
    n_files = subprocess.run(
        ["git", "-C", repo, "ls-files"], check=True, capture_output=True,
        text=True,
    ).stdout.splitlines()
    assert len(n_files) == 50
    assert all(f.startswith("projects/") and f.endswith(".yaml")
               for f in n_files)
    # every tracked file is present in the working tree
    import os

    assert all(os.path.isfile(os.path.join(repo, f)) for f in n_files)


def test_fast_import_fifty_commits(spark, fifty, tmp_path):
    repo = str(tmp_path / "repo_fi")
    n = sinks_git.materialize_fast_import(fifty, repo)
    assert n == 50
    _assert_repo_matches(repo, fifty)


def test_porcelain_matches_fast_import_subjects(spark, fifty, tmp_path):
    repo_a = str(tmp_path / "repo_fi")
    repo_b = str(tmp_path / "repo_pc")
    sinks_git.materialize_fast_import(fifty, repo_a)
    n = sinks_git.materialize_porcelain(fifty, repo_b)
    assert n == 50
    assert (
        sinks_git.git_log_subjects(repo_a)
        == sinks_git.git_log_subjects(repo_b)
    )
    _assert_repo_matches(repo_b, fifty)


def test_yaml_round_trip_from_materialized_repo(spark, fifty, tmp_path):
    from jira_cdc_git_spark.sources.yaml_io import read_yaml_issues

    repo = str(tmp_path / "repo_rt")
    sinks_git.materialize_fast_import(fifty, repo)
    back = read_yaml_issues(spark, repo)
    assert back.count() == 50
    keys_in = {r["key"] for r in fifty.select("key").collect()}
    keys_out = {r["key"] for r in back.select("key").collect()}
    assert keys_in == keys_out
    assert back.filter(F.col("status_name").isNull()).count() == 0


def test_fan_out_one_repo_per_project(spark, sf_dir, tmp_path):
    """Round-3 verdict task 4: per-project git fan-out. A multi-project
    batch materializes into one repo per project via executor-side
    fast-import; per-repo git log counts match per-project issue counts."""
    import os

    from pyspark.sql import Window

    w = Window.partitionBy("project_key").orderBy("key")
    df = (
        FX.issues(spark, sf_dir)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 20)
        .drop("__rn")
        .cache()
    )
    df.count()
    per_project = {
        r["project_key"]: r["n"]
        for r in df.groupBy("project_key").agg(F.count("*").alias("n")).collect()
    }
    assert len(per_project) >= 2, "fixture must span several projects"
    root = str(tmp_path / "repos")
    counts = sinks_git.materialize_fan_out(df, root)
    assert counts == per_project
    for project, n in per_project.items():
        repo = os.path.join(root, project)
        subjects = sinks_git.git_log_subjects(repo)
        assert len(subjects) == n
        assert all(SUBJECT_RE.match(s) for s in subjects), subjects[:3]
        # every commit in this repo belongs to this project
        assert all(f"({project})" in s for s in subjects)
    df.unpersist()


def test_fan_out_rerun_appends(spark, sf_dir, tmp_path):
    """Incremental batches APPEND: a second fan-out run grafts onto each
    repo's branch tip instead of fast-import refusing the rewrite."""
    df = FX.issues(spark, sf_dir).orderBy("key").cache()
    first = df.limit(30)
    second = (
        df.join(first.select("key").withColumnRenamed("key", "__k"),
                F.col("key") == F.col("__k"), "left_anti")
        .limit(20)
    )
    root = str(tmp_path / "repos")
    c1 = sinks_git.materialize_fan_out(first, root)
    c2 = sinks_git.materialize_fan_out(second, root)
    import os

    for project in set(c1) | set(c2):
        got = len(sinks_git.git_log_subjects(os.path.join(root, project)))
        assert got == c1.get(project, 0) + c2.get(project, 0)
    df.unpersist()


def test_symlink_tree_materializes(spark, sf_dir, tmp_path):
    """The reference's full on-disk contract (README.md:53-73): after one
    fan-out of the issues together with their edges, each project repo
    holds REAL symlinks under projects/{pk}/relationships/... whose
    targets resolve to existing issue YAML files, with the reference's
    exact path algebra (links.go:241-307)."""
    import os

    from jira_cdc_git_spark.operators.jira import link_edges_frame

    root = str(tmp_path / "repos")
    df = FX.issues(spark, sf_dir).orderBy("key").limit(400).cache()
    edges = link_edges_frame(df)
    counts = sinks_git.materialize_fan_out(df, root, edges=edges)
    assert sum(counts.values()) == df.count()
    projects = {r["project_key"] for r in edges.select("project_key").distinct().collect()}
    assert projects <= set(counts)

    checked = broken = 0
    for project in projects:
        repo = os.path.join(root, project)
        rel_root = os.path.join(repo, "projects", project, "relationships")
        assert os.path.isdir(rel_root)
        for dirpath, _dirs, files in os.walk(rel_root):
            for name in files:
                p = os.path.join(dirpath, name)
                assert os.path.islink(p), p
                tgt = os.readlink(p)
                assert tgt.endswith(".yaml") and "issues/" in tgt
                resolved = os.path.normpath(os.path.join(dirpath, tgt))
                if os.path.isfile(resolved):
                    checked += 1
                else:
                    # fixture edges include deliberately broken targets
                    # (J2's PROJ-99997/99998/99999 ghosts) — and targets
                    # in OTHER projects' repos; both dangle here
                    broken += 1
    assert checked + broken == edges.count() > 0
    assert checked > 0
    # epic links: exact reference path shape for a known-good edge
    some = (
        edges.filter(F.col("link_type") == "epic").orderBy("src_key").first()
    )
    link = os.path.join(
        root, some["project_key"], "projects", some["project_key"],
        "relationships", "epic", some["src_key"],
    )
    assert os.path.islink(link)
    assert os.readlink(link) == f"../../issues/{some['dst_key']}.yaml"
    # one stream per project: the issue commits, then ONE symlink commit
    for project, n in counts.items():
        subjects = sinks_git.git_log_subjects(os.path.join(root, project))
        links = [s for s in subjects if s.startswith("chore(links):")]
        assert len(subjects) == n + len(links)
        assert len(links) == (project in projects)
        assert not links or subjects[-1] == links[0]
    df.unpersist()


#: ``main`` of each project repo after the two batches of
#: test_fan_out_history_is_pinned, as written by the earlier writer (one
#: fast-import for the issue commits, a second for the symlink commit).
PINNED_MAIN = {
    "BENCH": "a4d45a3803205174f26d6d30c24ba918743789be",
    "CONC": "c8929d2a2fddda9e3247a9d9fa4fd862a50e8c20",
    "MEM": "a08ef21e141a231cb1d68ef6a1a9cb65c7497c20",
    "MY-PROJECT": "440043e1c6488c27c33deaa4d461ebccca372080",
    "PROJ": "aadefef5611443e56fe81e0abed6a23550e2beb6",
    "RHOAIENG": "b4c9dc50a8ab797b3b5d21266ddb9af7f2676950",
}


def test_fan_out_history_is_pinned(spark, sf_dir, tmp_path):
    """Two incremental fan-out batches with edges — the second adds new
    issues and a new version of three issues per project — reproduce the
    pinned commit SHAs of every project repo byte for byte: same commits,
    trees, parents, authors, dates and messages."""
    import os

    from pyspark.sql import Window

    from jira_cdc_git_spark.operators.jira import link_edges_frame

    w = Window.partitionBy("project_key").orderBy("key")
    ranked = FX.issues(spark, sf_dir).withColumn("__rn", F.row_number().over(w))
    first = ranked.filter(F.col("__rn") <= 30).drop("__rn")
    edited = (
        ranked.filter(F.col("__rn") <= 3).drop("__rn")
        .withColumn("updated", F.col("updated") + F.expr("INTERVAL 1 DAY"))
        .withColumn("summary", F.concat(F.col("summary"), F.lit(" (edited)")))
    )
    second = (
        ranked.filter((F.col("__rn") > 30) & (F.col("__rn") <= 50))
        .drop("__rn")
        .unionByName(edited)
    )
    root = str(tmp_path / "repos")
    for batch in (first, second):
        batch = batch.cache()
        sinks_git.materialize_fan_out(batch, root, edges=link_edges_frame(batch))
        batch.unpersist()
    got = {
        p: subprocess.run(
            ["git", "-C", os.path.join(root, p), "rev-parse", "main"],
            check=True, capture_output=True, text=True,
        ).stdout.strip()
        for p in sorted(os.listdir(root))
    }
    assert got == PINNED_MAIN


@pytest.mark.parametrize("jvm_first", [False, True], ids=["own_jvm", "plain_jvm_first"])
def test_fan_out_from_a_foreign_cwd(sf_dir, tmp_path, jvm_first):
    """The fan-out writer runs in Python workers, which must import the
    package whatever the driver's cwd and without PYTHONPATH: a fresh
    process started in an empty directory runs a small fan-out, whether
    get_spark starts the JVM or a plain session started it first."""
    import os
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    plain = (
        "from pyspark.sql import SparkSession\n"
        "SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()"
    ) if jvm_first else ""
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from jira_cdc_git_spark import fixtures as FX, sinks_git
from jira_cdc_git_spark.session import get_spark
{plain}
spark = get_spark(app_name="foreign-cwd", cpus=1)
df = FX.issues(spark, {sf_dir!r}).orderBy("key").limit(5)
print("commits", sum(sinks_git.materialize_fan_out(df, "repos").values()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_MASTER")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "commits 5" in proc.stdout.splitlines()
    assert len(os.listdir(tmp_path / "repos")) >= 1


def test_links_only_fan_out_grafts_and_counts(spark, sf_dir, tmp_path):
    """materialize_symlinks_fan_out, the links-only call of the fan-out
    writer, on repos an issue fan-out created: one links commit per
    project, grafted onto the branch tip, and each project's link count
    returned. A second call with the same edges finds every link in place
    and commits nothing."""
    import os

    from jira_cdc_git_spark.operators.jira import link_edges_frame, symlink_rows

    root = str(tmp_path / "repos")
    df = FX.issues(spark, sf_dir).orderBy("key").limit(400).cache()
    edges = link_edges_frame(df).cache()
    commits = sinks_git.materialize_fan_out(df, root)

    def mains():
        return {
            p: subprocess.run(
                ["git", "-C", os.path.join(root, p), "rev-parse", "main"],
                check=True, capture_output=True, text=True,
            ).stdout.strip()
            for p in sorted(os.listdir(root))
        }

    before = mains()
    links = sinks_git.materialize_symlinks_fan_out(edges, root)
    want = {
        r["project_key"]: r["count"]
        for r in symlink_rows(edges).groupBy("project_key").count().collect()
    }
    assert links == want and sum(want.values()) > 0
    assert set(want) <= set(commits)
    after = mains()
    for p, n in commits.items():
        repo = os.path.join(root, p)
        subjects = sinks_git.git_log_subjects(repo)
        if p not in want:
            assert len(subjects) == n and after[p] == before[p]
            continue
        assert len(subjects) == n + 1
        assert subjects[-1] == f"chore(links): materialize {want[p]} relationship links"
        parent = subprocess.run(
            ["git", "-C", repo, "rev-parse", "main^"],
            check=True, capture_output=True, text=True,
        ).stdout.strip()
        assert parent == before[p]
    assert sinks_git.materialize_symlinks_fan_out(edges, root) == dict.fromkeys(want, 0)
    assert mains() == after
    edges.unpersist()
    df.unpersist()


def test_two_versions_of_one_key_commit_once_each(spark, fifty, tmp_path):
    """Two distinct versions of one key in one batch are two changes: two
    commits, oldest first, each carrying its OWN version's fields (subject
    and YAML document) — not a key-only cross product of versions."""
    from datetime import datetime

    one = fifty.limit(1)
    key, project = one.select("key", "project_key").first()
    v1 = one.withColumn("updated", F.lit(datetime(2030, 1, 1))).withColumn(
        "summary", F.lit("first version")
    )
    v2 = one.withColumn("updated", F.lit(datetime(2030, 6, 1))).withColumn(
        "summary", F.lit("second version")
    )
    repo = str(tmp_path / "repo_versions")
    assert sinks_git.materialize_fast_import(v2.unionByName(v1), repo) == 2
    subjects = sinks_git.git_log_subjects(repo)
    assert len(subjects) == 2
    assert subjects[0].endswith(f"{key} - first version")
    assert subjects[1].endswith(f"{key} - second version")
    path = f"projects/{project}/issues/{key}.yaml"
    for rev, summary, updated in (
        ("HEAD~1", "first version", "2030-01-01"),
        ("HEAD", "second version", "2030-06-01"),
    ):
        doc = subprocess.run(
            ["git", "-C", repo, "show", f"{rev}:{path}"],
            check=True, capture_output=True, text=True,
        ).stdout
        assert f"summary: {summary}" in doc
        assert updated in doc

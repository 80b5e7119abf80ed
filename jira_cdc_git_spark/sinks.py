"""Sinks (SURVEY §2.1 S6, S8, S9) — the write side of the pipeline.

Reference behaviors re-expressed:
* S6 partitioned issues write — one YAML per issue under
  ``projects/{proj}/issues/`` (pkg/schema/yaml.go:32-84,118-122) becomes a
  parquet table partitioned by ``project_key`` (same pruning property: a
  project-scoped query touches one directory).
* S8 commit-log sink — one git commit per issue with a conventional-commit
  message (pkg/git/git.go:214-327) becomes an append-only ``commit_log``
  table; the message/author formatting is the F6/F7 column expressions.
  Commit ids are deterministic (sha of key+updated) so re-syncs are
  idempotent, mirroring the reference's re-commit-on-resync.
* S9 edge sink — relationship symlinks (pkg/links/links.go:33-95) become an
  edge table partitioned by ``(link_type, direction)``, the same layout the
  symlink directory tree encodes (``relationships/{type}/[{direction}/]``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jira_cdc_git_spark.functions import scalar as SC


def write_issues(issues: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6 — partitioned issues table (partition pruning ≙ the reference's
    per-project directory layout). Use for full snapshots; incremental
    deltas go through append_issue_deltas + latest_issues."""
    issues.write.mode(mode).partitionBy("project_key").parquet(path)


def append_issue_deltas(issues: DataFrame, path: str) -> None:
    """Incremental write path: append the change batch. The reference
    upserts per-issue FILES (yaml.go:32-84); on immutable columnar storage
    the equivalent is append-delta + latest-wins read + periodic compaction
    — the standard CDC table layout at 100 TB (Delta/Iceberg MERGE collapses
    this to one op when available)."""
    issues.write.mode("append").partitionBy("project_key").parquet(path)


def latest_issues(spark: SparkSession, path: str) -> DataFrame:
    """Latest-wins view over the delta log: one row per key, highest
    (updated) version. One shuffle on key."""
    from pyspark.sql import Window

    df = spark.read.parquet(path)
    w = Window.partitionBy("key").orderBy(F.col("updated").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def compact_issues(spark: SparkSession, path: str) -> None:
    """Rewrite the delta log to its latest-wins snapshot (run periodically;
    bounds read amplification). Crash-safe swap: tmp → live aside (.bak) →
    tmp into place → drop .bak — no window where the table is absent."""
    import os
    import shutil

    snap = latest_issues(spark, path)
    tmp, bak = path + ".compact", path + ".bak"
    snap.write.mode("overwrite").partitionBy("project_key").parquet(tmp)
    if os.path.isdir(bak):
        shutil.rmtree(bak)
    os.replace(path, bak)
    os.replace(tmp, path)
    shutil.rmtree(bak)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str] | None = None,
    n_buckets: int = 16,
) -> None:
    """Bucketed + sorted external parquet table — the co-located-join
    layout for the CDC hot path at 100 TB.

    The incremental loop joins issues ⋈ sync_state on ``key`` every
    batch (J5, state.py); with both sides written through this sink at
    the SAME bucket count, Catalyst plans that join as a SortMergeJoin
    with ZERO Exchange on either side (bucket pruning also applies to
    point lookups on the bucket column). At 100 TB that deletes the
    largest recurring shuffle in the pipeline — each batch re-reads
    co-located buckets instead of re-hashing the full issue corpus.
    Locked by tests/test_plan_shapes.py::test_bucketed_join_no_shuffle.

    Bucketing metadata lives in the session catalog (saveAsTable), but
    the data is external parquet at ``path`` — dropping the catalog
    entry keeps the files readable as a plain parquet directory.
    """
    cols = bucket_cols or ["key"]
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, cols[0], *cols[1:])
        .sortBy(cols[0], *cols[1:])
        .format("parquet")
        .saveAsTable(table)
    )


def write_edges(edges: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S9 — edge table partitioned like the symlink tree."""
    edges.write.mode(mode).partitionBy("link_type", "direction").parquet(path)


def commit_log_rows(issues: DataFrame, *extra) -> DataFrame:
    """S8/F6/F7 — one commit row per synced issue, plus any ``extra``
    columns of the same issue row."""
    return issues.select(
        F.sha2(
            F.concat_ws("|", F.col("key"), F.col("updated").cast("string")), 256
        ).alias("commit_id"),
        F.col("key"),
        SC.commit_subject(
            F.col("key"), F.col("issuetype"), F.col("summary")
        ).alias("subject"),
        SC.format_user(F.col("assignee.name"), F.col("assignee.email")).alias(
            "author"
        ),
        F.concat(
            F.lit("Issue: "),
            F.col("key"),
            F.lit("\nType: "),
            F.col("issuetype"),
            F.lit("\nStatus: "),
            F.col("status.name"),
        ).alias("body"),
        F.col("updated").alias("commit_ts"),
        F.concat(
            F.lit("projects/"),
            F.col("project_key"),
            F.lit("/issues/"),
            F.col("key"),
            F.lit(".yaml"),
        ).alias("file_path"),
        *extra,
    )


def append_commit_log(issues: DataFrame, path: str) -> None:
    commit_log_rows(issues).write.mode("append").parquet(path)


def read_commit_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_corpus_shards(
    spark: SparkSession, sf_dir: str, path: str, n_shards: int = 8
) -> None:
    """Training-corpus assembly sink: materialize operators.text.
    corpus_shards' deterministic permutation as parquet PARTITIONED BY
    shard, each shard's rows physically sorted by pos — so a training
    loader streams shard directories in order and reads the corpus in the
    fixed pseudo-random order with zero further shuffling.

    Plan shape: one repartition on shard (the only shuffle) +
    sortWithinPartitions(pos) — the exact write pattern corpus_shards'
    docstring promises; repartition(n_shards, shard) gives one file per
    shard directory."""
    from jira_cdc_git_spark.operators.text import corpus_shards
    from jira_cdc_git_spark.sources.registry import load_table

    assignment = corpus_shards(spark, sf_dir, n_shards=n_shards)
    docs = load_table(spark, "documents", sf_dir)
    (
        docs.join(assignment, "doc_id")
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_corpus_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """Read ONE shard partition in training order (partition pruning keeps
    the scan to that directory; pos order is the file's physical order,
    re-asserted here so the contract survives multi-file shards)."""
    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == shard)
        .orderBy("pos")
    )

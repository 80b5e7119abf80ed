"""Sync-state store — the CDC watermark layer (SURVEY §2.8 C1-C8, §2.1
S5/S7/S10; reference: pkg/state/manager.go).

The reference keeps one YAML state file per repo with atomic tmp+rename
writes (manager.go:139-182), a 50-entry history ring (manager.go:22,149-152)
and a validate/repair sweep (manager.go:473-591). Spark-first restatement:

* state lives as a **versioned, project-partitioned parquet table**: each
  version is a ``v_NNNNN`` directory of ``project_key=...`` partitions and
  a ``_CURRENT`` pointer file flips atomically — the tmp+rename idea lifted
  to directories, which also gives free time travel (S10 backup/restore =
  pointer moves, like Delta ``VERSION AS OF`` without the dependency).
* MERGE is **partition-scoped**: only state partitions whose project
  appears in the batch enter the full-outer-join rewrite and are physically
  rewritten; untouched partitions are carried into the new version as hard
  links (no data copied or shuffled). A 1-project batch therefore writes
  O(that project's state), not O(all state) — the same write scoping a
  live table gets from ``partitionOverwriteMode=dynamic``, kept versioned
  here; on Delta/Iceberg this is a one-line ``MERGE INTO``. Invariant:
  issue keys never move between projects (a JIRA key embeds its project),
  so a key can't be duplicated across a rewritten and a linked partition.
* history is an append table re-capped to the most recent 50 per save
  (W4 window).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jira_cdc_git_spark import schemas

HISTORY_CAP = 50  # pkg/state/manager.go:22


def _swap_dir_atomic(df: DataFrame, live: str) -> None:
    """Replace a directory-backed table with a new snapshot such that a
    crash at ANY point leaves a recoverable table: write tmp → rename live
    aside (.bak) → rename tmp into place → drop .bak. The old rmtree-then-
    rename had a window with no live directory at all (the module's
    atomicity claim held only for the state pointer, not history)."""
    tmp, bak = live + ".tmp", live + ".bak"
    df.write.mode("overwrite").parquet(tmp)
    for stale in (bak,):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    if os.path.isdir(live):
        os.replace(live, bak)
    os.replace(tmp, live)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


def _recover_dir(live: str) -> None:
    """Post-crash read path: if only the .bak survives (crash between the
    two renames), restore it."""
    bak = live + ".bak"
    if not os.path.isdir(live) and os.path.isdir(bak):
        os.replace(bak, live)


def merge_updates(synced: DataFrame) -> DataFrame:
    """Latest-per-key dedup + the MERGE update projection (u_key /
    u_project / u_updated / u_checksum / u_path) used by the join-rewrite
    MERGE below."""
    w = Window.partitionBy("key").orderBy(F.col("updated").desc())
    synced = (
        synced.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return synced.select(
        F.col("key").alias("u_key"),
        F.col("project_key").alias("u_project"),
        F.col("updated").alias("u_updated"),
        F.sha2(
            F.concat_ws("|", "key", "summary", F.col("status.name")), 256
        ).alias("u_checksum"),
        F.concat(
            F.lit("projects/"),
            F.col("project_key"),
            F.lit("/issues/"),
            F.col("key"),
            F.lit(".yaml"),
        ).alias("u_path"),
    )


class SyncStateStore:
    """Versioned parquet-backed sync_state + sync_history store."""

    def __init__(self, root: str):
        self.root = root
        self.state_dir = os.path.join(root, "sync_state")
        self.history_dir = os.path.join(root, "sync_history")
        os.makedirs(self.state_dir, exist_ok=True)

    # -- versioning -------------------------------------------------------

    def _pointer(self) -> str:
        return os.path.join(self.state_dir, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _version_path(self, v: int) -> str:
        return os.path.join(self.state_dir, f"v_{v:05d}")

    def commit(self, v: int) -> None:
        """Make version ``v`` current: the atomic ``_CURRENT`` flip, the
        store's single commit point."""
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer())  # atomic (manager.go:166-179)

    # -- S5 load / S7 save ------------------------------------------------

    def load(self, spark: SparkSession) -> DataFrame:
        v = self.current_version()
        if v == 0:
            return spark.createDataFrame([], schemas.SYNC_STATE)
        df = spark.read.schema(schemas.SYNC_STATE).parquet(self._version_path(v))
        return df.select(*[f.name for f in schemas.SYNC_STATE.fields])

    def save(self, df: DataFrame) -> int:
        """Full-table save (repair, bulk load). Partitioned by project_key
        so subsequent project-scoped reads prune and merges stay
        partition-scoped."""
        v = self.current_version() + 1
        (
            df.write.mode("overwrite")
            .partitionBy("project_key")
            .parquet(self._version_path(v))
        )
        self.commit(v)
        return v

    def _link_partition(self, src: str, dst: str) -> None:
        """Carry an untouched partition into the new version as hard links —
        metadata-only, no data copy (vacuum of old versions stays safe:
        links keep the inodes alive)."""
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src):
            s, d = os.path.join(src, name), os.path.join(dst, name)
            if os.path.isfile(s) and not os.path.exists(d):
                os.link(s, d)

    # -- S10 backup / restore (time travel) -------------------------------

    def restore(self, version: int) -> None:
        if not os.path.isdir(self._version_path(version)):
            raise FileNotFoundError(f"no state version {version}")
        self.commit(version)

    def vacuum(self, keep: int = 5) -> None:
        keep_from = max(1, self.current_version() - keep + 1)
        for name in os.listdir(self.state_dir):
            if name.startswith("v_") and int(name[2:]) < keep_from:
                shutil.rmtree(os.path.join(self.state_dir, name))

    # -- bucketed variant: co-located CDC join ----------------------------

    def save_bucketed(
        self,
        df: DataFrame,
        table: str = "sync_state_bucketed",
        buckets: int = 32,
    ) -> None:
        """Persist state as a BUCKETED catalog table (bucketBy key) — the
        100 TB layout: the state side of every subsequent change-detection
        join is read pre-partitioned, so ONLY the candidate side shuffles.
        The versioned-parquet path stays the source of truth; this is the
        serving layout (on Delta/Iceberg it'd be the same table)."""
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "key")
            .sortBy("key")
            .saveAsTable(table)
        )

    def filter_changes_bucketed(
        self,
        spark: SparkSession,
        candidates: DataFrame,
        table: str = "sync_state_bucketed",
    ) -> DataFrame:
        """C1 change detection against the bucketed state table. Identical
        semantics to filter_changes; the physical plan has NO Exchange on
        the state side (verified by tests/test_plan_shapes)."""
        st = spark.table(table).select(
            F.col("key").alias("__sk"), F.col("last_synced").alias("__ls")
        )
        joined = candidates.join(st, candidates.key == F.col("__sk"), "left")
        return (
            joined.filter(
                F.col("__sk").isNull() | (F.col("updated") > F.col("__ls"))
            )
            .withColumn(
                "change_type",
                F.when(F.col("__sk").isNull(), F.lit("new")).otherwise(
                    F.lit("updated")
                ),
            )
            .drop("__sk", "__ls")
        )

    # -- C1 change detection (J5) -----------------------------------------

    def filter_changes(
        self,
        spark: SparkSession,
        candidates: DataFrame,
        force: bool = False,
        include_new: bool = True,
        include_modified: bool = True,
        projects: list[str] | None = None,
    ) -> DataFrame:
        """filterIssuesForSync (internal/sync/incremental.go:298-363) +
        NeedsSync (manager.go:444-454) with the C3 candidate options.
        Returns candidates + change_type ∈ {new, updated}."""
        if projects:
            candidates = candidates.filter(F.col("project_key").isin(projects))
        st = self.load(spark).select(
            F.col("key").alias("__sk"), F.col("last_synced").alias("__ls")
        )
        joined = candidates.join(st, candidates.key == F.col("__sk"), "left")
        change = F.when(F.col("__sk").isNull(), F.lit("new")).otherwise(
            F.lit("updated")
        )
        if force:
            out = joined
        else:
            is_new = F.col("__sk").isNull()
            is_mod = F.col("__sk").isNotNull() & (
                F.col("updated") > F.col("__ls")
            )
            cond = F.lit(False)
            if include_new:
                cond = cond | is_new
            if include_modified:
                cond = cond | is_mod
            out = joined.filter(cond)
        return out.withColumn("change_type", change).drop("__sk", "__ls")

    # -- C5 per-item state MERGE ------------------------------------------

    def merge(self, spark: SparkSession, synced: DataFrame, now: datetime) -> int:
        """Upsert one batch of synced issues into state (updateIssueState,
        manager.go:329-371): ``stage_merge`` writes the next version, then
        ``commit`` flips ``_CURRENT`` to it. Returns the new version.

        The flip is the single commit point: a crash before it leaves the
        current version (and every reader) untouched, and the next merge
        overwrites the staged directory. incremental_sync_batch relies on
        this to stage the MERGE concurrently with its sinks and commit
        only once every write has succeeded."""
        v = self.stage_merge(spark, synced, now)
        self.commit(v)
        return v

    def stage_merge(
        self, spark: SparkSession, synced: DataFrame, now: datetime
    ) -> int:
        """Write the merged state as version current+1 WITHOUT flipping
        ``_CURRENT`` to it; returns that version. Matched rows bump
        sync_count and refresh watermark/checksum; unmatched insert with
        sync_count=1.

        Join-based MERGE rewrite (plain parquet has no MERGE INTO): state
        FULL OUTER JOIN batch on key → coalesce per column. Deterministic
        and idempotent: re-merging the same batch only bumps sync_count.

        PARTITION-SCOPED: only the state partitions whose project_key
        appears in the batch are read into the join and rewritten; every
        other partition is hard-linked from the previous version. Per
        micro-batch cost is O(touched projects' state), not O(state) —
        the write-amplification fix for the one-row-batch-rewrites-N-rows
        regime (round-2 verdict #3). The touched-project list is a
        collect() of the batch's distinct projects: bounded by the number
        of JIRA projects, a few hundred rows at any scale.

        The batch is deduped to latest-per-key FIRST: one micro-batch can
        legitimately carry several versions of one issue plus duplicate
        deliveries (C4 at-least-once), and a multi-match key in a full-outer
        join would fan the state row out.
        """
        updates = merge_updates(synced)
        touched = sorted(
            r["u_project"]
            for r in updates.select("u_project").distinct().collect()
        )
        cur = self.load(spark).filter(F.col("project_key").isin(touched))
        merged = cur.join(updates, cur.key == updates.u_key, "full_outer").select(
            F.coalesce(cur.key, F.col("u_key")).alias("key"),
            F.coalesce(F.col("u_project"), cur.project_key).alias("project_key"),
            F.when(F.col("u_key").isNotNull(), F.lit(now))
            .otherwise(cur.last_synced)
            .alias("last_synced"),
            F.coalesce(F.col("u_updated"), cur.last_updated).alias("last_updated"),
            F.coalesce(cur.version, F.lit(1)).alias("version"),
            F.coalesce(F.col("u_path"), cur.file_path).alias("file_path"),
            F.coalesce(cur.file_size, F.lit(0)).cast("long").alias("file_size"),
            F.coalesce(F.col("u_checksum"), cur.checksum).alias("checksum"),
            F.when(F.col("u_key").isNotNull(), F.lit("success"))
            .otherwise(cur.sync_status)
            .alias("sync_status"),
            F.when(F.col("u_key").isNotNull(), F.lit(None).cast("string"))
            .otherwise(cur.error_message)
            .alias("error_message"),
            (
                F.coalesce(cur.sync_count, F.lit(0))
                + F.when(F.col("u_key").isNotNull(), 1).otherwise(0)
            )
            .cast("int")
            .alias("sync_count"),
        )
        v_prev = self.current_version()
        v = v_prev + 1
        (
            merged.write.mode("overwrite")
            .partitionBy("project_key")
            .parquet(self._version_path(v))
        )
        if v_prev > 0:
            touched_dirs = {f"project_key={p}" for p in touched}
            prev_path = self._version_path(v_prev)
            for name in os.listdir(prev_path):
                if name.startswith("project_key=") and name not in touched_dirs:
                    self._link_partition(
                        os.path.join(prev_path, name),
                        os.path.join(self._version_path(v), name),
                    )
        return v

    # -- C6 operation log / W4 history cap --------------------------------

    def record_operation(
        self,
        spark: SparkSession,
        op_type: str,
        status: str,
        start_time: datetime,
        end_time: datetime,
        counts: dict[str, int] | None = None,
        query: str | None = None,
    ) -> None:
        c = counts or {}
        row = [
            (
                f"sync-{int(start_time.timestamp())}",
                op_type,
                query,
                start_time,
                end_time,
                int((end_time - start_time).total_seconds() * 1000),
                status,
                c.get("total", 0),
                c.get("processed", 0),
                c.get("successful", 0),
                c.get("failed", 0),
                c.get("skipped", 0),
                c.get("errors", 0),
            )
        ]
        df = spark.createDataFrame(row, schemas.SYNC_HISTORY)
        if os.path.isdir(self.history_dir) and os.listdir(self.history_dir):
            hist = spark.read.parquet(self.history_dir).unionByName(df)
        else:
            hist = df
        # Keep the most recent HISTORY_CAP rows. orderBy+limit compiles to
        # TakeOrderedAndProject (per-partition top-K, then driver merge of K
        # rows) — no single-partition WindowExec, no skew warning, and the
        # plan holds at any history size.
        capped = hist.orderBy(
            F.col("start_time").desc(), F.col("id").desc()
        ).limit(HISTORY_CAP)
        _swap_dir_atomic(capped, self.history_dir)

    def history(self, spark: SparkSession) -> DataFrame:
        _recover_dir(self.history_dir)
        if not os.path.isdir(self.history_dir):
            return spark.createDataFrame([], schemas.SYNC_HISTORY)
        return spark.read.parquet(self.history_dir)

    # -- C2 watermark (W5) -------------------------------------------------

    def last_sync_time(self, spark: SparkSession):
        """GetLastSyncTime (manager.go:457-470): end time of the most recent
        completed operation; None if none."""
        row = (
            self.history(spark)
            .filter(F.col("status") == "completed")
            .agg(F.max("end_time").alias("t"))
            .first()
        )
        return row["t"] if row else None

    # -- C7 validate / repair ----------------------------------------------

    def validate(self, spark: SparkSession, files_df: DataFrame) -> DataFrame:
        """The J3/J4/J6 sweep (manager.go:473-591) against a directory
        listing frame (path, size, sha256)."""
        st = self.load(spark)
        orphaned = files_df.join(
            st, files_df.path == st.file_path, "left_anti"
        ).select(F.lit("orphaned").alias("problem"), "path")
        missing = st.join(
            files_df, st.file_path == files_df.path, "left_anti"
        ).select(F.lit("missing").alias("problem"), F.col("file_path").alias("path"))
        drift = (
            st.join(files_df, st.file_path == files_df.path)
            .filter(F.col("checksum") != F.col("sha256"))
            .select(F.lit("drift").alias("problem"), "path")
        )
        return orphaned.unionByName(missing).unionByName(drift)

    def repair(self, spark: SparkSession, files_df: DataFrame) -> int:
        """Repair actions (manager.go:538-591): drop state entries whose
        file is missing (the reference removes them); orphan files are
        reported, not deleted. Saves a new state version (backup-first is
        implicit: the previous version remains restorable)."""
        st = self.load(spark)
        keep = st.join(files_df, st.file_path == files_df.path, "left_semi")
        return self.save(keep)

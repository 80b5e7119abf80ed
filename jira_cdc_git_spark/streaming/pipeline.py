"""Structured Streaming incremental sync (SURVEY §2.8, §3.1 restatement).

The reference's "CDC" is polling incremental sync (internal/sync/
incremental.go); its per-batch semantics — C1 change filter against
sync_state, write issues + edges + commit log, C5 state MERGE, C6 history —
map onto ONE ``foreachBatch`` body here, shared by both execution modes:

* ``Trigger.AvailableNow`` — the incremental batch kick (reference CLI
  ``--incremental``; schedule via external cron per C9).
* continuous micro-batches — ``processingTime`` trigger for a live feed.

Exactly-once across the writes (SURVEY §7 hardness item 1) follows the
Structured Streaming recipe: ONE atomic commit point plus sinks that a
replayed batch cannot double. The commit point is the state store's
``_CURRENT`` flip (``SyncStateStore.commit``): the sinks, the git fan-out
and a STAGED state version run concurrently as one fork/join, and the
flip happens only once every branch succeeded. When a branch fails, the
batch takes back what its append sinks wrote (issue deltas, commit log,
edges), state and history stay as they were, and the git writer's
commits stay — a replay of them is a no-op, because the writer skips
every version a repo already holds. So the re-run syncs the same change
set and every sink ends as after one clean run (C4: re-sync is safe by
design). A process that dies inside the write phase gets no such
clean-up: its replay converges state, the latest-wins issue view and
git, but can append its commit-log and edge rows a second time.

A streaming windowed aggregation over the events feed (tumbling 1h with
watermark) shares its expressions with the batch operator
(operators/timeseries.tumbling_hourly) per the batch/streaming-parity rule.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jira_cdc_git_spark import sinks, state
from jira_cdc_git_spark.state import SyncStateStore


def _append_batch_idempotent(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """foreachBatch delivers at-least-once: after a crash between the sink
    write and the checkpoint commit, the same batch_id re-runs against a
    sink that already holds its rows. A plain mode("append") then
    duplicates them (round-3 advice). Writing each batch to its own
    ``batch_id=`` partition with overwrite makes the replay rewrite that
    partition in place — the Structured Streaming guide's documented
    idempotent-sink recipe. ``spark.read.parquet(out_dir)`` still works:
    partition discovery surfaces batch_id as one extra int column (and a
    1000-executor deployment gets replay-scoped partition pruning free)."""
    df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")


def read_append_sink(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read an ``_append_batch_idempotent`` sink without the bookkeeping
    partition column."""
    return spark.read.parquet(out_dir).drop("batch_id")


def _drain(
    spark: SparkSession,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    body=None,
    *,
    max_files_per_trigger: int | None = None,
    shape=None,
    out_dir: str | None = None,
) -> None:
    """The drain layer under every streaming entry point: a parquet
    file-source ``readStream`` drained once under ``Trigger.AvailableNow``
    (everything currently in the feed, then stop) and awaited.

    ``max_files_per_trigger`` is the C10 backpressure knob: it bounds
    each micro-batch (and gives crash tests real batch boundaries to die
    between). ``body(batch_df, batch_id)`` runs per micro-batch through
    ``foreachBatch``; without a body, ``shape(feed)`` appends to a parquet
    file sink at ``out_dir`` — the form the built-in stateful operators
    (watermarked aggregation, dedup, applyInPandasWithState) need."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.parquet(source_dir)
    if body is not None:
        writer = feed.writeStream.foreachBatch(body)
    else:
        writer = (
            shape(feed)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
        )
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _drain_stateful(
    spark: SparkSession,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    *,
    states: dict[str, str],
    fold,
    snapshots: dict | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """The stateful layer on top of ``_drain``: the exactly-once fold of
    micro-batches into directory-backed state tables, shared by every
    stateful streaming twin. A twin supplies only its fold and its
    snapshot projections.

    ``states`` maps each state dir to the DDL of its empty initial table,
    in commit order. ``fold(batch_df, batch_id, *carried)`` receives the
    batch and the committed table of every state dir (declaration order)
    and returns the new state — a tuple when there are several dirs. Any
    batch_id-partitioned emission (``_append_batch_idempotent``) happens
    inside the fold, before the state commits. ``snapshots`` maps each
    snapshot dir to a projection over the committed state tables.

    Per non-empty batch: heal every dir, read each state table and its
    marker, fold (if any dir still needs this batch), swap each due state
    dir in declaration order, then swap each snapshot dir.

    Replay-safe: the fold is NOT naturally idempotent — re-folding a batch
    after a crash between the swap and the checkpoint commit would
    double-count — so every state table carries the last applied batch id
    in an ``applied_batch_id`` column. Because the marker rides inside the
    atomically swapped directory (``state._swap_dir_atomic``'s crash-safe
    .bak rotation), data and marker commit as one unit; a replayed batch
    (id <= marker) skips the fold. Batch ids are monotonic per checkpoint,
    and a fresh checkpoint restarts at 0, whose replays are likewise <=
    the stored marker. The guard is per dir, so a crash between two state
    swaps re-folds the batch ONLY into the dir that missed it. Snapshots
    recompute UNCONDITIONALLY from committed state (same state in, same
    snapshot out), so a replay also heals a torn snapshot emit.

    A crash between a swap's two renames leaves only ``<dir>.bak``:
    ``state._recover_dir`` restores it before the batch reads the dir (or
    the twin would silently reinitialize from empty state), and once more
    before the stream starts — under availableNow no batch fires when no
    new data arrived, so a torn FINAL swap would otherwise strand readers.
    """
    snapshots = snapshots or {}
    dirs = [*states, *snapshots]

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for d in dirs:
            state._recover_dir(d)
        carried, due = [], []
        for d, ddl in states.items():
            if os.path.isdir(d):
                table = spark.read.parquet(d)
                last = table.agg(F.max("applied_batch_id")).first()[0]
                carried.append(table.drop("applied_batch_id"))
            else:
                last = None
                carried.append(spark.createDataFrame([], ddl))
            due.append(last is None or batch_id > last)
        if any(due):
            folded = fold(batch_df, batch_id, *carried)
            if isinstance(folded, DataFrame):
                folded = (folded,)
            for d, new, todo in zip(states, folded, due):
                if todo:
                    stamped = new.withColumn("applied_batch_id", F.lit(batch_id))
                    state._swap_dir_atomic(stamped.localCheckpoint(), d)
        if snapshots:
            committed = [
                spark.read.parquet(d).drop("applied_batch_id") for d in states
            ]
            for d, project in snapshots.items():
                state._swap_dir_atomic(project(*committed).localCheckpoint(), d)

    for d in dirs:
        state._recover_dir(d)
    _drain(
        spark,
        source_dir,
        schema,
        checkpoint_dir,
        _step,
        max_files_per_trigger=max_files_per_trigger,
    )


def _files(root: str) -> set[str] | None:
    """Every file under ``root``, or None when it does not exist."""
    if not os.path.isdir(root):
        return None
    return {os.path.join(d, f) for d, _dirs, fs in os.walk(root) for f in fs}


def _drop_new_files(root: str, before: set[str] | None) -> None:
    """Take back appends to the table at ``root``: remove every file not
    in ``before`` (its earlier ``_files`` listing), or the whole table
    when it did not exist then."""
    if before is None:
        shutil.rmtree(root, ignore_errors=True)
        return
    for path in (_files(root) or set()) - before:
        os.remove(path)


def _fork_join(spark: SparkSession, branches: list) -> list:
    """Run the zero-argument ``branches`` concurrently, one thread each,
    and return their results in order. Each thread inherits the caller's
    Spark local properties (``inheritable_thread_target``), so every job a
    branch launches stays in the caller's job group and a group cancel
    (scheduling.run_scheduled's Replace policy) reaches it. Every branch is
    joined before the first failure, in branch order, is raised; the
    other failures ride along as notes on it."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(b)) for b in branches
        ]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for e in errors[1:]:
            errors[0].add_note(f"another write branch also failed: {e!r}")
        raise errors[0]
    return [f.result() for f in futures]


def incremental_sync_batch(
    spark: SparkSession,
    batch: DataFrame,
    store: SyncStateStore,
    out_root: str,
    now: datetime | None = None,
    force: bool = False,
    dry_run: bool = False,
    edges_dir: str | None = None,
    git_repos_root: str | None = None,
) -> dict[str, int]:
    """The shared per-batch body (batch CLI path and foreachBatch both call
    this). Returns the A4-style result counts.

    The write phase is one fork/join over the persisted change set: the
    issue deltas, the commit log, the edges, the git fan-out and a STAGED
    state MERGE (``SyncStateStore.stage_merge``) run concurrently. Only
    when every branch has succeeded does ``SyncStateStore.commit`` flip
    ``_CURRENT`` to the new state version — the batch's single commit
    point — followed by the history record. A failed branch raises after
    the others finish; the batch's appends are removed and the current
    state version and the history stay unchanged, so the re-run syncs the
    same change set again and every sink ends as after one clean run
    (see the module docstring).

    dry_run (C8): compute the change set and counts, write NOTHING —
    mirrors incremental.go:404-465 (fetch-only, fabricated paths).

    edges_dir: when set, the change set's relationship edges (S9,
    pkg/links/links.go:33-95) append there alongside issues/commit log —
    the full per-batch write set of the reference's sync loop.

    git_repos_root: when set, the change set also materializes as real git
    commits plus the relationship symlink tree, one repo per project (S8
    fan-out, sinks_git.materialize_fan_out) — the reference's complete
    output contract in one batch body.
    """
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    start = now
    changes = store.filter_changes(spark, batch, force=force)
    # one pass over the (small) change set feeds every write branch —
    # persist instead of recomputing the filter join once per branch
    changes.persist()
    try:
        # A10/C12 progress metrics from the one action that fills the cache
        # (the Spark-native replacement for the reference's progress
        # channel, internal/sync/batch.go:62-71,349-419). They count
        # distinct (key, updated) versions: at-least-once delivery can hand
        # one poll the same issue-version twice, and that is one change.
        version = F.struct("key", "updated")
        stats = changes.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct(version).alias("versions"),
            F.count_distinct(
                F.when(F.col("change_type") == "new", version)
            ).alias("new"),
        ).first()
        if stats["versions"] < stats["rows"]:
            # dedup only when needed: its shuffle spreads the change set
            # over more partitions, and so over more sink files. Fill its
            # cache before the fork so the branches don't each compute it.
            deduped = changes.dropDuplicates(["key", "updated"]).persist()
            deduped.count()
            changes.unpersist()
            changes = deduped
        n = stats["versions"]
        counts = {"total": n, "processed": 0 if dry_run else n,
                  "successful": 0 if dry_run else n, "failed": 0,
                  "skipped": 0, "errors": 0, "new": stats["new"]}
        if dry_run or n == 0:
            store.record_operation(
                spark, "incremental", "completed", start, now, counts
            )
            return counts
        issue_cols = changes.drop("change_type")
        issues_dir, log_dir = f"{out_root}/issues", f"{out_root}/commit_log"
        appended = [issues_dir, log_dir]
        edges = None
        if edges_dir is not None or git_repos_root is not None:
            from jira_cdc_git_spark.operators.jira import link_edges_frame

            edges = link_edges_frame(issue_cols)
        branches = [
            lambda: sinks.append_issue_deltas(issue_cols, issues_dir),
            lambda: sinks.append_commit_log(issue_cols, log_dir),
        ]
        if edges_dir is not None:
            appended.append(edges_dir)
            branches.append(
                lambda: sinks.write_edges(edges, edges_dir, mode="append")
            )
        if git_repos_root is not None:
            from jira_cdc_git_spark import sinks_git

            branches.append(
                lambda: sinks_git.materialize_fan_out(
                    issue_cols, git_repos_root, edges=edges
                )
            )
        branches.append(lambda: store.stage_merge(spark, issue_cols, now))
        before = {p: _files(p) for p in appended}
        try:
            staged = _fork_join(spark, branches)[-1]
        except Exception:
            # every branch has stopped: take back this batch's appends so
            # that its re-run writes them once
            for p, files in before.items():
                _drop_new_files(p, files)
            raise
        store.commit(staged)
        store.record_operation(
            spark, "incremental", "completed", start, now, counts
        )
        return counts
    finally:
        changes.unpersist()


def run_incremental_sync(
    spark: SparkSession,
    base_url: str,
    jql: str,
    store: SyncStateStore,
    out_root: str,
    *,
    distributed: bool = False,
    page_size: int | None = None,
    limiter=None,
    token: str | None = None,
    max_concurrent: int | None = None,
    delay_ms: int | None = None,
    now: datetime | None = None,
    force: bool = False,
    dry_run: bool = False,
    write_edges: bool = True,
    git_repos_root: str | None = None,
) -> dict[str, int]:
    """The reference's whole incremental loop composed end-to-end
    (internal/sync/incremental.go:298-363 driving pkg/client/client.go:
    150-191): rate-limited REST fetch of the JQL's issues → C1 change
    filter against sync state → partitioned issue deltas + S9 edges + S8
    commit log + C5 state MERGE + C6 history, all through the shared
    ``incremental_sync_batch`` body. Re-running with unchanged upstream
    syncs nothing; bumping N issues' ``updated`` syncs exactly N (C4).

    distributed=True fetches pages inside executors (the 100 TB-ingest
    shape: fetch parallelism == ``max_concurrent`` partitioned tasks);
    the default driver-paged path matches the reference's single client.
    The JQL string is pushed through ``optimize_query`` before hitting
    the server, exactly as BuildEpicQuery does (jira_builder.go:195-234).
    """
    from jira_cdc_git_spark.sources import jira_rest as JR

    kw: dict = {"token": token}
    if page_size is not None:
        kw["page_size"] = page_size
    if distributed:
        if max_concurrent is not None:
            kw["max_concurrent"] = max_concurrent
        if delay_ms is not None:
            kw["delay_ms"] = delay_ms
    elif limiter is not None:
        kw["limiter"] = limiter
    issues = JR.search_query(
        spark, base_url, jql, distributed=distributed, **kw
    )
    return incremental_sync_batch(
        spark,
        issues,
        store,
        out_root,
        now=now,
        force=force,
        dry_run=dry_run,
        edges_dir=f"{out_root}/edges" if write_edges else None,
        git_repos_root=git_repos_root,
    )


def run_incremental_stream(
    spark: SparkSession,
    changes_dir: str,
    schema,
    store: SyncStateStore,
    out_root: str,
    checkpoint_dir: str,
    now: datetime | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """File-source change feed → foreachBatch(incremental_sync_batch),
    Trigger.AvailableNow (drains everything currently in the feed, then
    stops — the streaming-native form of the reference's polling loop).

    max_files_per_trigger is the C10 backpressure knob: the source-side
    throttle replacing the reference's token-delay rate limiter
    (pkg/ratelimit/ratelimit.go:52-210) for the file-feed path; a live
    JIRA connector would wrap its HTTP client with
    functions/scalar.backoff_ms on 429s."""

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        incremental_sync_batch(spark, batch_df, store, out_root, now=now)

    _drain(
        spark,
        changes_dir,
        schema,
        checkpoint_dir,
        _body,
        max_files_per_trigger=max_files_per_trigger,
    )


class ProgressRecorder:
    """C12/A10 streaming-native progress reporting: a
    ``StreamingQueryListener`` that appends one JSON line per micro-batch
    progress event (query id, batch id, rows/sec, input rows, sink) —
    the Spark replacement for the reference's non-blocking progress
    channel (internal/sync/batch.go:62-71,349-419). Driver-side file I/O
    only; no executor involvement.

    Usage:
        rec = ProgressRecorder(path)
        spark.streams.addListener(rec.listener)
        ... run streaming queries ...
        spark.streams.removeListener(rec.listener)
    """

    def __init__(self, out_path: str):
        import os as _os

        self.out_path = out_path
        _os.makedirs(_os.path.dirname(out_path) or ".", exist_ok=True)
        parent = self

        from pyspark.sql.streaming import StreamingQueryListener

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                parent._write(
                    {"event": "started", "id": str(event.id), "name": event.name}
                )

            def onQueryProgress(self, event):
                p = event.progress
                parent._write(
                    {
                        "event": "progress",
                        "id": str(p.id),
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "processed_rows_per_second": p.processedRowsPerSecond,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                parent._write({"event": "terminated", "id": str(event.id)})

        self.listener = _L()

    def _write(self, record: dict) -> None:
        import json

        with open(self.out_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def records(self) -> list[dict]:
        import json
        import os as _os

        if not _os.path.exists(self.out_path):
            return []
        with open(self.out_path) as f:
            return [json.loads(line) for line in f if line.strip()]


SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double"
)
_SESSION_STATE_SCHEMA = (
    "session_start timestamp, last_ts timestamp, n_events bigint, "
    "total_value double"
)


def streaming_sessionize(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> None:
    """Custom stateful streaming operator: per-user sessionization with a
    30-minute inactivity gap via ``applyInPandasWithState`` (the Spark
    primitive for operators the built-in windowing can't express — the
    streaming twin of operators/timeseries.sessionize, which does the same
    with lag+cumsum in batch).

    Per-user GroupState carries (session_start, last_ts, n_events,
    total_value). A batch's events extend or close sessions; closed
    sessions are emitted immediately, the open tail stays in state with an
    event-time timeout at last_ts + gap, so watermark progress flushes
    idle sessions exactly once. State size is O(active users), not
    O(events) — the 100 TB-safe shape."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd

    gap = pd.Timedelta(minutes=gap_minutes)

    def fn(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            ss, lt, n, tv = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_start": ss,
                        "session_end": lt,
                        "n_events": n,
                        "total_value": tv,
                    }
                ]
            )
            return
        events = pd.concat(list(pdf_iter)).sort_values("ts")
        if state.exists:
            ss, lt, n, tv = state.get
            ss, lt = pd.Timestamp(ss), pd.Timestamp(lt)
        else:
            ss = lt = None
            n, tv = 0, 0.0
        closed = []
        for ts, value in zip(events["ts"], events["value"]):
            ts = pd.Timestamp(ts)
            if lt is not None and ts - lt > gap:
                closed.append(
                    {
                        "user_id": user_id,
                        "session_start": ss,
                        "session_end": lt,
                        "n_events": n,
                        "total_value": tv,
                    }
                )
                ss, n, tv = ts, 0, 0.0
            if ss is None:
                ss = ts
            lt = ts
            n += 1
            tv += float(value)
        state.update((ss, lt, n, tv))
        state.setTimeoutTimestamp(int((lt + gap).timestamp() * 1000))
        if closed:
            yield pd.DataFrame(closed)

    def _sessions(feed: DataFrame) -> DataFrame:
        return (
            feed.withWatermark("ts", watermark)
            .select("user_id", "ts", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                SESSION_OUT_SCHEMA,
                _SESSION_STATE_SCHEMA,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            )
        )

    _drain(
        spark, events_dir, schema, checkpoint_dir, shape=_sessions, out_dir=out_dir
    )


def streaming_topk(
    spark: SparkSession,
    queries_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    corpus_sf_dir: str,
    k: int = 5,
) -> None:
    """Stream-static join: a stream of query vectors scored top-k against
    the STATIC embedding corpus (the serving shape of the ANN surface —
    operators/vectors.cosine_topk per arriving query). Each micro-batch of
    queries broadcasts against the corpus scan; per-query top-k is a
    rank window partitioned by query_id — the corpus is never shuffled."""
    from pyspark.sql import Window

    from jira_cdc_git_spark.operators.vectors import cosine
    from jira_cdc_git_spark.sources.registry import load_table_spread

    corpus = load_table_spread(spark, "embeddings", corpus_sf_dir, "vec_id")

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = batch_df.select(
            F.col("query_id"), F.col("embedding").alias("q_embedding")
        )
        scored = corpus.crossJoin(F.broadcast(q)).select(
            "query_id",
            "vec_id",
            F.round(
                cosine(F.col("embedding"), F.col("q_embedding")), 6
            ).alias("cos_sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        _append_batch_idempotent(
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k),
            out_dir,
            batch_id,
        )

    _drain(spark, queries_dir, schema, checkpoint_dir, _score)


def streaming_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Streaming twin of the batch exact-dedup (operators/text.
    doc_fingerprints): md5-fingerprint each arriving document and emit
    only first-seen fingerprints, via ``dropDuplicatesWithinWatermark`` —
    dedup state is pruned as event time advances, so state size is
    bounded by the watermark window instead of growing with the corpus
    (the 100 TB-safe streaming dedup; unbounded dropDuplicates state is
    the classic streaming OOM)."""
    from jira_cdc_git_spark.functions.text import fingerprint

    def _dedup(feed: DataFrame) -> DataFrame:
        return (
            feed.withWatermark("event_ts", watermark)
            .withColumn("fp", fingerprint(F.col("text")))
            .dropDuplicatesWithinWatermark(["fp"])
            .select("doc_id", "fp", "event_ts")
        )

    _drain(spark, docs_dir, schema, checkpoint_dir, shape=_dedup, out_dir=out_dir)


def streaming_tumbling_hourly(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 hours",
) -> None:
    """Streaming twin of operators/timeseries.tumbling_hourly: 1-hour
    tumbling event-time windows with a late-data watermark, complete-once
    via AvailableNow to a parquet sink (append mode: only windows the
    watermark has closed are emitted)."""
    def _hourly(feed: DataFrame) -> DataFrame:
        return (
            feed.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("hour_ts"), "event_type", "n", "total_value")
        )

    _drain(spark, events_dir, schema, checkpoint_dir, shape=_hourly, out_dir=out_dir)


def streaming_curation(
    spark: SparkSession,
    docs_dir: str,
    schema,
    bench_grams: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
) -> None:
    """Streaming twin of the corpus-curation stack: as documents arrive,
    score quality, detect+redact PII, and flag benchmark contamination
    via a stream-static join against the (small, static) benchmark-gram
    table. The per-batch body IS operators/text.curate_frame — the same
    expressions the batch registry queries run, applied inside
    foreachBatch (the standard pattern for stream-static join + per-doc
    aggregation without unbounded streaming state: every document's rows
    live within one micro-batch, so the gram-hit count is exact and no
    watermark state accrues)."""
    from jira_cdc_git_spark.operators.text import curate_frame

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        _append_batch_idempotent(
            curate_frame(batch_df, bench_grams), out_dir, batch_id
        )

    _drain(spark, docs_dir, schema, checkpoint_dir, _body)


def streaming_phash_dedup(
    spark: SparkSession,
    media_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    corpus_sf_dir: str,
    max_hamming: int = 6,
) -> None:
    """Streaming twin of perceptual image dedup: as new media payloads
    arrive, dHash each micro-batch (the SAME Arrow-batched body as
    operators/multimodal.dhash_frame) and band-join it against the STATIC
    corpus signature table — 'is this newly-crawled image a near-dup of
    anything we already hold'. The corpus bands are derived once outside
    the stream; each batch shuffles only its own band rows (the corpus
    side is a static frame AQE can broadcast when small), and matches
    append (new_media_id, corpus_media_id, hamming) rows.

    No streaming state accrues: dedup-vs-corpus is a pure stream-static
    join, so there is no watermark to manage (contrast
    streaming_exact_dedup, which dedups WITHIN the stream)."""
    from jira_cdc_git_spark.operators.multimodal import (
        dhash_bands,
        dhash_frame,
        image_dhash,
    )

    corpus_bands = dhash_bands(
        image_dhash(spark, corpus_sf_dir).select("media_id", "dhash")
    ).select(
        F.col("media_id").alias("corpus_media_id"),
        F.col("dhash").alias("corpus_dhash"),
        "band_key",
    )

    def _match(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sigs = dhash_frame(batch_df).select("media_id", "dhash")
        bands = dhash_bands(sigs)
        ham = F.bit_count(
            F.col("dhash").bitwiseXOR(F.col("corpus_dhash"))
        ).cast("int")
        _append_batch_idempotent(
            bands.join(corpus_bands, "band_key")
            .select(
                F.col("media_id").alias("new_media_id"),
                "corpus_media_id",
                ham.alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct(),
            out_dir,
            batch_id,
        )

    _drain(spark, media_dir, schema, checkpoint_dir, _match)


def streaming_ivm_counts(
    spark: SparkSession,
    issues_dir: str,
    schema,
    checkpoint_dir: str,
    counts_dir: str,
) -> None:
    """Streaming twin of ivm_status_counts: each micro-batch of issues
    folds its partial (project, status) counts into the persistent counts
    table by algebraic merge — read current, union the batch's partials,
    re-aggregate, atomically swap (``_drain_stateful``). The maintained
    table equals a full recompute over everything streamed so far at
    every trigger — the IVM contract, asserted by the batch-parity test.

    100 TB shape: per batch the expensive aggregation touches ONLY the
    batch (map-side partial); the merge re-reads a group-cardinality-
    sized table, not history. (On Delta/Iceberg the swap becomes a MERGE;
    the parquet-dir swap is the dependency-free equivalent.)"""
    keys = ["project_key", "status_name"]

    def _fold(batch_df: DataFrame, batch_id: int, counts: DataFrame):
        partial = (
            batch_df.select(
                "project_key", F.col("status.name").alias("status_name")
            )
            .groupBy(*keys)
            .agg(F.count("*").alias("n_issues"))
        )
        return (
            counts.unionByName(partial)
            .groupBy(*keys)
            .agg(F.sum("n_issues").alias("n_issues"))
        )

    _drain_stateful(
        spark,
        issues_dir,
        schema,
        checkpoint_dir,
        states={
            counts_dir: "project_key string, status_name string, n_issues long"
        },
        fold=_fold,
        # one micro-batch per file: the fold is exercised repeatedly, not
        # collapsed into one batch
        max_files_per_trigger=1,
    )


def streaming_anomalies(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    baseline_sf_dir: str,
    z_threshold: float = 3.0,
) -> None:
    """Streaming twin of value_anomalies: arriving events are scored
    against the STATIC per-user baseline (mean/sigma learned from the
    historical corpus) — the standard serving split for anomaly
    detection: train offline, score online. A pure stream-static join
    (baseline is user-cardinality, AQE broadcasts when small), no
    streaming state, flagged rows append to the sink."""
    from jira_cdc_git_spark.sources.registry import load_table

    hist = load_table(spark, "events", baseline_sf_dir)
    baseline = (
        hist.groupBy("user_id")
        .agg(
            F.avg("value").alias("mu"),
            F.stddev_pop("value").alias("sigma"),
        )
        .localCheckpoint()
    )

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from jira_cdc_git_spark.functions.text import round_half_up

        z = (F.col("value") - F.col("mu")) / F.col("sigma")
        _append_batch_idempotent(
            batch_df.join(baseline, "user_id")
            .filter((F.col("sigma") > 0) & (F.abs(z) > z_threshold))
            .select(
                "event_id",
                "user_id",
                "value",
                # round_half_up, same as the batch operator — bit-exact parity
                round_half_up(z, 4).alias("zscore"),
            ),
            out_dir,
            batch_id,
        )

    _drain(spark, events_dir, schema, checkpoint_dir, _score)


def lsh_match_frame(
    new_sets: DataFrame,
    corpus_sets: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Shared body of stream-static LSH near-dup: band-join NEW shingle
    sets (operators.text.shingle_sets_frame) against the STATIC corpus
    bands, then verify candidates with exact shingle-set Jaccard.
    Returns (new_doc_id, corpus_doc_id, jaccard). Used by both the
    foreachBatch twin below and its batch-parity test, so streaming and
    batch hash and verify identically."""
    from jira_cdc_git_spark.operators.text import lsh_bands_frame

    new_bands = lsh_bands_frame(new_sets)
    cand = (
        new_bands.join(corpus_bands, ["band", "band_key"])
        .select(
            new_bands["doc_id"].alias("new_doc_id"),
            F.col("corpus_doc_id"),
        )
        .distinct()
    )
    sa = new_sets.select(
        F.col("doc_id").alias("new_doc_id"), F.col("shs").alias("shs_a")
    )
    sb = corpus_sets.select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("shs").alias("shs_b")
    )
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        cand.join(sa, "new_doc_id")
        .join(sb, "corpus_doc_id")
        .withColumn(
            "jaccard",
            F.round(
                n_inter / (F.size("shs_a") + F.size("shs_b") - n_inter), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc_id", "corpus_doc_id", "jaccard")
    )


def streaming_lsh_neardup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    corpus_sf_dir: str,
    threshold: float = 0.8,
) -> None:
    """Streaming twin of neardup_pairs_lsh, stream-static flavor: as new
    documents arrive, shingle+minhash each micro-batch with the SAME
    expressions as the batch pipeline (shingle_sets_frame /
    lsh_bands_frame) and band-join it against the STATIC corpus band
    table — 'is this newly-crawled document a near-dup of anything we
    already hold', the incremental-curation gate that runs before a new
    crawl batch is admitted to the training corpus.

    The corpus sets/bands are derived once outside the stream and reused
    across micro-batches; each batch shuffles only its own band rows
    (the corpus side is a static frame AQE broadcasts when small). No
    streaming state accrues — pure stream-static join, no watermark
    (contrast streaming_exact_dedup, which dedups WITHIN the stream).
    Matches append idempotently under replay (batch_id-deterministic
    paths)."""
    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        lsh_bands_frame,
        shingle_sets_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table_spread

    # spread across cores: the shingle+minhash transforms below are the
    # static-side cost, and a one-file parquet read plans one partition
    corpus_docs = load_table_spread(spark, "documents", corpus_sf_dir, "doc_id")
    corpus_sets = materialize(shingle_sets_frame(corpus_docs))
    corpus_bands = materialize(
        lsh_bands_frame(corpus_sets).withColumnRenamed(
            "doc_id", "corpus_doc_id"
        )
    )

    def _match(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_sets = shingle_sets_frame(batch_df)
        _append_batch_idempotent(
            lsh_match_frame(new_sets, corpus_sets, corpus_bands, threshold),
            out_dir,
            batch_id,
        )

    _drain(spark, docs_dir, schema, checkpoint_dir, _match)


def admission_frame(
    batch: DataFrame,
    bench_grams: DataFrame,
    corpus_sets: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Shared body of the corpus-admission gate: one verdict row per
    candidate document, composing the two static-side checks every new
    crawl batch must clear before touching the training corpus —

      curate_frame   quality score + PII count + benchmark-contamination
                     flags (stream-static broadcast join vs bench grams)
      lsh_match_frame near-dup-vs-held-corpus (stream-static band join +
                     exact-Jaccard verify)

    admit = quality ∧ ¬contaminated ∧ ¬near_dup; rejects carry all three
    flags plus a first-match reason, so the reject table doubles as the
    curation audit (corpus_retention's posture, applied at the door).
    Used verbatim by streaming_corpus_admission and its parity test."""
    from jira_cdc_git_spark.operators.text import (
        curate_frame,
        shingle_sets_frame,
    )

    cur = curate_frame(batch, bench_grams)
    dup = (
        lsh_match_frame(
            shingle_sets_frame(batch), corpus_sets, corpus_bands, threshold
        )
        .groupBy("new_doc_id")
        .agg(F.max("jaccard").alias("max_corpus_jaccard"))
        .withColumnRenamed("new_doc_id", "doc_id")
    )
    flag_dup = F.col("max_corpus_jaccard").isNotNull()
    admit = (
        F.col("keep_quality") & ~F.col("flag_contaminated") & ~flag_dup
    )
    return (
        cur.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "quality",
            "keep_quality",
            "n_pii",
            "flag_contaminated",
            flag_dup.alias("flag_neardup"),
            "max_corpus_jaccard",
            admit.alias("admit"),
            F.when(~F.col("keep_quality"), F.lit("low_quality"))
            .when(F.col("flag_contaminated"), F.lit("contaminated"))
            .when(flag_dup, F.lit("near_dup"))
            .alias("reject_reason"),
        )
    )


def streaming_corpus_admission(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    corpus_sf_dir: str,
    bench_grams: DataFrame,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = None,
) -> None:
    """The end-to-end streaming admission pipeline for a training corpus:
    new documents stream in, each micro-batch runs the composed gate
    (admission_frame: quality + PII + decontamination + near-dup-vs-
    corpus), and two idempotent sinks record the outcome —
    ``{out_root}/verdicts`` (every candidate with flags and reason, the
    audit trail) and ``{out_root}/admitted`` (the surviving documents,
    ready for sharding/packing and ANN-index upsert).

    All static sides (benchmark grams, corpus shingle sets, corpus
    bands) are derived ONCE outside the stream; per batch the only
    shuffles are the batch's own band join and gram-hit aggregation. No
    watermark state — every check is stream-static, so replay safety is
    purely the batch_id-deterministic append paths."""
    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        lsh_bands_frame,
        shingle_sets_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table_spread

    # spread across cores: the shingle+minhash transforms below are the
    # static-side cost, and a one-file parquet read plans one partition
    corpus_docs = load_table_spread(spark, "documents", corpus_sf_dir, "doc_id")
    corpus_sets = materialize(shingle_sets_frame(corpus_docs))
    corpus_bands = materialize(
        lsh_bands_frame(corpus_sets).withColumnRenamed(
            "doc_id", "corpus_doc_id"
        )
    )
    bench_grams = materialize(bench_grams)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.localCheckpoint()
        verdicts = admission_frame(
            batch_df, bench_grams, corpus_sets, corpus_bands, threshold
        ).localCheckpoint()
        _append_batch_idempotent(verdicts, f"{out_root}/verdicts", batch_id)
        _append_batch_idempotent(
            batch_df.join(
                verdicts.filter("admit").select("doc_id"), "doc_id"
            ),
            f"{out_root}/admitted",
            batch_id,
        )

    _drain(
        spark,
        docs_dir,
        schema,
        checkpoint_dir,
        _admit,
        max_files_per_trigger=max_files_per_trigger,
    )


def admission_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable batch form of the admission gate: the documents
    table is deterministically split into CANDIDATES (doc_id % 10 == 3,
    posing as a newly-crawled batch) and the HELD CORPUS (the rest);
    candidates run through the full admission_frame verdict body —
    quality + PII + decontamination (bench grams = word 6-grams of the
    doc_id % 100 == 0 slice) + near-dup-vs-corpus. One verdict row per
    candidate, value-compared against a DuckDB replay of the identical
    algebra (the flagship composed pipeline, under the driver's
    value-hash gate)."""
    from jira_cdc_git_spark.functions import text as TXF
    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        lsh_bands_frame,
        shingle_sets_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table_spread

    docs = load_table_spread(spark, "documents", sf_dir, "doc_id")
    candidates = docs.filter(F.col("doc_id") % 10 == 3)
    corpus = docs.filter(F.col("doc_id") % 10 != 3)
    bench_grams = materialize(
        docs.filter(F.col("doc_id") % 100 == 0)
        .select(F.explode(TXF.shingles(F.col("text"), 6)).alias("gram"))
        .distinct()
    )
    corpus_sets = materialize(shingle_sets_frame(corpus))
    corpus_bands = materialize(
        lsh_bands_frame(corpus_sets).withColumnRenamed(
            "doc_id", "corpus_doc_id"
        )
    )
    return admission_frame(candidates, bench_grams, corpus_sets, corpus_bands)


def streaming_ivf_topk(
    spark: SparkSession,
    queries_dir: str,
    schema,
    checkpoint_dir: str,
    out_dir: str,
    index_path: str,
    k: int = 5,
    n_probe: int = 4,
) -> None:
    """Approximate ANN SERVING twin: a stream of query vectors answered
    from the MATERIALIZED IVF index (operators/vectors.write_ivf_index
    layout) — streaming_topk's exact full-scan replaced by the index
    discipline: per micro-batch, each query picks its n_probe clusters
    from the stored centroid table, the batch's probe-set union prunes
    the index scan at the parquet-partition level, and candidates come
    from the cluster equi-join (ivf_knn_join's shape). Idempotent
    batch_id-partitioned sink; per-query rank <= k via the partial
    WindowGroupLimit window."""
    from pyspark.sql import Window

    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.vectors import (
        cosine,
        read_ivf_centroids,
    )

    cents = materialize(read_ivf_centroids(spark, index_path))

    def _serve(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = batch_df.select(
            "query_id", F.col("embedding").alias("q_emb")
        ).localCheckpoint()
        pw = Window.partitionBy("query_id").orderBy(
            F.col("d").desc(), F.col("cent_id")
        )
        probes = (
            q.crossJoin(F.broadcast(cents))
            .withColumn("d", cosine(F.col("cent_emb"), F.col("q_emb")))
            .withColumn("pr", F.row_number().over(pw))
            .filter(F.col("pr") <= n_probe)
            .select("query_id", F.col("cent_id").alias("cluster_id"), "q_emb")
            .localCheckpoint()
        )
        touched = [
            r["cluster_id"]
            for r in probes.select("cluster_id").distinct().collect()
        ]
        idx = spark.read.parquet(index_path).filter(
            F.col("cluster_id").isin(touched)
        )
        scored = (
            idx.join(F.broadcast(probes), "cluster_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                "label",
                F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                    "cos_sim"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        _append_batch_idempotent(
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k),
            out_dir,
            batch_id,
        )

    _drain(spark, queries_dir, schema, checkpoint_dir, _serve)


def streaming_dsir_admission(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    corpus_sf_dir: str,
    target_lang: str = "en",
    min_weight: float = 0.0,
    max_files_per_trigger: int | None = None,
) -> None:
    """Online DSIR admission — the importance-resampling counterpart to
    streaming_corpus_admission: new candidate documents stream in, each
    micro-batch is scored against the DSIR model TRAINED ONCE on the held
    corpus (operators/text.dsir_histograms), and candidates whose mean
    log-likelihood ratio clears ``min_weight`` are admitted. Verdicts
    (every candidate with its weight and decision) and admitted docs land
    in idempotent batch_id-partitioned sinks, so at-least-once replay
    cannot double-admit.

    100 TB shape: the trained model is two bounded frames (1024-bucket
    histogram + 1-row totals) materialized before the stream starts and
    broadcast into every batch; per batch the only shuffle is the
    batch's own doc_id partial agg. No watermark state — scoring is
    stream-static."""
    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        dsir_histograms,
        dsir_score_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table_spread

    corpus_docs = load_table_spread(spark, "documents", corpus_sf_dir, "doc_id")
    hist, totals = dsir_histograms(corpus_docs, target_lang)
    hist = materialize(hist)
    totals = materialize(totals)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.localCheckpoint()
        verdicts = (
            dsir_score_frame(batch_df, hist, totals)
            .select(
                "doc_id",
                "n_feats",
                "weight",
                (F.col("weight") >= min_weight).alias("admit"),
            )
            .localCheckpoint()
        )
        _append_batch_idempotent(verdicts, f"{out_root}/verdicts", batch_id)
        _append_batch_idempotent(
            batch_df.join(verdicts.filter("admit").select("doc_id"), "doc_id"),
            f"{out_root}/admitted",
            batch_id,
        )

    _drain(
        spark,
        docs_dir,
        schema,
        checkpoint_dir,
        _admit,
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_mad_anomalies(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    corpus_sf_dir: str,
    cutoff: float = 3.5,
    max_files_per_trigger: int | None = None,
) -> None:
    """Online robust anomaly detection — the stream-static twin of
    operators/timeseries.mad_anomalies: median/MAD thresholds are
    trained ONCE on the held events corpus (exact percentiles over
    bounded event-type groups), then every arriving micro-batch scores
    against the broadcast threshold frame and rows with |modified z| >
    cutoff land in the anomalies sink. Verdicts (every scored row) and
    anomalies write through batch_id-partitioned idempotent sinks, so
    at-least-once replay cannot double-flag.

    100 TB shape: the model is an |event_types|-row frame materialized
    before the stream starts; per batch the only work is one broadcast
    join + narrow expressions — no watermark state, no shuffle of
    anything but the batch itself."""
    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.timeseries import (
        mad_score_frame,
        mad_thresholds,
    )
    from jira_cdc_git_spark.sources.registry import load_table

    thresholds = materialize(
        mad_thresholds(load_table(spark, "events", corpus_sf_dir))
    )

    def _flag(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = (
            mad_score_frame(batch_df.localCheckpoint(), thresholds)
            .withColumn("is_anomaly", F.abs(F.col("robust_z")) > cutoff)
            .localCheckpoint()
        )
        _append_batch_idempotent(scored, f"{out_root}/verdicts", batch_id)
        _append_batch_idempotent(
            scored.filter("is_anomaly").drop("is_anomaly"),
            f"{out_root}/anomalies",
            batch_id,
        )

    _drain(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        _flag,
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_cusum(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    corpus_sf_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.cusum_changepoints — a
    genuinely STATEFUL detector (unlike the stateless MAD twin): the
    per-type CUSUM prefix sum and its running minimum carry across
    micro-batches in a tiny state table.

    Model: (mu, sigma) per event type trains ONCE on the held corpus
    (the MAD-twin discipline) from exact integer moment sums. Per
    batch: aggregate the batch's (type, hour) counts, merge the
    carried OPEN-hour partial (so a batch boundary may split an hour
    anywhere — watermark-style hour-close semantics), finalize every
    hour strictly before each type's newest hour, emit its exact
    integer-unit CUSUM row, and carry forward {c_u, floor_u, newest
    hour's partial count}. Emissions go to batch_id-partitioned
    idempotent sinks; the state swap follows ``_drain_stateful``.

    Parity: the emitted rows equal the batch operator's output
    restricted to each type's closed hours, REGARDLESS of how the feed
    was chunked — asserted by the batch-parity test. Assumption (the
    standard watermark one): ingestion is hour-monotone — a batch never
    delivers an hour older than one already closed; late data past the
    close belongs to a dead-letter path, exactly as with a Structured
    Streaming watermark.

    100 TB shape: per batch one (type, hour) partial agg over the batch
    only, a broadcast join against a |types|-row state frame, one
    window over |types| x |hours-in-batch| rows; history is never
    re-read."""
    from jira_cdc_git_spark.functions.text import round_half_up as _rhu
    from jira_cdc_git_spark.operators.timeseries import (
        CUSUM_H,
        CUSUM_K,
        CUSUM_UNIT,
    )
    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.sources.registry import load_table

    hourly_corpus = (
        load_table(spark, "events", corpus_sf_dir)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    model = materialize(
        hourly_corpus.groupBy("event_type").agg(
            F.sum("n").alias("s1"),
            F.sum(F.col("n") * F.col("n")).alias("s2"),
            F.count("*").alias("cnt"),
        )
    )

    def _fold(batch_df: DataFrame, batch_id: int, carried: DataFrame):
        batch_hourly = (
            batch_df.groupBy(
                "event_type",
                F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            )
            .agg(F.count("*").cast("long").alias("n"))
        )
        pending = carried.filter(F.col("pending_hour").isNotNull()).select(
            "event_type",
            F.col("pending_hour").alias("hour_ts"),
            F.col("pending_n").alias("n"),
        )
        merged = materialize(
            batch_hourly.unionByName(pending)
            .groupBy("event_type", "hour_ts")
            .agg(F.sum("n").cast("long").alias("n"))
        )
        carry = carried.select("event_type", "c_u", "floor_u")
        newest = merged.groupBy("event_type").agg(
            F.max("hour_ts").alias("newest_hour")
        )
        mu = F.col("s1") / F.col("cnt")
        sigma = F.sqrt(F.col("s2") / F.col("cnt") - mu * mu)
        scored = (
            merged.join(F.broadcast(newest), "event_type")
            .join(F.broadcast(model), "event_type")
            .join(F.broadcast(carry), "event_type", "left")
            .withColumn("c_u0", F.coalesce("c_u", F.lit(0).cast("long")))
            .withColumn("floor_u0", F.coalesce("floor_u", F.lit(0).cast("long")))
            .drop("c_u", "floor_u")
        )
        closed = scored.filter(F.col("hour_ts") < F.col("newest_hour"))
        w = (
            Window.partitionBy("event_type")
            .orderBy("hour_ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        zk_u = F.floor(
            ((F.col("n") - mu) / sigma - F.lit(CUSUM_K))
            * F.lit(float(CUSUM_UNIT))
        ).cast("long")
        finalized = materialize(
            closed.withColumn("zk_u", zk_u)
            .withColumn("c_abs", F.col("c_u0") + F.sum("zk_u").over(w))
            .withColumn(
                "floor_abs",
                F.least(F.col("floor_u0"), F.min("c_abs").over(w)),
            )
            .select(
                "event_type",
                "hour_ts",
                "n",
                F.col("c_abs").alias("c_u"),
                F.col("floor_abs").alias("floor_u"),
            )
        )
        emit = finalized.select(
            "event_type",
            "hour_ts",
            "n",
            _rhu(
                (F.col("c_u") - F.col("floor_u")) / F.lit(float(CUSUM_UNIT)), 6
            ).alias("cusum"),
            (
                (F.col("c_u") - F.col("floor_u"))
                > F.lit(int(CUSUM_H * CUSUM_UNIT)).cast("long")
            ).alias("is_changepoint"),
        )
        _append_batch_idempotent(emit, f"{out_root}/cusum", batch_id)
        _append_batch_idempotent(
            emit.filter("is_changepoint"), f"{out_root}/alarms", batch_id
        )
        # new state: per type the last finalized (c_u, floor_u) — or the
        # carried one when this batch closed nothing — plus the newest
        # hour's still-open partial
        w_last = Window.partitionBy("event_type").orderBy(F.desc("hour_ts"))
        last_fin = (
            finalized.withColumn("rn", F.row_number().over(w_last))
            .filter(F.col("rn") == 1)
            .select("event_type", "c_u", "floor_u")
        )
        open_part = (
            scored.filter(F.col("hour_ts") == F.col("newest_hour"))
            .groupBy("event_type")
            .agg(
                F.max("hour_ts").alias("pending_hour"),
                F.sum("n").cast("long").alias("pending_n"),
                F.first("c_u0").alias("c_u0"),
                F.first("floor_u0").alias("floor_u0"),
            )
        )
        return open_part.join(last_fin, "event_type", "left").select(
            "event_type",
            F.coalesce("c_u", "c_u0").alias("c_u"),
            F.coalesce("floor_u", "floor_u0").alias("floor_u"),
            "pending_hour",
            "pending_n",
        )

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/cusum_state": (
                "event_type string, c_u long, floor_u long, "
                "pending_hour timestamp, pending_n long"
            )
        },
        fold=_fold,
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_debounce(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    debounce_s: int | None = None,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.debounced_events — the
    admission form: an arriving event is kept unless the same user
    fired the same type within debounce_s seconds BEFORE it. Stateful
    like streaming_cusum: the per-(user, type) last-seen timestamp
    carries across micro-batches in a compact state table (the
    reference's CDC loop keeps per-issue updated watermarks in exactly
    this shape — pkg/state; this is the event-grain analog).

    Same batch-operator semantics (the one-pass lag form): the window
    anchors on the previous RAW event, kept or not, so a burst's second
    and third hits are both suppressed by their immediate predecessor.
    Emissions go to batch_id-partitioned sinks; the state swap follows
    ``_drain_stateful``. Assumes per-(user, type) monotone arrival order
    across batches (the hour-monotone watermark assumption, one key
    finer).

    100 TB shape: per batch one (user, type)-key window over the batch
    plus a join against the |users x types|-bounded state table; the
    sinks are append-only."""
    from jira_cdc_git_spark.operators.timeseries import DEBOUNCE_S

    if debounce_s is None:
        debounce_s = DEBOUNCE_S

    def _fold(batch_df: DataFrame, batch_id: int, carry: DataFrame):
        batch = batch_df.localCheckpoint()
        w = Window.partitionBy("user_id", "event_type").orderBy(
            "ts", "event_id"
        )
        tsl = F.col("ts").cast("long")
        flagged = (
            batch.join(F.broadcast(carry), ["user_id", "event_type"], "left")
            .withColumn("prev_in_batch", F.lag(tsl).over(w))
            .withColumn(
                "prev_ts", F.coalesce("prev_in_batch", "last_ts")
            )
            .withColumn(
                "kept",
                F.col("prev_ts").isNull()
                | ((tsl - F.col("prev_ts")) > F.lit(debounce_s)),
            )
            .drop("prev_in_batch", "last_ts")
        )
        flagged = flagged.localCheckpoint()
        _append_batch_idempotent(
            flagged.drop("prev_ts"), f"{out_root}/verdicts", batch_id
        )
        _append_batch_idempotent(
            flagged.filter("kept").drop("kept", "prev_ts"),
            f"{out_root}/admitted",
            batch_id,
        )
        new_last = (
            flagged.groupBy("user_id", "event_type")
            .agg(F.max(tsl).alias("last_ts"))
        )
        return (
            carry.unionByName(new_last)
            .groupBy("user_id", "event_type")
            .agg(F.max("last_ts").alias("last_ts"))
        )

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/debounce_state": (
                "user_id long, event_type string, last_ts long"
            )
        },
        fold=_fold,
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_rolling_median(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    window_rows: int = 7,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.rolling_daily_median — the
    third GENUINELY STATEFUL twin (with streaming_cusum and
    streaming_debounce): per-(type, day) cents totals accumulate across
    micro-batches in the swapped state table; a day FINALIZES under the
    day-close watermark (a newer day for the same type has arrived),
    at which point its exact 7-row windowed median — over totals that
    may have been assembled across MANY batch boundaries — emits once.
    Chunk boundaries may split a day anywhere; batch parity holds
    exactly (test_streaming_multimodal) for feeds that are day-ordered
    PER TYPE. Rows arriving for a day whose median already emitted are
    LATE (below the day-close watermark) and are DROPPED — emitted
    output and carried state stay mutually consistent; they are never
    retro-revised (r7 ADVICE: previously such rows silently revised
    state that emitted medians no longer reflected).

    100 TB shape: per batch one partial agg to |types × batch-days|
    rows, a merge against the |types × days|-bounded state table, and
    windows over that state table only — never over raw events."""
    from jira_cdc_git_spark.functions.text import round_half_up as _r

    def _fold(batch_df: DataFrame, batch_id: int, carry: DataFrame):
        batch = batch_df.localCheckpoint()
        bagg = (
            batch.groupBy(
                "event_type", F.date_trunc("DAY", F.col("ts")).alias("day")
            )
            .agg(
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("long")
                ).alias("cents")
            )
            .withColumn("emitted", F.lit(False))
        )
        # Watermark semantics for out-of-order feeds (r7 ADVICE): a row
        # landing on a day whose median already emitted is LATE — its
        # day is below the per-type day-close watermark. Merging it
        # would silently revise state the emitted median no longer
        # reflects, and every later window would disagree with what was
        # published. Drop such contributions (the standard
        # beyond-watermark policy), so state stays exactly the totals
        # the emitted medians were computed from. In-order feeds are
        # unaffected (no late rows exist); the anti-join's right side is
        # the |types x emitted days|-bounded state slice, broadcast.
        emitted_days = carry.filter("emitted").select("event_type", "day")
        fresh = bagg.join(
            F.broadcast(emitted_days), ["event_type", "day"], "left_anti"
        )
        merged = (
            carry.unionByName(fresh)
            .groupBy("event_type", "day")
            .agg(
                F.sum("cents").alias("cents"),
                F.max("emitted").alias("emitted"),
            )
            .localCheckpoint()
        )
        newest = merged.groupBy("event_type").agg(F.max("day").alias("mx"))
        w = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(-(window_rows - 1), 0)
        )
        scored = merged.select(
            "event_type",
            "day",
            "emitted",
            _r(F.col("cents") / 100.0, 2).alias("day_value"),
            _r(
                F.expr("percentile(cents, 0.5D)").over(w) / 100.0, 2
            ).alias("rolling_median"),
        )
        to_emit = (
            scored.join(F.broadcast(newest), "event_type")
            .filter((F.col("day") < F.col("mx")) & ~F.col("emitted"))
            .select("event_type", "day", "day_value", "rolling_median")
        ).localCheckpoint()
        _append_batch_idempotent(to_emit, f"{out_root}/medians", batch_id)
        closed = to_emit.select("event_type", "day").withColumn(
            "now_emitted", F.lit(True)
        )
        return merged.join(closed, ["event_type", "day"], "left").select(
            "event_type",
            "day",
            "cents",
            (F.col("emitted") | F.coalesce("now_emitted", F.lit(False))
             ).alias("emitted"),
        )

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/median_state": (
                "event_type string, day timestamp, cents long, emitted boolean"
            )
        },
        fold=_fold,
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_transition_entropy(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.session_transition_entropy
    — the FOURTH genuinely stateful twin: the (from_type, to_type) pair
    counts are maintained INCREMENTALLY (counts are abelian — the IVM
    fold), but extracting pairs across batch boundaries needs per-user
    memory: each user's LAST event carries in state so the boundary
    pair (carried_last → first event of the next batch) is never lost,
    no matter where the chunk cut lands. Assumes ts-ordered arrival per
    user (the debounce/cusum posture).

    ONE state table holds both kinds of rows ('last' per user, 'pair'
    per type-pair) so they commit as a single atomic swap — no torn
    state between two tables on a crash. The entropy snapshot derives
    from committed state through the SAME entropy_from_pairs projection
    the batch operator uses.

    100 TB shape: per batch one window over batch∪|users| carried rows,
    one |types|²-bounded delta agg, one merge against the |users| +
    |types|² state — history is never re-read."""
    from jira_cdc_git_spark.operators.timeseries import entropy_from_pairs

    def _fold(batch_df: DataFrame, batch_id: int, carried: DataFrame):
        batch = batch_df.select(
            "user_id", "event_type", "ts", "event_id"
        ).localCheckpoint()
        carry_last = carried.filter(F.col("kind") == "last").select(
            "user_id",
            F.col("last_type").alias("event_type"),
            "ts",
            "event_id",
        )
        carry_pairs = carried.filter(F.col("kind") == "pair").select(
            "from_type", "to_type", "n"
        )
        seq = carry_last.unionByName(batch)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        delta = (
            seq.withColumn("next_type", F.lead("event_type").over(w))
            .filter(F.col("next_type").isNotNull())
            .groupBy(
                F.col("event_type").alias("from_type"),
                F.col("next_type").alias("to_type"),
            )
            .agg(F.count("*").cast("long").alias("n"))
        )
        new_pairs = (
            carry_pairs.unionByName(delta)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n").alias("n"))
        )
        lw = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        new_last = (
            seq.withColumn("rn", F.row_number().over(lw))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "ts", "event_id")
        )
        return new_last.select(
            F.lit("last").alias("kind"),
            "user_id",
            F.col("event_type").alias("last_type"),
            "ts",
            "event_id",
            F.lit(None).cast("string").alias("from_type"),
            F.lit(None).cast("string").alias("to_type"),
            F.lit(None).cast("long").alias("n"),
        ).unionByName(
            new_pairs.select(
                F.lit("pair").alias("kind"),
                F.lit(None).cast("long").alias("user_id"),
                F.lit(None).cast("string").alias("last_type"),
                F.lit(None).cast("timestamp").alias("ts"),
                F.lit(None).cast("long").alias("event_id"),
                "from_type",
                "to_type",
                "n",
            )
        )

    def _entropy(committed: DataFrame) -> DataFrame:
        return entropy_from_pairs(
            committed.filter(F.col("kind") == "pair").select(
                "from_type", "to_type", "n"
            )
        )

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/entropy_state": (
                "kind string, user_id long, last_type string, ts timestamp,"
                " event_id long, from_type string, to_type string, n long"
            )
        },
        fold=_fold,
        snapshots={f"{out_root}/entropy": _entropy},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_autocorrelation(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.autocorrelation_report —
    the FIFTH genuinely stateful twin (r8 verdict task 8), following the
    streaming_transition_entropy IVM pattern: the per-(event_type, hour)
    count series is the carried state (abelian partials — a batch folds
    in with one merge-sum, history is never re-read); the ACF snapshot
    derives from committed state through the SAME acf_from_hourly
    projection the batch operator uses, so stream and batch agree by
    construction.

    Because hourly counts are pure abelian sums, batch parity holds for
    ANY chunking — mid-hour cuts, out-of-order arrival, and LATE rows
    for hours that already emitted all fold to the same totals (stronger
    than the day-close twins, which must finalize units): a late row
    simply re-lifts its hour's count and the next snapshot reflects it,
    exactly as a batch-operator re-run would.

    100 TB shape: per batch one |types|×|hours-in-batch| delta agg + one
    merge against the |types|×|hours| state table; the ACF projection
    runs over the bounded series, never the raw events."""
    from jira_cdc_git_spark.operators.timeseries import acf_from_hourly

    def _fold(batch_df: DataFrame, batch_id: int, series: DataFrame):
        delta = batch_df.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        ).agg(F.count("*").cast("long").alias("n"))
        return (
            series.unionByName(delta)
            .groupBy("event_type", "hour_ts")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/acf_state": "event_type string, hour_ts timestamp, n long"
        },
        fold=_fold,
        snapshots={f"{out_root}/acf": acf_from_hourly},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_benford(
    spark: SparkSession,
    orders_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/relational.benford_deviation_report —
    the SIXTH genuinely stateful twin, and the simplest possible IVM
    state: per-leading-digit counts are pure abelian sums, so a batch
    folds in with one 9-row merge and parity holds for ANY chunking,
    ordering, or lateness (no per-key carry, no unit finalization). The
    report snapshot derives from the committed (digit, n) state through
    the batch operator's own benford_from_digit_counts projection, so
    the streaming audit equals the batch audit by construction. The
    continuous-ingest form of the fraud monitor: the chi-square
    statistic updates as orders arrive, without ever rescanning history.

    100 TB shape: per batch one 9-group partial agg over the batch and
    one 9-row state merge — state is O(9) forever."""
    from jira_cdc_git_spark.operators.relational import (
        benford_from_digit_counts,
    )

    def _fold(batch_df: DataFrame, batch_id: int, counts: DataFrame):
        digit = F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).cast("int")
        delta = (
            batch_df.filter(F.col("o_totalprice") >= 1.0)
            .select(digit.alias("digit"))
            .groupBy("digit")
            .agg(F.count("*").cast("long").alias("n"))
        )
        return (
            counts.unionByName(delta)
            .groupBy("digit")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    _drain_stateful(
        spark,
        orders_dir,
        schema,
        checkpoint_dir,
        states={f"{out_root}/benford_state": "digit int, n long"},
        fold=_fold,
        snapshots={f"{out_root}/benford": benford_from_digit_counts},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_gap_fill_locf(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.gap_fill_locf — the
    SEVENTH genuinely stateful twin: the carried state is each (user,
    hour)'s LAST observation, maintained as a struct-max over
    (ts, event_id, value). Struct-max is ABELIAN (max of maxes), so a
    batch folds in with one merge and parity holds for ANY chunking —
    mid-hour cuts, out-of-order arrival, and late rows all resolve to
    the same per-hour winner a batch re-run would pick. The dense
    filled-grid snapshot derives from committed state through the batch
    operator's own locf_from_hourly projection (lead + explode — the r9
    observation-shuffle shape).

    100 TB shape: per batch one (user, hour) struct-max delta agg + one
    merge against observation-sized state; the dense grid exists only
    inside the snapshot's final projection, exactly as in batch."""
    from jira_cdc_git_spark.operators.timeseries import locf_from_hourly

    def _last_obs(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id", "hour_ts")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("w"))
            .select("user_id", "hour_ts", "w.ts", "w.event_id", "w.value")
        )

    def _fold(batch_df: DataFrame, batch_id: int, obs: DataFrame):
        delta = _last_obs(
            batch_df.select(
                "user_id",
                F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
                "ts",
                "event_id",
                "value",
            )
        )
        return _last_obs(obs.unionByName(delta))

    def _grid(committed: DataFrame) -> DataFrame:
        return locf_from_hourly(
            committed.select(
                "user_id", "hour_ts", F.col("value").alias("obs_value")
            )
        )

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/locf_state": (
                "user_id long, hour_ts timestamp, ts timestamp, "
                "event_id long, value double"
            )
        },
        fold=_fold,
        snapshots={f"{out_root}/locf": _grid},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_hill_tail(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/text.hill_tail_index — the EIGHTH
    genuinely stateful twin, and the first whose state is a MERGEABLE
    ORDER STATISTIC: each language carries only its top-(k+1) document
    lengths by (n_chars desc, doc_id). Top-k is abelian under
    union-then-trim (merge two top-k sets, keep the top k — the same
    mergeability the bottom-k quantile sketch exploits), so a batch
    folds in with one window over (state ∪ batch-top-k) and parity
    holds for ANY chunking, ordering, or lateness: a late monster doc
    simply re-enters the top set exactly as a batch re-run would place
    it. State is O(|langs|·(k+1)) forever — the smallest per-key state
    of any twin. The snapshot derives from committed state through the
    batch operator's own estimate projection (hill_from_top —
    nano-rounded log terms), so stream == batch by construction.

    100 TB shape: per batch one per-lang top-(k+1) selection over the
    BATCH only (TakeOrderedAndProject-scale), one merge window over the
    bounded state frame; history is never re-read."""
    from jira_cdc_git_spark.operators.text import HILL_K, hill_from_top

    def _top(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("lang").orderBy(
            F.col("n_chars").desc(), F.col("doc_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= HILL_K + 1)
            .select("lang", "n_chars", "doc_id")
        )

    def _fold(batch_df: DataFrame, batch_id: int, top: DataFrame):
        return _top(
            top.unionByName(_top(batch_df)).dropDuplicates(["lang", "doc_id"])
        )

    _drain_stateful(
        spark,
        docs_dir,
        schema,
        checkpoint_dir,
        states={f"{out_root}/hill_state": "lang string, n_chars long, doc_id long"},
        fold=_fold,
        snapshots={f"{out_root}/hill": hill_from_top},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_length_drift(
    spark: SparkSession,
    docs_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/text.length_drift_by_source — the
    NINTH genuinely stateful twin: the carried state is the
    (source, n_chars) count histogram, pure abelian sums (a batch folds
    in with one merge, parity holds for ANY chunking/ordering/lateness
    — the streaming_benford state shape, keyed two deep). The KS
    snapshot derives from committed state through the batch operator's
    own drift_from_length_counts projection, so the continuous drift
    monitor equals the batch audit by construction: a feed that starts
    truncating documents mid-stream moves its D statistic on the very
    next micro-batch. The SAME committed histogram feeds the second
    drift monitor: W1 is just another projection of the state, so the
    continuous KS and earth-mover monitors can never disagree about the
    data.

    100 TB shape: per batch one (source, length) delta agg over the
    batch, one merge against the value-domain-bounded state histogram
    (|sources| x |distinct lengths| — never doc-scale); the ECDF grid
    work lives entirely in the snapshot projection."""
    from jira_cdc_git_spark.operators.text import (
        drift_from_length_counts,
        wasserstein_from_length_counts,
    )

    def _fold(batch_df: DataFrame, batch_id: int, hist: DataFrame):
        delta = batch_df.groupBy(
            "source", F.col("n_chars").alias("v")
        ).agg(F.count("*").cast("long").alias("c"))
        return (
            hist.unionByName(delta)
            .groupBy("source", "v")
            .agg(F.sum("c").cast("long").alias("c"))
        )

    _drain_stateful(
        spark,
        docs_dir,
        schema,
        checkpoint_dir,
        states={f"{out_root}/lendrift_state": "source string, v long, c long"},
        fold=_fold,
        snapshots={
            f"{out_root}/lendrift": drift_from_length_counts,
            f"{out_root}/w1drift": wasserstein_from_length_counts,
        },
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_association_rules(
    spark: SparkSession,
    events_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/timeseries.event_association_rules —
    the TENTH genuinely stateful twin: the carried state is the
    DISTINCT (user_id, event_type) basket table itself. Set union is
    abelian and idempotent, so a batch folds in with one
    union-and-distinct and parity holds for ANY chunking, ordering,
    lateness, or replay (a duplicate delivery adds nothing by
    definition of a set). The support/confidence/lift snapshot derives
    from committed state through the batch operator's own
    rules_from_baskets projection.

    100 TB shape: per batch one distinct over the batch, one merge
    against basket-bounded state (|users|·|types| worst case — the
    basket table, never the event log); the pair fan-out lives in the
    snapshot projection with per-user |types|²-bounded fanout."""
    from jira_cdc_git_spark.operators.timeseries import rules_from_baskets

    def _fold(batch_df: DataFrame, batch_id: int, baskets: DataFrame):
        batch = batch_df.select("user_id", "event_type").distinct()
        return baskets.unionByName(batch).distinct()

    _drain_stateful(
        spark,
        events_dir,
        schema,
        checkpoint_dir,
        states={f"{out_root}/rules_state": "user_id long, event_type string"},
        fold=_fold,
        snapshots={f"{out_root}/rules": rules_from_baskets},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_spearman(
    spark: SparkSession,
    lineitem_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    orders_sf_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/relational.spearman_corr_report —
    the ELEVENTH genuinely stateful twin, closing the statistics family
    (r10 verdict task 7): lineitem chunks stream in, the carried state
    is the per-orderkey ITEM COUNT table. Counts are pure abelian sums,
    so an order whose line items are split across ANY chunk boundary —
    mid-order cuts, out-of-order arrival, late lines for orders that
    already emitted — folds to the same totals a batch re-run would
    compute. The correlation snapshot derives from committed state
    joined against the static orders dimension, through the batch
    operator's own spearman_from_pairs projection (whose value-HISTOGRAM
    rank path is exactly what makes this twin cheap: ranks derive from
    the count state, never from re-sorted history).

    100 TB shape: per batch one orderkey-group delta agg + one merge
    against |orders|-bounded state; the snapshot's rank windows run
    over |distinct values|, never rows."""
    from jira_cdc_git_spark.operators.relational import spearman_from_pairs
    from jira_cdc_git_spark.sources.registry import load_table

    cents_by_order = load_table(spark, "orders", orders_sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def _fold(batch_df: DataFrame, batch_id: int, items: DataFrame):
        delta = batch_df.groupBy("l_orderkey").agg(
            F.count("*").cast("long").alias("n_items")
        )
        return (
            items.unionByName(delta)
            .groupBy("l_orderkey")
            .agg(F.sum("n_items").cast("long").alias("n_items"))
        )

    def _corr(committed: DataFrame) -> DataFrame:
        return spearman_from_pairs(committed.join(cents_by_order, "l_orderkey"))

    _drain_stateful(
        spark,
        lineitem_dir,
        schema,
        checkpoint_dir,
        states={f"{out_root}/spearman_state": "l_orderkey long, n_items long"},
        fold=_fold,
        snapshots={f"{out_root}/spearman": _corr},
        max_files_per_trigger=max_files_per_trigger,
    )


def streaming_bm25_topk(
    spark: SparkSession,
    documents_dir: str,
    schema,
    checkpoint_dir: str,
    out_root: str,
    query: str | None = None,
    k: int = 20,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Streaming twin of operators/text.bm25_topk — the TWELFTH
    genuinely stateful twin, the continuous-ingest form of corpus
    search: document chunks stream in and TWO state tables carry the
    index — the query-term POSTING list (doc_id, dl, tok, tf) and the
    1-row corpus totals (n_docs, total_dl) that define idf and avgdl.
    Both are pure abelian sums, so any chunking or arrival order folds
    to the same index a batch build would produce. Each state dir
    commits on its own (a crash between the two swaps re-folds the
    batch ONLY into the dir that missed it). The ranking snapshot
    derives from committed state through the batch operator's own
    bm25_score_topk projection, so stream and batch rankings agree by
    construction — scores included, since avgdl derives from the same
    exact integer sums.

    100 TB shape: per batch one query-term-filtered posting agg (the
    explode filters to |query| terms BEFORE any shuffle) + one merge
    against match-bounded state; the snapshot rides the posting-scoped
    scorer, never the corpus."""
    from jira_cdc_git_spark.functions import text as TXF
    from jira_cdc_git_spark.operators.text import BM25_QUERY, bm25_score_topk

    query = query or BM25_QUERY
    terms = sorted(set(query.split()))

    def _fold(
        batch_df: DataFrame, batch_id: int, postings: DataFrame, totals: DataFrame
    ):
        batch = batch_df.select(
            "doc_id", TXF.tokens(F.col("text")).alias("toks")
        ).localCheckpoint()
        delta = (
            batch.select(
                "doc_id",
                F.size("toks").cast("long").alias("dl"),
                F.explode("toks").alias("tok"),
            )
            .filter(F.col("tok").isin(terms))
            .groupBy("doc_id", "dl", "tok")
            .agg(F.count("*").cast("long").alias("tf"))
        )
        new_postings = (
            postings.unionByName(delta)
            .groupBy("doc_id", "dl", "tok")
            .agg(F.sum("tf").cast("long").alias("tf"))
        )
        delta_totals = batch.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size("toks")).cast("long").alias("total_dl"),
        )
        new_totals = totals.unionByName(delta_totals).agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
        return new_postings, new_totals

    def _ranking(postings: DataFrame, totals: DataFrame) -> DataFrame:
        stats = totals.select(
            F.col("n_docs").cast("double").alias("n_docs"),
            (F.col("total_dl") / F.col("n_docs")).alias("avgdl"),
        )
        return bm25_score_topk(postings, stats, k)

    _drain_stateful(
        spark,
        documents_dir,
        schema,
        checkpoint_dir,
        states={
            f"{out_root}/bm25_postings": "doc_id long, dl long, tok string, tf long",
            f"{out_root}/bm25_totals": "n_docs long, total_dl long",
        },
        fold=_fold,
        snapshots={f"{out_root}/bm25": _ranking},
        max_files_per_trigger=max_files_per_trigger,
    )

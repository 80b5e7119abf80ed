"""Structured Streaming pipeline and multimodal-column tests."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from jira_cdc_git_spark import fixtures as FX
from jira_cdc_git_spark import sinks
from jira_cdc_git_spark.operators import multimodal as MM
from jira_cdc_git_spark.state import SyncStateStore
from jira_cdc_git_spark.streaming import pipeline as SP


@pytest.fixture(scope="module")
def change_feed(spark, sf_dir, tmp_path_factory):
    """Two micro-batch files: a base snapshot, then updates to 20 issues
    (strictly newer `updated`) plus 5 duplicate deliveries."""
    root = tmp_path_factory.mktemp("feed")
    feed_dir = str(root / "changes")
    base = FX.issues(spark, sf_dir).limit(100).cache()
    base.count()
    base.coalesce(1).write.mode("append").parquet(feed_dir)
    updates = (
        base.filter(F.col("key").rlike("0$"))
        .withColumn("updated", F.lit(datetime(2031, 6, 1)))
    )
    dups = base.filter(F.col("key").rlike("1$")).limit(5)  # replay, same ts
    updates.unionByName(dups).coalesce(1).write.mode("append").parquet(feed_dir)
    return feed_dir, base, updates.count()


def test_available_now_stream_end_to_end(spark, change_feed, tmp_path):
    feed_dir, base, n_updates = change_feed
    store = SyncStateStore(str(tmp_path / "state"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    SP.run_incremental_stream(
        spark, feed_dir, base.schema, store, out, ckpt, now=datetime(2032, 1, 1)
    )
    st = store.load(spark)
    assert st.count() == base.count()
    latest = sinks.latest_issues(spark, f"{out}/issues")
    assert latest.count() == base.count()
    assert (
        latest.filter(F.col("updated") == datetime(2031, 6, 1)).count()
        == n_updates
    )
    # restart with same checkpoint: nothing new to process, outputs stable
    raw_before = spark.read.parquet(f"{out}/issues").count()
    SP.run_incremental_stream(
        spark, feed_dir, base.schema, store, out, ckpt, now=datetime(2032, 1, 2)
    )
    assert spark.read.parquet(f"{out}/issues").count() == raw_before


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    from jira_cdc_git_spark.operators.timeseries import tumbling_hourly
    from jira_cdc_git_spark.sources.registry import load_table

    events_dir = str(tmp_path / "events_feed")
    ev = load_table(spark, "events", sf_dir)
    ev.write.parquet(events_dir)
    out = str(tmp_path / "agg_out")
    SP.streaming_tumbling_hourly(
        spark, events_dir, ev.schema, str(tmp_path / "ck2"), out,
        watermark="0 seconds",
    )
    got = spark.read.parquet(out)
    want = tumbling_hourly(spark, sf_dir)
    # append mode emits only watermark-closed windows; with watermark 0 and
    # a drained AvailableNow run, the final window may be withheld
    missing = want.join(got, ["hour_ts", "event_type"], "left_anti").count()
    assert got.count() >= want.count() - 5
    mismatched = (
        got.join(want, ["hour_ts", "event_type"])
        .filter(
            (got["n"] != want["n"]) | (got["total_value"] != want["total_value"])
        )
        .count()
    )
    assert mismatched == 0 and missing <= 5


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions CLOSED by a later event
    in the same run are emitted; each user's open tail stays in state."""
    from datetime import timedelta

    t0 = datetime(2030, 1, 1, 8, 0, 0)
    rows = []
    # user 1: two sessions (3 events, 70-min gap, 2 events)
    for m in (0, 5, 10):
        rows.append((1, t0 + timedelta(minutes=m), 1.0))
    for m in (80, 85):
        rows.append((1, t0 + timedelta(minutes=m), 2.0))
    # user 2: one session only (never closed -> not emitted)
    for m in (0, 20):
        rows.append((2, t0 + timedelta(minutes=m), 5.0))
    feed = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    events_dir = str(tmp_path / "events")
    feed.coalesce(1).write.parquet(events_dir)

    out_dir = str(tmp_path / "sessions")
    SP.streaming_sessionize(
        spark,
        events_dir,
        "user_id long, ts timestamp, value double",
        str(tmp_path / "ckpt"),
        out_dir,
    )
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1
    s = got[0]
    assert s["user_id"] == 1
    assert s["n_events"] == 3
    assert s["total_value"] == 3.0
    assert s["session_start"] == t0
    assert s["session_end"] == t0 + timedelta(minutes=10)


def test_media_table_shape(spark, sf_dir):
    m = MM.media_table(spark, sf_dir)
    assert dict(m.dtypes)["content"] == "binary"
    assert m.count() == 500
    mods = {r["modality"] for r in m.select("modality").distinct().collect()}
    assert mods == {"image", "audio", "video"}
    r = m.filter(F.col("meta.n_bytes") <= 0).count()
    assert r == 0


def test_decode_image_deterministic(spark, sf_dir):
    d1 = MM.decode_image(spark, sf_dir).orderBy("media_id").collect()
    d2 = MM.decode_image(spark, sf_dir).orderBy("media_id").collect()
    assert d1 == d2
    assert all(r["decode_ok"] for r in d1)
    assert all(16 <= r["width"] <= 255 and 1 <= r["n_channels"] <= 4 for r in d1)
    assert d1[0]["decoder"] == "fake-deterministic"


def test_frame_sample_fanout(spark, sf_dir):
    media = MM.media_table(spark, sf_dir).filter(F.col("modality") == "video")
    frames = MM.frame_sample(spark, sf_dir)
    assert frames.count() >= media.count()  # ≥1 frame per video
    per = frames.groupBy("media_id").agg(F.count("*").alias("n"))
    assert per.filter(F.col("n") < 1).count() == 0
    # frame indices are dense from 0
    mins = per.join(
        frames.groupBy("media_id").agg(F.min("frame_idx").alias("m")), "media_id"
    )
    assert mins.filter(F.col("m") != 0).count() == 0


def test_streaming_topk_stream_static_join(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F2

    from jira_cdc_git_spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    queries = (
        emb.filter(F2.col("vec_id") < 3)
        .select(F2.col("vec_id").alias("query_id"), "embedding")
    )
    qdir = str(tmp_path / "queries")
    queries.coalesce(1).write.parquet(qdir)
    out_dir = str(tmp_path / "topk")
    SP.streaming_topk(
        spark,
        qdir,
        queries.schema,
        str(tmp_path / "ckpt"),
        out_dir,
        sf_dir,
        k=5,
    )
    got = spark.read.parquet(out_dir)
    assert got.select("query_id").distinct().count() == 3
    per_q = {r["query_id"]: r["count"] for r in got.groupBy("query_id").count().collect()}
    assert all(v == 5 for v in per_q.values())
    # a query drawn from the corpus must rank itself first with cos ~ 1
    self_hits = got.filter(
        (F2.col("rank") == 1) & (F2.col("query_id") == F2.col("vec_id"))
    )
    assert self_hits.count() == 3


def test_streaming_exact_dedup_matches_batch_fingerprints(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F2

    from jira_cdc_git_spark.operators.text import doc_fingerprints
    from jira_cdc_git_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", F2.lit(datetime(2030, 1, 1)).alias("event_ts")
    )
    docs_dir = str(tmp_path / "docs")
    docs.coalesce(2).write.parquet(docs_dir)
    out_dir = str(tmp_path / "dedup")
    SP.streaming_exact_dedup(
        spark,
        docs_dir,
        "doc_id long, text string, event_ts timestamp",
        str(tmp_path / "ckpt"),
        out_dir,
    )
    got = spark.read.parquet(out_dir)
    # one surviving row per distinct fingerprint, same as the batch dedup
    n_batch = doc_fingerprints(spark, sf_dir).count()
    assert got.count() == n_batch
    assert got.select("fp").distinct().count() == n_batch


def test_progress_recorder_captures_batches(spark, tmp_path):
    from datetime import timedelta

    rec = SP.ProgressRecorder(str(tmp_path / "progress.jsonl"))
    spark.streams.addListener(rec.listener)
    try:
        t0 = datetime(2030, 1, 1, 8, 0, 0)
        rows = [(1, "click", t0 + timedelta(minutes=m), 1.0) for m in range(5)]
        schema = "user_id long, event_type string, ts timestamp, value double"
        feed = spark.createDataFrame(rows, schema)
        events_dir = str(tmp_path / "events")
        feed.coalesce(1).write.parquet(events_dir)
        SP.streaming_tumbling_hourly(
            spark,
            events_dir,
            schema,
            str(tmp_path / "ckpt"),
            str(tmp_path / "out"),
        )
        import time as _time

        _time.sleep(2)  # listener events are delivered asynchronously
        recs = rec.records()
        assert any(r["event"] == "started" for r in recs)
        assert any(
            r["event"] == "progress" and r["num_input_rows"] == 5 for r in recs
        )
    finally:
        spark.streams.removeListener(rec.listener)


def test_resize_preserves_aspect_within_target(spark, sf_dir):
    rows = MM.resize_image(spark, sf_dir, target_w=64, target_h=64).collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r["width"] <= 64 and 1 <= r["height"] <= 64
        assert max(r["width"], r["height"]) in (63, 64)  # fits the long side
        assert len(r["resized_hash"]) == 32


def test_audio_features_real_numpy_stats(spark, sf_dir):
    rows = MM.audio_features(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_samples"] > 0
        assert 0.0 <= r["mean_amp"] <= 255.0
        assert r["rms"] >= r["mean_amp"] - 1e-9  # RMS >= mean for nonneg data


def test_media_stats_jvm_only(spark, sf_dir):
    s = MM.media_stats(spark, sf_dir)
    rows = {r["modality"]: r["n"] for r in s.collect()}
    assert sum(rows.values()) == 500


class _StubImage:
    """Stands in for a PIL Image module: open() parses a trivial header
    `IMG:{w}x{h}x{bands}:` and raises on anything else — lets the codec
    dispatch (real / per-row fallback / no-PIL) be tested without PIL."""

    class _Img:
        def __init__(self, w, h, bands):
            self.size = (w, h)
            self._bands = bands

        def getbands(self):
            return tuple("RGBA"[: self._bands])

        def resize(self, wh):
            return _StubImage._Img(wh[0], wh[1], self._bands)

        def tobytes(self):
            return f"{self.size[0]}x{self.size[1]}".encode()

    @staticmethod
    def open(fp):
        data = fp.read()
        if not data.startswith(b"IMG:"):
            raise ValueError("not a stub image")
        w, h, bands = (int(x) for x in data[4:-1].split(b"x"))
        return _StubImage._Img(w, h, bands)


def test_decode_one_pil_present_success():
    w, h, ch, ok, dec = MM._decode_one(_StubImage, b"IMG:640x480x3:")
    assert (w, h, ch, ok, dec) == (640, 480, 3, True, "pil")


def test_decode_one_pil_present_garbage_falls_back():
    payload = b"definitely not an image"
    w, h, ch, ok, dec = MM._decode_one(_StubImage, payload)
    assert not ok and dec == "pil-fallback"
    assert (w, h, ch) == MM._fake_decode(payload)  # deterministic dims


def test_decode_one_pil_absent():
    payload = b"anything"
    w, h, ch, ok, dec = MM._decode_one(None, payload)
    assert ok and dec == "fake-deterministic"
    assert (w, h, ch) == MM._fake_decode(payload)


def _register_stub_by_value():
    # the stub lives in this test module, which Spark's Python workers can't
    # import — ship it by value inside the pickled closure instead
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


def test_decode_image_with_stub_codec(spark, monkeypatch):
    # end-to-end through mapInPandas with the codec "installed"; one
    # parseable payload, one garbage payload → per-row outcomes
    _register_stub_by_value()
    monkeypatch.setattr(MM, "_pil", lambda: _StubImage)
    try:
        df = spark.createDataFrame(
            [(1, "image", "image/png", bytearray(b"IMG:100x50x4:"),
              ("t", 13)),
             (2, "image", "image/png", bytearray(b"garbage"), ("t", 7))],
            "media_id bigint, modality string, mime string, content binary,"
            "meta struct<source:string, n_bytes:bigint>",
        )
        monkeypatch.setattr(
            MM, "media_table", lambda _spark, _sf: df
        )
        rows = {r["media_id"]: r for r in MM.decode_image(spark, "-").collect()}
        assert rows[1]["decode_ok"] and rows[1]["decoder"] == "pil"
        assert (rows[1]["width"], rows[1]["height"], rows[1]["n_channels"]) \
            == (100, 50, 4)
        assert not rows[2]["decode_ok"] and rows[2]["decoder"] == "pil-fallback"
    finally:
        pass


def test_resize_image_with_stub_codec(spark, monkeypatch):
    _register_stub_by_value()
    monkeypatch.setattr(MM, "_pil", lambda: _StubImage)
    df = spark.createDataFrame(
        [(1, "image", "image/png", bytearray(b"IMG:200x100x3:"), ("t", 14))],
        "media_id bigint, modality string, mime string, content binary,"
        "meta struct<source:string, n_bytes:bigint>",
    )
    monkeypatch.setattr(MM, "media_table", lambda _spark, _sf: df)
    r = MM.resize_image(spark, "-", target_w=64, target_h=64).collect()[0]
    assert (r["width"], r["height"]) == (64, 32)  # aspect-preserving
    import hashlib

    assert r["resized_hash"] == hashlib.md5(b"64x32").hexdigest()


# --- header sniffer: real metadata decode without any codec dependency -----

def _png(w, h, color_type=6):
    import struct, zlib
    ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)))


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4


def _bmp(w, h, bpp=24):
    import struct
    return (b"BM" + b"\x00" * 12
            + struct.pack("<I", 40) + struct.pack("<ii", w, h)
            + struct.pack("<H", 1) + struct.pack("<H", bpp) + b"\x00" * 8)


def _jpeg(w, h, ncomp=3):
    import struct
    sof = struct.pack(">H", 8 + 3 * ncomp) + bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    return b"\xff\xd8\xff\xc0" + sof + b"\x00" * 16


def test_sniffer_reads_real_headers():
    from jira_cdc_git_spark.operators.multimodal import _sniff_dimensions

    assert _sniff_dimensions(_png(640, 480)) == (640, 480, 4)
    assert _sniff_dimensions(_png(10, 20, color_type=0)) == (10, 20, 1)
    assert _sniff_dimensions(_gif(320, 200)) == (320, 200, 3)
    assert _sniff_dimensions(_bmp(800, 600)) == (800, 600, 3)
    assert _sniff_dimensions(_jpeg(1024, 768)) == (1024, 768, 3)
    assert _sniff_dimensions(b"not an image at all") is None
    assert _sniff_dimensions(b"") is None


def test_decode_ladder_prefers_real_metadata():
    from jira_cdc_git_spark.operators.multimodal import _decode_one, _pil

    # with no codec importable, a real PNG payload still decodes for real
    w, h, ch, ok, decoder = _decode_one(None, _png(64, 32))
    assert (w, h, ch, ok) == (64, 32, 4, True)
    assert decoder == "header-sniff"
    # non-image bytes fall through to the documented deterministic fake
    w, h, ch, ok, decoder = _decode_one(None, b"\x00\x01\x02")
    assert ok and decoder == "fake-deterministic"
    # if PIL IS available here, it wins and never raises
    Image = _pil()
    if Image is not None:
        _, _, _, ok, decoder = _decode_one(Image, _png(8, 8))
        assert decoder in ("pil", "header-sniff")


def test_streaming_curation_matches_batch(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F2

    from jira_cdc_git_spark.operators.text import (
        _pii_injected_text,
        benchmark_grams,
        curate_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table

    # inject deterministic PII so the scrub stage does real work
    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", _pii_injected_text().alias("text"))
        .localCheckpoint()
    )
    bench = benchmark_grams(docs).localCheckpoint()
    docs_dir = str(tmp_path / "docs")
    docs.coalesce(3).write.parquet(docs_dir)  # 3 files => micro-batching
    out_dir = str(tmp_path / "curated")
    SP.streaming_curation(
        spark,
        docs_dir,
        "doc_id long, text string",
        bench,
        str(tmp_path / "ckpt"),
        out_dir,
    )
    got = spark.read.parquet(out_dir)
    want = curate_frame(docs, bench)
    assert got.count() == want.count()
    # exact row-level parity: anti-join both ways is empty
    cols = want.columns
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    # the injected PII was found and scrubbed
    n_pii_docs = got.filter(F2.col("n_pii") > 0).count()
    assert n_pii_docs == docs.filter(
        (F2.col("doc_id") % 7 == 0)
        | (F2.col("doc_id") % 11 == 0)
        | (F2.col("doc_id") % 13 == 0)
    ).count()
    # contamination flags fire (benchmark docs flag themselves — correct:
    # a benchmark doc arriving in the training feed IS contamination)
    assert got.filter(F2.col("flag_contaminated")).count() > 0


def test_image_dhash_clone_pairs(spark, sf_dir):
    from jira_cdc_git_spark.operators import multimodal as MM

    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in MM.phash_neardup_pairs(spark, sf_dir).collect()
    }
    # every injected clone (one perturbed payload byte) must pair with its
    # original at tiny Hamming distance — the locality property of the
    # fake decode and the exactness of the 8x8-bit banding together
    expected = [
        r["media_id"]
        for r in MM.media_table(spark, sf_dir)
        .filter((F.col("modality") == "image") & (F.col("media_id") % 30 == 0))
        .select("media_id")
        .collect()
    ]
    assert expected, "fixture should contain clone sources"
    for mid in expected:
        assert (mid, mid + 1_000_000) in pairs, f"missing clone pair {mid}"
        assert pairs[(mid, mid + 1_000_000)] <= 1
    # any extra pair must still satisfy the Hamming contract
    assert all(h <= 6 for h in pairs.values())


def test_image_dhash_deterministic(spark, sf_dir):
    from jira_cdc_git_spark.operators import multimodal as MM

    a = sorted(
        (r["media_id"], r["dhash"]) for r in MM.image_dhash(spark, sf_dir).collect()
    )
    b = sorted(
        (r["media_id"], r["dhash"]) for r in MM.image_dhash(spark, sf_dir).collect()
    )
    assert a == b and len(a) > 0


def test_streaming_phash_dedup_matches_corpus(spark, sf_dir, tmp_path):
    from jira_cdc_git_spark.operators import multimodal as MM
    from jira_cdc_git_spark.streaming.pipeline import streaming_phash_dedup

    # feed: perturbed clones of three corpus images (one flipped byte,
    # offset ids) plus one payload unlike anything in the corpus
    corpus = MM.media_table(spark, sf_dir).filter(F.col("modality") == "image")
    clones = (
        corpus.orderBy("media_id")
        .limit(3)
        .select(
            (F.col("media_id") + 5_000_000).alias("media_id"),
            "modality",
            "mime",
            F.concat(
                F.substring("content", 1, 8),
                F.lit(b"\xff"),
                F.expr("substring(content, 10, octet_length(content) - 9)"),
            ).alias("content"),
            "meta",
        )
    )
    novel = spark.createDataFrame(
        [(9_999_999, "image", "image/png", bytes(range(97, 169)), ("x", 72))],
        MM.MEDIA_SCHEMA,
    )
    media_dir = str(tmp_path / "feed")
    clones.unionByName(novel).write.parquet(media_dir)

    out_dir = str(tmp_path / "matches")
    streaming_phash_dedup(
        spark,
        media_dir,
        MM.MEDIA_SCHEMA,
        str(tmp_path / "ckpt"),
        out_dir,
        sf_dir,
    )
    got = {
        (r["new_media_id"], r["corpus_media_id"]): r["hamming"]
        for r in spark.read.parquet(out_dir).collect()
    }
    originals = [r["media_id"] for r in corpus.orderBy("media_id").limit(3).collect()]
    for mid in originals:
        assert (mid + 5_000_000, mid) in got
        assert got[(mid + 5_000_000, mid)] <= 1
    # the novel payload (strictly increasing bytes -> all-ones dhash rows,
    # nothing similar in text-derived signatures) must not match
    assert not any(a == 9_999_999 for a, _ in got)


def test_streaming_ivm_counts_matches_recompute(spark, sf_dir, tmp_path):
    from jira_cdc_git_spark import fixtures as FX
    from jira_cdc_git_spark.streaming.pipeline import streaming_ivm_counts

    iss = FX.issues(spark, sf_dir).select(
        "key", "project_key", "status", "issuetype"
    )
    feed_dir = str(tmp_path / "feed")
    # three files -> three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        iss.filter(F.crc32(F.col("key")) % 3 == i).write.mode("append").parquet(
            feed_dir
        )
    counts_dir = str(tmp_path / "counts")
    streaming_ivm_counts(
        spark,
        feed_dir,
        iss.schema,
        str(tmp_path / "ckpt"),
        counts_dir,
    )
    got = {
        (r["project_key"], r["status_name"]): r["n_issues"]
        for r in spark.read.parquet(counts_dir).collect()
    }
    want = {
        (r["project_key"], r["status_name"]): r["n"]
        for r in iss.groupBy(
            "project_key", F.col("status.name").alias("status_name")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_anomalies_matches_batch(spark, sf_dir, tmp_path):
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_anomalies

    ev = load_table(spark, "events", sf_dir)
    feed_dir = str(tmp_path / "feed")
    ev.write.parquet(feed_dir)
    out_dir = str(tmp_path / "anom")
    streaming_anomalies(
        spark, feed_dir, ev.schema, str(tmp_path / "ckpt"), out_dir, sf_dir
    )
    got = {
        (r["event_id"], r["zscore"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch reference: the registry operator's flagged subset
    from jira_cdc_git_spark.operators.timeseries import value_anomalies

    want = {
        (r["event_id"], r["zscore"])
        for r in value_anomalies(spark, sf_dir).filter("is_anomaly").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_ivm_counts_replay_is_noop(spark, sf_dir, tmp_path):
    """At-least-once replay safety (round-3 advice): re-running the whole
    feed under a FRESH checkpoint replays batch ids 0..2 against the
    already-folded table; the applied_batch_id marker (atomic with the
    swap) must skip every one, leaving the counts bit-identical."""
    from jira_cdc_git_spark import fixtures as FX
    from jira_cdc_git_spark.streaming.pipeline import streaming_ivm_counts

    iss = FX.issues(spark, sf_dir).select(
        "key", "project_key", "status", "issuetype"
    )
    feed_dir = str(tmp_path / "feed")
    for i in range(3):
        iss.filter(F.crc32(F.col("key")) % 3 == i).write.mode("append").parquet(
            feed_dir
        )
    counts_dir = str(tmp_path / "counts")
    streaming_ivm_counts(
        spark, feed_dir, iss.schema, str(tmp_path / "ckpt1"), counts_dir
    )

    def snap():
        return {
            (r["project_key"], r["status_name"]): r["n_issues"]
            for r in spark.read.parquet(counts_dir).collect()
        }

    first = snap()
    streaming_ivm_counts(
        spark, feed_dir, iss.schema, str(tmp_path / "ckpt2"), counts_dir
    )
    assert snap() == first


def test_streaming_anomalies_replay_no_duplicates(spark, sf_dir, tmp_path):
    """Replaying the append sink (fresh checkpoint, same feed, same batch
    ids) must overwrite each batch_id partition in place, not duplicate."""
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_anomalies,
    )

    ev = load_table(spark, "events", sf_dir)
    feed_dir = str(tmp_path / "feed")
    ev.write.parquet(feed_dir)
    out_dir = str(tmp_path / "anom")
    streaming_anomalies(
        spark, feed_dir, ev.schema, str(tmp_path / "ck1"), out_dir, sf_dir
    )
    n_first = read_append_sink(spark, out_dir).count()
    streaming_anomalies(
        spark, feed_dir, ev.schema, str(tmp_path / "ck2"), out_dir, sf_dir
    )
    after = read_append_sink(spark, out_dir)
    assert after.count() == n_first
    assert after.select("event_id").distinct().count() == n_first


def test_streaming_lsh_neardup_matches_corpus_and_batch_body(spark, sf_dir, tmp_path):
    from pyspark.sql import types as ST

    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        lsh_bands_frame,
        shingle_sets_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        lsh_match_frame,
        streaming_lsh_neardup,
    )

    # feed: 3 corpus docs with one word appended (still near-dups of the
    # originals) + one novel word-soup document nothing resembles
    corpus = load_table(spark, "documents", sf_dir)
    clones = (
        corpus.orderBy("doc_id")
        .limit(3)
        .select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extrasuffixword")).alias("text"),
        )
    )
    schema = ST.StructType(
        [
            ST.StructField("doc_id", ST.LongType()),
            ST.StructField("text", ST.StringType()),
        ]
    )
    novel = spark.createDataFrame(
        [(9_999_999, "zzq qqz zqz " * 40)], schema
    )
    feed_df = clones.unionByName(novel)
    docs_dir = str(tmp_path / "feed")
    feed_df.write.parquet(docs_dir)

    out_dir = str(tmp_path / "matches")
    streaming_lsh_neardup(
        spark, docs_dir, schema, str(tmp_path / "ckpt"), out_dir, sf_dir
    )
    got = {
        (r["new_doc_id"], r["corpus_doc_id"]): r["jaccard"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # every clone matches its original with high jaccard...
    for did in [r["doc_id"] for r in corpus.orderBy("doc_id").limit(3).collect()]:
        assert (did + 5_000_000, did) in got
        assert got[(did + 5_000_000, did)] >= 0.8
    # ...and the novel doc matches nothing
    assert not any(a == 9_999_999 for a, _ in got)

    # batch parity: the stream's output equals the shared body run in batch
    corpus_sets = materialize(shingle_sets_frame(corpus))
    corpus_bands = lsh_bands_frame(corpus_sets).withColumnRenamed(
        "doc_id", "corpus_doc_id"
    )
    expect = {
        (r["new_doc_id"], r["corpus_doc_id"]): r["jaccard"]
        for r in lsh_match_frame(
            shingle_sets_frame(feed_df), corpus_sets, corpus_bands
        ).collect()
    }
    assert got == expect


def test_streaming_corpus_admission_gates_and_parity(spark, sf_dir, tmp_path):
    from pyspark.sql import types as ST

    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        lsh_bands_frame,
        shingle_sets_frame,
    )
    from jira_cdc_git_spark.functions import text as TXF
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        admission_frame,
        streaming_corpus_admission,
    )

    corpus = load_table(spark, "documents", sf_dir)
    # benchmark grams: one held-out corpus doc's word 6-grams
    bench_doc = corpus.orderBy("doc_id").limit(1)
    bench_grams = (
        bench_doc.select(F.explode(TXF.shingles(F.col("text"), 6)).alias("gram"))
        .distinct()
    )
    bench_words = bench_doc.collect()[0]["text"].split()

    # candidates: a clone of a quality corpus doc (near-dup reject), a
    # two-char junk doc (quality reject), a decent doc that quotes 8
    # consecutive benchmark words (contamination reject), and a clean
    # stopword-rich invented-vocab doc (admit)
    clone_src = corpus.orderBy(F.desc("n_chars")).limit(1).collect()[0]
    contaminated = (
        "the zib and the vorn is to quar in it " * 6
        + " ".join(bench_words[:8])
    )
    clean = "the zorp and a blick is to flarn in it of " * 8
    schema = ST.StructType(
        [
            ST.StructField("doc_id", ST.LongType()),
            ST.StructField("text", ST.StringType()),
        ]
    )
    feed_df = spark.createDataFrame(
        [
            (6_000_001, clone_src["text"] + " tailword"),
            (6_000_002, "x."),
            (6_000_003, contaminated),
            (6_000_004, clean),
        ],
        schema,
    )
    docs_dir = str(tmp_path / "feed")
    feed_df.write.parquet(docs_dir)

    out_root = str(tmp_path / "admission")
    streaming_corpus_admission(
        spark,
        docs_dir,
        schema,
        str(tmp_path / "ckpt"),
        out_root,
        sf_dir,
        bench_grams,
    )
    from jira_cdc_git_spark.streaming.pipeline import read_append_sink

    v = {
        r["doc_id"]: r
        for r in read_append_sink(spark, f"{out_root}/verdicts").collect()
    }
    assert len(v) == 4
    assert v[6_000_001]["flag_neardup"] and not v[6_000_001]["admit"]
    assert not v[6_000_002]["keep_quality"] and not v[6_000_002]["admit"]
    assert v[6_000_002]["reject_reason"] == "low_quality"
    assert v[6_000_003]["flag_contaminated"] and not v[6_000_003]["admit"]
    assert v[6_000_004]["admit"] and v[6_000_004]["reject_reason"] is None
    admitted = spark.read.parquet(f"{out_root}/admitted")
    assert [r["doc_id"] for r in admitted.collect()] == [6_000_004]

    # parity: streaming verdicts == the shared body run in batch
    corpus_sets = materialize(shingle_sets_frame(corpus))
    corpus_bands = lsh_bands_frame(corpus_sets).withColumnRenamed(
        "doc_id", "corpus_doc_id"
    )
    expect = {
        r["doc_id"]: r
        for r in admission_frame(
            feed_df, bench_grams, corpus_sets, corpus_bands
        ).collect()
    }
    for did, row in v.items():
        assert row == expect[did]


def test_streaming_admission_crash_resume(spark, sf_dir, tmp_path, monkeypatch):
    """C2/C4 under a REAL mid-stream failure (r4 verdict task 7): the
    admission query dies after >=1 committed batch — in the worst spot,
    after a batch's verdicts append but before its admitted append —
    then restarts on the same checkpoint. The replayed batch must not
    duplicate verdicts (batch_id-partition overwrite) and the final
    sinks must hold exactly the full candidate set."""
    from pyspark.sql import types as ST

    from jira_cdc_git_spark.functions import text as TXF
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming import pipeline as SP

    corpus = load_table(spark, "documents", sf_dir)
    bench_grams = (
        corpus.orderBy("doc_id")
        .limit(1)
        .select(F.explode(TXF.shingles(F.col("text"), 6)).alias("gram"))
        .distinct()
    )
    schema = ST.StructType(
        [
            ST.StructField("doc_id", ST.LongType()),
            ST.StructField("text", ST.StringType()),
        ]
    )
    clean = "the zorp and a blick is to flarn in it of "
    cands = [(7_000_000 + i, clean * (8 + i)) for i in range(4)]
    docs_dir = str(tmp_path / "feed")
    # four files -> four micro-batches under maxFilesPerTrigger=1
    for did, text in cands:
        spark.createDataFrame([(did, text)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    out_root = str(tmp_path / "admission")
    ckpt = str(tmp_path / "ckpt")

    real_append = SP._append_batch_idempotent
    calls = {"n": 0}

    def flaky_append(df, out_dir, batch_id):
        calls["n"] += 1
        # calls 1-2 = batch 1 (verdicts+admitted), call 3 = batch 2's
        # verdicts; die before batch 2's admitted lands — a torn batch
        if calls["n"] == 4:
            raise RuntimeError("injected crash after partial batch write")
        real_append(df, out_dir, batch_id)

    monkeypatch.setattr(SP, "_append_batch_idempotent", flaky_append)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="injected crash"):
        SP.streaming_corpus_admission(
            spark, docs_dir, schema, ckpt, out_root, sf_dir, bench_grams,
            max_files_per_trigger=1,
        )
    # at least one batch committed before the crash, but not all four
    v_partial = SP.read_append_sink(spark, f"{out_root}/verdicts")
    assert 1 <= v_partial.count() < 4

    # restart on the SAME checkpoint with the fault removed
    monkeypatch.setattr(SP, "_append_batch_idempotent", real_append)
    SP.streaming_corpus_admission(
        spark, docs_dir, schema, ckpt, out_root, sf_dir, bench_grams,
        max_files_per_trigger=1,
    )

    verdicts = SP.read_append_sink(spark, f"{out_root}/verdicts").collect()
    want_ids = {did for did, _ in cands}
    assert sorted(r["doc_id"] for r in verdicts) == sorted(want_ids)  # no dups
    assert all(r["admit"] for r in verdicts)
    admitted = SP.read_append_sink(spark, f"{out_root}/admitted").collect()
    assert sorted(r["doc_id"] for r in admitted) == sorted(want_ids)


def test_streaming_ivf_topk_serves_from_index(spark, sf_dir, tmp_path):
    """Approximate ANN serving twin: streamed queries answered from the
    materialized IVF index match the batch ivf_knn_join computed over
    the same probe discipline, and replaying the stream on the same
    checkpoint adds nothing."""
    from pyspark.sql import types as ST

    from jira_cdc_git_spark.operators import vectors as V
    from jira_cdc_git_spark.streaming import pipeline as SP

    path = str(tmp_path / "ivf_index")
    V.write_ivf_index(spark, sf_dir, path)

    from jira_cdc_git_spark.sources.registry import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    schema = ST.StructType(
        [
            ST.StructField("query_id", ST.LongType()),
            ST.StructField("embedding", ST.ArrayType(ST.FloatType())),
        ]
    )
    queries = spark.createDataFrame(
        [
            (int(r["vec_id"]), list(r["embedding"]))
            for r in emb.filter(F.col("vec_id") < 8).collect()
        ],
        schema,
    )
    qdir = str(tmp_path / "queries")
    queries.write.parquet(qdir)

    out = str(tmp_path / "served")
    ckpt = str(tmp_path / "ckpt")
    SP.streaming_ivf_topk(spark, qdir, schema, ckpt, out, path)
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in SP.read_append_sink(spark, out).collect()
    }
    assert len(got) == 8 * 5
    expect = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in V.ivf_knn_join(spark, sf_dir).collect()
    }
    assert got == expect

    # idempotent re-run: same checkpoint, no new files to process
    SP.streaming_ivf_topk(spark, qdir, schema, ckpt, out, path)
    assert SP.read_append_sink(spark, out).count() == 40


def test_streaming_dsir_admission_scores_and_parity(spark, sf_dir, tmp_path):
    from pyspark.sql import types as ST

    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.text import (
        dsir_histograms,
        dsir_score_frame,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_dsir_admission,
    )

    corpus = load_table(spark, "documents", sf_dir)
    # candidates: one doc copied from the target-language corpus (should
    # score like the target and be admitted at min_weight=0 only if its
    # weight is >= 0) and one invented-vocabulary doc whose features all
    # miss the trained histogram (heavy smoothing penalty -> weight ~ 0
    # exactly, since BOTH distributions fall back to the same floor)
    tgt_src = (
        corpus.filter(F.col("lang") == "en").orderBy("doc_id").limit(1).collect()[0]
    )
    off_src = (
        corpus.filter(F.col("lang") == "zh").orderBy("doc_id").limit(1).collect()[0]
    )
    schema = ST.StructType(
        [
            ST.StructField("doc_id", ST.LongType()),
            ST.StructField("text", ST.StringType()),
        ]
    )
    # an OOV doc rides along to prove the unseen-bucket left-join guard
    # (it must be scored, not dropped); its weight is a smoothing
    # artifact, so no ordering is asserted against it
    feed_df = spark.createDataFrame(
        [
            (7_000_001, tgt_src["text"]),
            (7_000_002, off_src["text"]),
            (7_000_003, "zorp blick flarn quux glorp snark"),
        ],
        schema,
    )
    docs_dir = str(tmp_path / "feed")
    feed_df.write.parquet(docs_dir)

    out_root = str(tmp_path / "dsir")
    streaming_dsir_admission(
        spark,
        docs_dir,
        schema,
        str(tmp_path / "ckpt"),
        out_root,
        sf_dir,
        min_weight=0.0,
    )
    v = {
        r["doc_id"]: r
        for r in read_append_sink(spark, f"{out_root}/verdicts").collect()
    }
    assert len(v) == 3
    # the DSIR property online: the target-language copy outscores the
    # off-language copy
    assert v[7_000_001]["weight"] > v[7_000_002]["weight"]
    assert v[7_000_001]["admit"]
    assert v[7_000_003]["n_feats"] > 0  # OOV doc scored, not dropped
    admitted = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out_root}/admitted").collect()
    }
    assert admitted == {d for d, r in v.items() if r["admit"]}

    # parity: streaming weights == the shared scorer run in batch
    hist, totals = dsir_histograms(corpus, "en")
    hist, totals = materialize(hist), materialize(totals)
    expect = {
        r["doc_id"]: r for r in dsir_score_frame(feed_df, hist, totals).collect()
    }
    for did, row in v.items():
        assert row["weight"] == expect[did]["weight"]
        assert row["n_feats"] == expect[did]["n_feats"]


def test_streaming_mad_anomalies_flags_and_parity(spark, sf_dir, tmp_path):
    from pyspark.sql import types as ST

    from jira_cdc_git_spark.materialize import materialize
    from jira_cdc_git_spark.operators.timeseries import (
        mad_score_frame,
        mad_thresholds,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_mad_anomalies,
    )

    schema = ST.StructType(
        [
            ST.StructField("event_id", ST.LongType()),
            ST.StructField("event_type", ST.StringType()),
            ST.StructField("value", ST.DoubleType()),
        ]
    )
    # two in-band events and one absurd burst per the corpus's scale —
    # the burst must flag, the in-band rows must not
    feed_df = spark.createDataFrame(
        [
            (9_000_001, "click", 12.0),
            (9_000_002, "click", 13.5),
            (9_000_003, "click", 9_999.0),
        ],
        schema,
    )
    events_dir = str(tmp_path / "feed")
    feed_df.write.parquet(events_dir)

    out_root = str(tmp_path / "mad")
    streaming_mad_anomalies(
        spark,
        events_dir,
        schema,
        str(tmp_path / "ckpt"),
        out_root,
        sf_dir,
    )
    v = {
        r["event_id"]: r
        for r in read_append_sink(spark, f"{out_root}/verdicts").collect()
    }
    assert len(v) == 3
    assert v[9_000_003]["is_anomaly"]
    assert not v[9_000_001]["is_anomaly"] and not v[9_000_002]["is_anomaly"]
    flagged = {
        r["event_id"]
        for r in spark.read.parquet(f"{out_root}/anomalies").collect()
    }
    assert flagged == {9_000_003}

    # parity: streaming scores == the shared scorer run in batch
    th = materialize(mad_thresholds(load_table(spark, "events", sf_dir)))
    expect = {
        r["event_id"]: r["robust_z"]
        for r in mad_score_frame(feed_df, th).collect()
    }
    for eid, row in v.items():
        assert row["robust_z"] == expect[eid]

    # idempotent re-run: same checkpoint, nothing new to process
    streaming_mad_anomalies(
        spark, events_dir, schema, str(tmp_path / "ckpt"), out_root, sf_dir
    )
    assert read_append_sink(spark, f"{out_root}/verdicts").count() == 3


def test_streaming_cusum_stateful_batch_parity(spark, sf_dir, tmp_path):
    """The stateful twin: feed the events table in three ts-ordered
    chunks whose boundaries deliberately split hours mid-way, then
    assert the emitted closed-hour CUSUM rows equal the batch
    operator's output restricted to hours before each type's newest —
    state (prefix sum, running min, open-hour partial) must survive
    batch boundaries exactly."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.operators.timeseries import cusum_changepoints
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_cusum,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    cuts = [len(rows) // 3, 2 * len(rows) // 3]
    events_dir = str(tmp_path / "feed")
    chunks = [rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]]
    # sequential appends into ONE flat dir: strictly increasing mtimes,
    # so FileStreamSource delivers the chunks hour-monotone
    for chunk in chunks:
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "cusum")
    streaming_cusum(
        spark,
        events_dir,
        ev.schema,
        str(tmp_path / "ckpt"),
        out_root,
        sf_dir,
        max_files_per_trigger=1,
    )
    got = {
        (r["event_type"], r["hour_ts"]): (r["n"], r["cusum"], r["is_changepoint"])
        for r in read_append_sink(spark, f"{out_root}/cusum").collect()
    }

    batch = cusum_changepoints(spark, sf_dir)
    newest = batch.groupBy("event_type").agg(F.max("hour_ts").alias("mx"))
    closed = batch.join(newest, "event_type").filter(F.col("hour_ts") < F.col("mx"))
    want = {
        (r["event_type"], r["hour_ts"]): (r["n"], r["cusum"], r["is_changepoint"])
        for r in closed.collect()
    }
    assert got == want
    # alarms sink is exactly the flagged subset
    alarms = {
        (r["event_type"], r["hour_ts"])
        for r in read_append_sink(spark, f"{out_root}/alarms").collect()
    }
    assert alarms == {k for k, v in want.items() if v[2]}


def test_streaming_debounce_stateful_batch_parity(spark, sf_dir, tmp_path):
    """The stateful debounce twin: last-seen timestamps per (user, type)
    must survive batch boundaries — feed the events in three ts-ordered
    chunks cut anywhere and require the per-type keep/drop rollup of the
    streamed verdicts to equal the batch operator exactly."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.operators.timeseries import debounced_events
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_debounce,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    cuts = [len(rows) // 3, 2 * len(rows) // 3]
    events_dir = str(tmp_path / "feed")
    for chunk in (rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "deb")
    streaming_debounce(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root, None
    )
    got = {
        r["event_type"]: (r["n_total"], r["n_kept"])
        for r in read_append_sink(spark, f"{out_root}/verdicts")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        )
        .collect()
    }
    want = {
        r["event_type"]: (r["n_total"], r["n_kept"])
        for r in debounced_events(spark, sf_dir).collect()
    }
    assert got == want
    # admitted sink is exactly the kept subset
    n_admitted = read_append_sink(spark, f"{out_root}/admitted").count()
    assert n_admitted == sum(k for _, k in want.values())


def test_streaming_rolling_median_stateful_batch_parity(
    spark, sf_dir, tmp_path
):
    """The third stateful twin: per-(type, day) totals must assemble
    across batch boundaries cut anywhere, each day emitting its exact
    7-row windowed median once on day-close — equal to the batch
    operator restricted to days before each type's newest."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.operators.timeseries import rolling_daily_median
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_rolling_median,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    cuts = [len(rows) // 3, 2 * len(rows) // 3]
    events_dir = str(tmp_path / "feed")
    for chunk in (rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "med")
    streaming_rolling_median(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )
    got = {
        (r["event_type"], r["day"]): (r["day_value"], r["rolling_median"])
        for r in read_append_sink(spark, f"{out_root}/medians").collect()
    }

    batch = rolling_daily_median(spark, sf_dir)
    newest = batch.groupBy("event_type").agg(F.max("day").alias("mx"))
    closed = batch.join(newest, "event_type").filter(
        F.col("day") < F.col("mx")
    )
    want = {
        (r["event_type"], r["day"]): (r["day_value"], r["rolling_median"])
        for r in closed.collect()
    }
    assert got == want

    # idempotent re-run: same checkpoint, nothing new emitted
    streaming_rolling_median(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )
    assert read_append_sink(spark, f"{out_root}/medians").count() == len(want)


def test_streaming_rolling_median_drops_late_rows_for_emitted_days(
    spark, tmp_path
):
    """r7 ADVICE: a row arriving for a day whose median already emitted
    is below the day-close watermark and must be DROPPED — the emitted
    median is never retro-revised AND later days' windows keep using the
    exact totals the emitted medians were computed from (state/output
    consistency under out-of-order arrival)."""
    import datetime as dt

    from jira_cdc_git_spark.streaming.pipeline import (
        read_append_sink,
        streaming_rolling_median,
    )

    schema = "event_type string, ts timestamp, value double"

    def day(d, v):
        return ("A", dt.datetime(2024, 1, d, 12, 0, 0), v)

    events_dir = str(tmp_path / "feed")
    # chunk 1: days 1-4 at 1.00 each -> emits days 1,2,3 (day 4 open)
    spark.createDataFrame(
        [day(1, 1.0), day(2, 1.0), day(3, 1.0), day(4, 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(events_dir)
    # chunk 2: a LATE row for emitted day 1 (+100.00) plus day 5,
    # which closes day 4
    spark.createDataFrame(
        [day(1, 100.0), day(5, 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(events_dir)

    out_root = str(tmp_path / "med")
    streaming_rolling_median(
        spark,
        events_dir,
        schema,
        str(tmp_path / "ckpt"),
        out_root,
        max_files_per_trigger=1,
    )
    got = {
        r["day"].day: (r["day_value"], r["rolling_median"])
        for r in read_append_sink(spark, f"{out_root}/medians").collect()
    }
    # every day's total is the ON-TIME 1.00; the late +100.00 for day 1
    # influenced neither day 1's emitted row nor day 4's window
    assert got == {
        1: (1.0, 1.0),
        2: (1.0, 1.0),
        3: (1.0, 1.0),
        4: (1.0, 1.0),
    }
    # carried state for day 1 still holds the emitted 1.00 total (100
    # cents), not the revised 10100
    state = spark.read.parquet(f"{out_root}/median_state")
    assert state.filter("day = timestamp'2024-01-01'").first()["cents"] == 100


def test_streaming_transition_entropy_stateful_batch_parity(
    spark, sf_dir, tmp_path
):
    """The FOURTH stateful twin: (from,to) pair counts fold
    incrementally while each user's last event carries across batch
    boundaries, so the boundary pair is never lost wherever the chunk
    cut lands. Final snapshot must equal the batch operator exactly,
    and a checkpoint replay must change nothing."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.operators.timeseries import (
        session_transition_entropy,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        streaming_transition_entropy,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    cuts = [len(rows) // 3, 2 * len(rows) // 3]
    events_dir = str(tmp_path / "feed")
    for chunk in (rows[: cuts[0]], rows[cuts[0]: cuts[1]], rows[cuts[1]:]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "ent")
    streaming_transition_entropy(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )

    def snap():
        return {
            r["from_type"]: (
                r["n_branches"], r["entropy"], r["norm_entropy"]
            )
            for r in spark.read.parquet(f"{out_root}/entropy").collect()
        }

    got = snap()
    want = {
        r["from_type"]: (r["n_branches"], r["entropy"], r["norm_entropy"])
        for r in session_transition_entropy(spark, sf_dir).collect()
    }
    assert got == want
    # sanity: boundary pairs actually crossed batch cuts (state carried
    # users exist) and the pair-count total matches the batch pair count
    state = spark.read.parquet(f"{out_root}/entropy_state")
    n_pairs_stream = (
        state.filter("kind = 'pair'").agg(F.sum("n")).first()[0]
    )
    assert n_pairs_stream == len(rows) - ev.select("user_id").distinct().count()
    # idempotent re-run: same checkpoint, snapshot unchanged
    streaming_transition_entropy(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )
    assert snap() == want


def test_streaming_autocorrelation_stateful_batch_parity(
    spark, sf_dir, tmp_path
):
    """The FIFTH stateful twin: per-(type, hour) counts fold
    incrementally (abelian IVM) with atomic state+marker swaps; the ACF
    snapshot derives from committed state through the batch operator's
    own acf_from_hourly projection. Chunk cuts land mid-hour AND one
    chunk delivers deliberately out-of-order/late rows; the final
    snapshot must equal autocorrelation_report exactly, and a
    checkpoint replay must change nothing."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.operators.timeseries import (
        autocorrelation_report,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        streaming_autocorrelation,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    # chunk 1: the MIDDLE third (so chunk 2 delivers strictly EARLIER,
    # i.e. late, rows for hours that already folded), chunk 3 the tail;
    # every cut lands mid-hour by construction
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    events_dir = str(tmp_path / "feed")
    for chunk in (rows[c1:c2], rows[:c1], rows[c2:]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "acf")
    streaming_autocorrelation(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )

    def snap():
        return {
            (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
            for r in spark.read.parquet(f"{out_root}/acf").collect()
        }

    got = snap()
    want = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in autocorrelation_report(spark, sf_dir).collect()
    }
    assert got == want
    # state totals equal the raw event count (nothing lost or doubled
    # across the out-of-order chunks)
    state = spark.read.parquet(f"{out_root}/acf_state")
    assert state.agg(F.sum("n")).first()[0] == len(rows)
    # idempotent re-run: same checkpoint, snapshot unchanged
    streaming_autocorrelation(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )
    assert snap() == want


def test_streaming_autocorrelation_crash_resume(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash in the WORST spot — after a batch's state table swapped
    (applied_batch_id committed) but before its snapshot emit, with the
    checkpoint not yet advanced. The restart replays that batch: the
    applied_batch_id guard must skip the fold (no double counting) while
    the unconditional snapshot recompute heals the torn emit."""
    import jira_cdc_git_spark.state as STATE
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from jira_cdc_git_spark.operators.timeseries import (
        autocorrelation_report,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        streaming_autocorrelation,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    c1 = len(rows) // 2
    events_dir = str(tmp_path / "feed")
    for chunk in (rows[:c1], rows[c1:]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "acf")
    ckpt = str(tmp_path / "ckpt")

    real_swap = STATE._swap_dir_atomic
    calls = {"n": 0}

    def flaky_swap(df, path):
        calls["n"] += 1
        # batch 0: calls 1 (state) + 2 (snapshot); batch 1: call 3 =
        # state swap COMMITS, then die before call 4's snapshot emit
        if calls["n"] == 4:
            raise RuntimeError("injected crash before snapshot emit")
        real_swap(df, path)

    monkeypatch.setattr(STATE, "_swap_dir_atomic", flaky_swap)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        streaming_autocorrelation(
            spark, events_dir, ev.schema, ckpt, out_root
        )
    # state holds BOTH batches (the fold committed) ...
    state = spark.read.parquet(f"{out_root}/acf_state")
    assert state.agg(F.sum("n")).first()[0] == len(rows)
    # ... but the snapshot is still batch 0's (torn emit)
    n_types = ev.select("event_type").distinct().count()
    snap_before = spark.read.parquet(f"{out_root}/acf")
    assert snap_before.count() > 0

    monkeypatch.setattr(STATE, "_swap_dir_atomic", real_swap)
    streaming_autocorrelation(spark, events_dir, ev.schema, ckpt, out_root)
    # replay did not double-count ...
    state = spark.read.parquet(f"{out_root}/acf_state")
    assert state.agg(F.sum("n")).first()[0] == len(rows)
    assert state.agg(F.max("applied_batch_id")).first()[0] == 1
    # ... and the healed snapshot equals the batch operator exactly
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in spark.read.parquet(f"{out_root}/acf").collect()
    }
    want = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf"])
        for r in autocorrelation_report(spark, sf_dir).collect()
    }
    assert got == want
    assert len({t for t, _ in got}) == n_types


def test_streaming_benford_stateful_batch_parity(spark, sf_dir, tmp_path):
    """The SIXTH stateful twin: per-digit counts fold incrementally
    (pure abelian IVM — no carry, no finalization) with atomic
    state+marker swaps; the report snapshot derives from committed
    state through the batch operator's own benford_from_digit_counts
    projection. Chunks arrive out of order; the final snapshot must
    equal benford_deviation_report exactly, and a checkpoint replay
    must change nothing."""
    from pyspark.sql import functions as F

    from jira_cdc_git_spark.operators.relational import (
        benford_deviation_report,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_benford

    od = load_table(spark, "orders", sf_dir).orderBy("o_orderkey")
    rows = od.collect()
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    orders_dir = str(tmp_path / "feed")
    # middle third first — digit counts are abelian, so ANY order folds
    # to the same state
    for chunk in (rows[c1:c2], rows[:c1], rows[c2:]):
        spark.createDataFrame(chunk, od.schema).coalesce(1).write.mode(
            "append"
        ).parquet(orders_dir)

    out_root = str(tmp_path / "ben")
    streaming_benford(
        spark, orders_dir, od.schema, str(tmp_path / "ckpt"), out_root
    )

    def snap():
        return {
            r["digit"]: (
                r["n"], r["n_total"], r["observed_frac"],
                r["expected_frac"], r["chi2_term"], r["chi2_stat"],
            )
            for r in spark.read.parquet(f"{out_root}/benford").collect()
        }

    got = snap()
    want = {
        r["digit"]: (
            r["n"], r["n_total"], r["observed_frac"],
            r["expected_frac"], r["chi2_term"], r["chi2_stat"],
        )
        for r in benford_deviation_report(spark, sf_dir).collect()
    }
    assert got == want
    # state totals equal the filtered row count (nothing lost/doubled)
    state = spark.read.parquet(f"{out_root}/benford_state")
    n_priced = od.filter(F.col("o_totalprice") >= 1.0).count()
    assert state.agg(F.sum("n")).first()[0] == n_priced
    # idempotent re-run: same checkpoint, snapshot unchanged
    streaming_benford(
        spark, orders_dir, od.schema, str(tmp_path / "ckpt"), out_root
    )
    assert snap() == want


def test_streaming_benford_crash_resume(spark, sf_dir, tmp_path, monkeypatch):
    """Crash after batch 1's state swap committed but before its
    snapshot emit: the replay must skip the fold (applied_batch_id
    guard) while the unconditional snapshot recompute heals the torn
    emit."""
    import jira_cdc_git_spark.state as STATE
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from jira_cdc_git_spark.operators.relational import (
        benford_deviation_report,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_benford

    od = load_table(spark, "orders", sf_dir).orderBy("o_orderkey")
    rows = od.collect()
    c1 = len(rows) // 2
    orders_dir = str(tmp_path / "feed")
    for chunk in (rows[:c1], rows[c1:]):
        spark.createDataFrame(chunk, od.schema).coalesce(1).write.mode(
            "append"
        ).parquet(orders_dir)

    out_root = str(tmp_path / "ben")
    ckpt = str(tmp_path / "ckpt")

    real_swap = STATE._swap_dir_atomic
    calls = {"n": 0}

    def flaky_swap(df, path):
        calls["n"] += 1
        if calls["n"] == 4:  # batch 1's snapshot emit
            raise RuntimeError("injected crash before snapshot emit")
        real_swap(df, path)

    monkeypatch.setattr(STATE, "_swap_dir_atomic", flaky_swap)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)

    n_priced = od.filter(F.col("o_totalprice") >= 1.0).count()
    state = spark.read.parquet(f"{out_root}/benford_state")
    assert state.agg(F.sum("n")).first()[0] == n_priced  # fold committed
    assert spark.read.parquet(f"{out_root}/benford").count() > 0

    monkeypatch.setattr(STATE, "_swap_dir_atomic", real_swap)
    streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)
    state = spark.read.parquet(f"{out_root}/benford_state")
    assert state.agg(F.sum("n")).first()[0] == n_priced  # no double count
    got = {
        r["digit"]: (r["n"], r["chi2_stat"])
        for r in spark.read.parquet(f"{out_root}/benford").collect()
    }
    want = {
        r["digit"]: (r["n"], r["chi2_stat"])
        for r in benford_deviation_report(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_gap_fill_locf_stateful_batch_parity(
    spark, sf_dir, tmp_path
):
    """The SEVENTH stateful twin: per-(user, hour) last-observation
    state as an abelian struct-max; the dense filled grid recomputes
    from committed state through the batch operator's own
    locf_from_hourly projection. One chunk delivers deliberately
    out-of-order/late rows; the final snapshot must equal
    gap_fill_locf exactly, and a checkpoint replay changes nothing."""
    from jira_cdc_git_spark.operators.timeseries import gap_fill_locf
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        streaming_gap_fill_locf,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    events_dir = str(tmp_path / "feed")
    # middle third FIRST: chunk 2 delivers strictly earlier (late) rows
    # for (user, hour) slots that already hold a winner
    for chunk in (rows[c1:c2], rows[:c1], rows[c2:]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "locf")
    streaming_gap_fill_locf(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )

    def snap():
        return {
            (r["user_id"], r["hour_ts"]): (r["value_filled"], r["is_gap"])
            for r in spark.read.parquet(f"{out_root}/locf").collect()
        }

    got = snap()
    want = {
        (r["user_id"], r["hour_ts"]): (r["value_filled"], r["is_gap"])
        for r in gap_fill_locf(spark, sf_dir).collect()
    }
    assert got == want
    # idempotent re-run: same checkpoint, snapshot unchanged
    streaming_gap_fill_locf(
        spark, events_dir, ev.schema, str(tmp_path / "ckpt"), out_root
    )
    assert snap() == want


def test_streaming_gap_fill_locf_crash_resume(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash between batch 1's state swap and its snapshot emit; the
    replay must not re-fold (applied_batch_id guard) and must heal the
    torn snapshot."""
    import jira_cdc_git_spark.state as STATE
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from jira_cdc_git_spark.operators.timeseries import gap_fill_locf
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        streaming_gap_fill_locf,
    )

    ev = load_table(spark, "events", sf_dir).orderBy("ts", "event_id")
    rows = ev.collect()
    c1 = len(rows) // 2
    events_dir = str(tmp_path / "feed")
    for chunk in (rows[:c1], rows[c1:]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "locf")
    ckpt = str(tmp_path / "ckpt")
    real_swap = STATE._swap_dir_atomic
    calls = {"n": 0}

    def flaky_swap(df, path):
        calls["n"] += 1
        if calls["n"] == 4:
            raise RuntimeError("injected crash before snapshot emit")
        real_swap(df, path)

    monkeypatch.setattr(STATE, "_swap_dir_atomic", flaky_swap)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        streaming_gap_fill_locf(spark, events_dir, ev.schema, ckpt, out_root)
    assert spark.read.parquet(f"{out_root}/locf").count() > 0  # torn = old

    monkeypatch.setattr(STATE, "_swap_dir_atomic", real_swap)
    streaming_gap_fill_locf(spark, events_dir, ev.schema, ckpt, out_root)
    got = {
        (r["user_id"], r["hour_ts"]): (r["value_filled"], r["is_gap"])
        for r in spark.read.parquet(f"{out_root}/locf").collect()
    }
    want = {
        (r["user_id"], r["hour_ts"]): (r["value_filled"], r["is_gap"])
        for r in gap_fill_locf(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_benford_torn_swap_recovers_state(spark, sf_dir, tmp_path):
    """Crash INSIDE _swap_dir_atomic's rename window (live already moved
    to .bak, tmp not yet in place — only state.bak survives): the next
    run must restore the .bak via _recover_dir and fold the new batch
    into the RECOVERED counts, not silently reinitialize from empty
    (r9 advice)."""
    import os

    from jira_cdc_git_spark.operators.relational import (
        benford_deviation_report,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_benford

    od = load_table(spark, "orders", sf_dir).orderBy("o_orderkey")
    rows = od.collect()
    c1 = len(rows) // 2
    orders_dir = str(tmp_path / "feed")
    spark.createDataFrame(rows[:c1], od.schema).coalesce(1).write.mode(
        "append"
    ).parquet(orders_dir)

    out_root = str(tmp_path / "ben")
    ckpt = str(tmp_path / "ckpt")
    streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)

    # simulate the torn swap: live gone, only .bak remains
    state_dir = f"{out_root}/benford_state"
    os.replace(state_dir, state_dir + ".bak")
    snap_dir = f"{out_root}/benford"
    os.replace(snap_dir, snap_dir + ".bak")

    spark.createDataFrame(rows[c1:], od.schema).coalesce(1).write.mode(
        "append"
    ).parquet(orders_dir)
    streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)

    n_priced = od.filter(F.col("o_totalprice") >= 1.0).count()
    state = spark.read.parquet(state_dir)
    assert state.agg(F.sum("n")).first()[0] == n_priced
    got = {
        r["digit"]: (r["n"], r["chi2_stat"])
        for r in spark.read.parquet(snap_dir).collect()
    }
    want = {
        r["digit"]: (r["n"], r["chi2_stat"])
        for r in benford_deviation_report(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_gap_fill_torn_swap_recovers_state(
    spark, sf_dir, tmp_path
):
    """Same torn-swap window for the LOCF twin: only locf_state.bak
    survives the crash; the rerun must carry every pre-crash
    observation forward (r9 advice)."""
    import os

    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_gap_fill_locf

    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("user_id") % 50 == 0)
        .select("user_id", "ts", "event_id", "value")
        .orderBy("event_id")
    )
    rows = ev.collect()
    c1 = len(rows) // 2
    events_dir = str(tmp_path / "feed")
    spark.createDataFrame(rows[:c1], ev.schema).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)

    out_root = str(tmp_path / "locf")
    ckpt = str(tmp_path / "ckpt")
    streaming_gap_fill_locf(spark, events_dir, ev.schema, ckpt, out_root)

    state_dir = f"{out_root}/locf_state"
    os.replace(state_dir, state_dir + ".bak")

    spark.createDataFrame(rows[c1:], ev.schema).coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    streaming_gap_fill_locf(spark, events_dir, ev.schema, ckpt, out_root)

    # state must hold BOTH halves' per-(user, hour) winners
    n_keys = (
        spark.createDataFrame(rows, ev.schema)
        .select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .count()
    )
    assert spark.read.parquet(state_dir).count() == n_keys


def test_streaming_hill_tail_stateful_batch_parity(spark, sf_dir, tmp_path):
    """The EIGHTH stateful twin: per-lang top-(k+1) order-statistic
    state (mergeable union-then-trim). Snapshot == the batch operator
    for an adversarial chunking: the LARGEST docs delivered in the
    FIRST chunk (so later batches must not displace them) and a
    replayed middle chunk (dedup by doc_id)."""
    from jira_cdc_git_spark.operators.text import hill_tail_index
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_hill_tail

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("lang", "n_chars", "doc_id")
        .orderBy(F.desc("n_chars"), "doc_id")
    )
    rows = docs.collect()
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    docs_dir = str(tmp_path / "feed")
    # largest first, then middle (delivered twice), then smallest
    for chunk in (rows[:c1], rows[c1:c2], rows[c1:c2], rows[c2:]):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    out_root = str(tmp_path / "hill")
    ckpt = str(tmp_path / "ckpt")
    streaming_hill_tail(spark, docs_dir, docs.schema, ckpt, out_root)

    got = {
        r["lang"]: (r["k"], r["tail_threshold_chars"], r["hill_alpha"])
        for r in spark.read.parquet(f"{out_root}/hill").collect()
    }
    want = {
        r["lang"]: (r["k"], r["tail_threshold_chars"], r["hill_alpha"])
        for r in hill_tail_index(spark, sf_dir).collect()
    }
    assert got == want
    # state is bounded: at most k+1 rows per lang
    from jira_cdc_git_spark.operators.text import HILL_K

    state = spark.read.parquet(f"{out_root}/hill_state")
    per_lang = state.groupBy("lang").count().collect()
    assert all(r["count"] <= HILL_K + 1 for r in per_lang)


def test_streaming_hill_tail_torn_swap_recovers(spark, sf_dir, tmp_path):
    """Torn-swap crash window (only .bak survives) between runs: the
    rerun must restore state and still match the batch operator."""
    import os

    from jira_cdc_git_spark.operators.text import hill_tail_index
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_hill_tail

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("lang", "n_chars", "doc_id")
        .orderBy(F.desc("n_chars"), "doc_id")
    )
    rows = docs.collect()
    c1 = len(rows) // 2
    docs_dir = str(tmp_path / "feed")
    spark.createDataFrame(rows[:c1], docs.schema).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)

    out_root = str(tmp_path / "hill")
    ckpt = str(tmp_path / "ckpt")
    streaming_hill_tail(spark, docs_dir, docs.schema, ckpt, out_root)

    state_dir = f"{out_root}/hill_state"
    os.replace(state_dir, state_dir + ".bak")

    spark.createDataFrame(rows[c1:], docs.schema).coalesce(1).write.mode(
        "append"
    ).parquet(docs_dir)
    streaming_hill_tail(spark, docs_dir, docs.schema, ckpt, out_root)

    got = {
        r["lang"]: (r["k"], r["tail_threshold_chars"], r["hill_alpha"])
        for r in spark.read.parquet(f"{out_root}/hill").collect()
    }
    want = {
        r["lang"]: (r["k"], r["tail_threshold_chars"], r["hill_alpha"])
        for r in hill_tail_index(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_length_drift_stateful_batch_parity(
    spark, sf_dir, tmp_path
):
    """The NINTH stateful twin: (source, length) histogram state (pure
    abelian sums, keyed two deep); snapshot through the batch
    operator's own drift_from_length_counts projection. Chunks are
    delivered out of order (last third first) — counts fold to the
    same histogram regardless."""
    from jira_cdc_git_spark.operators.text import length_drift_by_source
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_length_drift

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("source", "n_chars", "doc_id")
        .orderBy("doc_id")
    )
    rows = docs.collect()
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    docs_dir = str(tmp_path / "feed")
    for chunk in (rows[c2:], rows[:c1], rows[c1:c2]):  # out of order
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "append"
        ).parquet(docs_dir)

    out_root = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")
    streaming_length_drift(spark, docs_dir, docs.schema, ckpt, out_root)

    got = {
        r["source"]: (r["n_docs"], r["at_length"], r["d_stat"])
        for r in spark.read.parquet(f"{out_root}/lendrift").collect()
    }
    want = {
        r["source"]: (r["n_docs"], r["at_length"], r["d_stat"])
        for r in length_drift_by_source(spark, sf_dir).collect()
    }
    assert got == want
    # the SAME committed histogram feeds the W1 monitor: the second
    # snapshot must equal wasserstein_drift_report exactly (one state,
    # two drift projections that can never disagree)
    from jira_cdc_git_spark.operators.text import wasserstein_drift_report

    got_w1 = {
        r["source"]: (r["n_docs"], r["w1_chars"])
        for r in spark.read.parquet(f"{out_root}/w1drift").collect()
    }
    want_w1 = {
        r["source"]: (r["n_docs"], r["w1_chars"])
        for r in wasserstein_drift_report(spark, sf_dir).collect()
    }
    assert got_w1 == want_w1


def test_streaming_torn_final_swap_heals_without_new_data(
    spark, sf_dir, tmp_path
):
    """A crash inside the FINAL snapshot swap of a run (live dir moved
    to .bak, tmp not yet renamed in) used to strand readers until the
    next NONEMPTY batch arrived, because recovery only ran inside
    _step (r11 advice). The twins now heal all their dirs once at
    stream start — so a restart with NO new data (availableNow fires
    no batch) must restore every torn dir."""
    import os

    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_length_drift

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("source", "n_chars", "doc_id")
        .limit(200)
    )
    docs_dir = str(tmp_path / "feed")
    docs.coalesce(1).write.mode("append").parquet(docs_dir)
    out_root = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")
    streaming_length_drift(spark, docs_dir, docs.schema, ckpt, out_root)

    w1_dir = f"{out_root}/w1drift"
    want = {
        (r["source"], r["n_docs"], r["w1_chars"])
        for r in spark.read.parquet(w1_dir).collect()
    }
    # torn final swap: the W1 snapshot (written LAST in _step) is gone,
    # only .bak remains
    os.replace(w1_dir, w1_dir + ".bak")

    # restart with the SAME checkpoint and no new files: no batch fires
    streaming_length_drift(spark, docs_dir, docs.schema, ckpt, out_root)

    assert os.path.isdir(w1_dir), "pre-start recovery must restore .bak"
    got = {
        (r["source"], r["n_docs"], r["w1_chars"])
        for r in spark.read.parquet(w1_dir).collect()
    }
    assert got == want


def test_streaming_association_rules_stateful_batch_parity(
    spark, sf_dir, tmp_path
):
    """The TENTH stateful twin: distinct (user, type) basket state —
    set union is abelian AND idempotent, so chunking, reordering, and a
    full duplicate redelivery all fold to the same basket table; the
    snapshot equals the batch operator exactly."""
    from jira_cdc_git_spark.operators.timeseries import (
        event_association_rules,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import (
        streaming_association_rules,
    )

    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    )
    rows = ev.collect()
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    events_dir = str(tmp_path / "feed")
    # out of order + a full duplicate redelivery of the middle chunk
    for chunk in (rows[c1:c2], rows[:c1], rows[c1:c2], rows[c2:]):
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(events_dir)

    out_root = str(tmp_path / "rules")
    ckpt = str(tmp_path / "ckpt")
    streaming_association_rules(spark, events_dir, ev.schema, ckpt, out_root)

    key = lambda r: (r["type_a"], r["type_b"])  # noqa: E731
    got = {
        key(r): (r["n_both"], r["n_a"], r["n_b"], r["lift"])
        for r in spark.read.parquet(f"{out_root}/rules").collect()
    }
    want = {
        key(r): (r["n_both"], r["n_a"], r["n_b"], r["lift"])
        for r in event_association_rules(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_spearman_stateful_batch_parity(spark, sf_dir, tmp_path):
    """The ELEVENTH stateful twin: per-orderkey item counts fold
    incrementally (pure abelian sums) with atomic state+marker swaps;
    the correlation snapshot derives from committed state joined to the
    static orders dimension through the batch operator's own
    spearman_from_pairs projection. Chunks split MID-ORDER (an order's
    line items land in different chunks) and arrive out of order; the
    final snapshot must equal spearman_corr_report exactly, and a
    checkpoint replay changes nothing."""
    from jira_cdc_git_spark.operators.relational import spearman_corr_report
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_spearman

    li = load_table(spark, "lineitem", sf_dir).orderBy(
        "l_orderkey", "l_linenumber"
    )
    rows = li.collect()
    # cut points nudged off the natural thirds so multi-line orders in
    # the orderkey-sorted collect split across chunk boundaries
    c1, c2 = len(rows) // 3 + 1, 2 * len(rows) // 3 + 1
    feed_dir = str(tmp_path / "feed")
    for chunk in (rows[c1:c2], rows[:c1], rows[c2:]):
        spark.createDataFrame(chunk, li.schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)

    out_root = str(tmp_path / "sp")
    ckpt = str(tmp_path / "ckpt")
    streaming_spearman(spark, feed_dir, li.schema, ckpt, out_root, sf_dir)

    def snap():
        return {
            (r["n"], r["pearson_r"], r["spearman_rho"])
            for r in spark.read.parquet(f"{out_root}/spearman").collect()
        }

    got = snap()
    want = {
        (r["n"], r["pearson_r"], r["spearman_rho"])
        for r in spearman_corr_report(spark, sf_dir).collect()
    }
    assert got == want
    # state holds every order's full line count (nothing lost/doubled)
    state = spark.read.parquet(f"{out_root}/spearman_state")
    assert state.count() == li.select("l_orderkey").distinct().count()
    assert state.agg(F.sum("n_items")).first()[0] == len(rows)
    # idempotent re-run: same checkpoint, snapshot unchanged
    streaming_spearman(spark, feed_dir, li.schema, ckpt, out_root, sf_dir)
    assert snap() == want


def test_streaming_spearman_torn_swap_recovers_state(
    spark, sf_dir, tmp_path
):
    """Crash INSIDE _swap_dir_atomic's rename window (only
    spearman_state.bak survives): the next run must restore the .bak
    via _recover_dir and fold the second half into the RECOVERED
    counts, not silently reinitialize from empty (r9 advice
    discipline)."""
    import os

    from jira_cdc_git_spark.operators.relational import spearman_corr_report
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_spearman

    li = load_table(spark, "lineitem", sf_dir).orderBy(
        "l_orderkey", "l_linenumber"
    )
    rows = li.collect()
    c1 = len(rows) // 2 + 1  # mid-order cut
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(rows[:c1], li.schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)

    out_root = str(tmp_path / "sp")
    ckpt = str(tmp_path / "ckpt")
    streaming_spearman(spark, feed_dir, li.schema, ckpt, out_root, sf_dir)

    state_dir = f"{out_root}/spearman_state"
    os.replace(state_dir, state_dir + ".bak")
    snap_dir = f"{out_root}/spearman"
    os.replace(snap_dir, snap_dir + ".bak")

    spark.createDataFrame(rows[c1:], li.schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)
    streaming_spearman(spark, feed_dir, li.schema, ckpt, out_root, sf_dir)

    state = spark.read.parquet(state_dir)
    assert state.agg(F.sum("n_items")).first()[0] == len(rows)
    got = {
        (r["n"], r["pearson_r"], r["spearman_rho"])
        for r in spark.read.parquet(snap_dir).collect()
    }
    want = {
        (r["n"], r["pearson_r"], r["spearman_rho"])
        for r in spearman_corr_report(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_bm25_stateful_batch_parity(spark, sf_dir, tmp_path):
    """The TWELFTH stateful twin: the query-term posting list and the
    corpus totals fold incrementally (abelian sums, each state dir
    guarded by its own applied_batch_id); the ranking snapshot derives
    from committed state through the batch operator's own
    bm25_score_topk projection. Document chunks arrive out of order;
    the final snapshot must equal bm25_topk exactly — ranks, matched
    terms, AND scores (avgdl/idf derive from the same exact integer
    sums) — and a checkpoint replay changes nothing."""
    from jira_cdc_git_spark.operators.text import bm25_topk
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_bm25_topk

    docs = load_table(spark, "documents", sf_dir).orderBy("doc_id")
    rows = docs.collect()
    c1, c2 = len(rows) // 3, 2 * len(rows) // 3
    feed_dir = str(tmp_path / "feed")
    for chunk in (rows[c1:c2], rows[:c1], rows[c2:]):
        spark.createDataFrame(chunk, docs.schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed_dir)

    out_root = str(tmp_path / "bm")
    ckpt = str(tmp_path / "ckpt")
    streaming_bm25_topk(spark, feed_dir, docs.schema, ckpt, out_root)

    def snap():
        return {
            r["doc_id"]: (r["rank"], r["n_terms"], r["score"])
            for r in spark.read.parquet(f"{out_root}/bm25").collect()
        }

    got = snap()
    want = {
        r["doc_id"]: (r["rank"], r["n_terms"], r["score"])
        for r in bm25_topk(spark, sf_dir).collect()
    }
    assert got == want
    # totals state carries the WHOLE corpus (not just matching docs)
    totals = spark.read.parquet(f"{out_root}/bm25_totals").first()
    assert totals["n_docs"] == len(rows)
    # idempotent re-run: same checkpoint, snapshot unchanged
    streaming_bm25_topk(spark, feed_dir, docs.schema, ckpt, out_root)
    assert snap() == want


def test_streaming_bm25_torn_swap_recovers_state(spark, sf_dir, tmp_path):
    """Crash in the window where the POSTINGS swap committed but the
    TOTALS swap did not (only totals .bak survives): the per-dir
    applied_batch_id guard must re-fold the second half into totals
    ONLY, and the healed snapshot must equal the batch ranking."""
    import os

    from jira_cdc_git_spark.operators.text import bm25_topk
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_bm25_topk

    docs = load_table(spark, "documents", sf_dir).orderBy("doc_id")
    rows = docs.collect()
    c1 = len(rows) // 2
    feed_dir = str(tmp_path / "feed")
    spark.createDataFrame(rows[:c1], docs.schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)

    out_root = str(tmp_path / "bm")
    ckpt = str(tmp_path / "ckpt")
    streaming_bm25_topk(spark, feed_dir, docs.schema, ckpt, out_root)

    # simulate the torn swap on BOTH state dirs + the snapshot
    for dpath in (
        f"{out_root}/bm25_postings",
        f"{out_root}/bm25_totals",
        f"{out_root}/bm25",
    ):
        os.replace(dpath, dpath + ".bak")

    spark.createDataFrame(rows[c1:], docs.schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed_dir)
    streaming_bm25_topk(spark, feed_dir, docs.schema, ckpt, out_root)

    totals = spark.read.parquet(f"{out_root}/bm25_totals").first()
    assert totals["n_docs"] == len(rows)
    got = {
        r["doc_id"]: (r["rank"], r["n_terms"], r["score"])
        for r in spark.read.parquet(f"{out_root}/bm25").collect()
    }
    want = {
        r["doc_id"]: (r["rank"], r["n_terms"], r["score"])
        for r in bm25_topk(spark, sf_dir).collect()
    }
    assert got == want


def _torn_swap(df, live):
    """_swap_dir_atomic dying between its two renames: the new table is
    written to .tmp and the live dir moved aside to .bak, but .tmp never
    lands — only .bak holds committed data."""
    import os

    df.write.mode("overwrite").parquet(live + ".tmp")
    if os.path.isdir(live):
        os.replace(live, live + ".bak")
    raise RuntimeError("injected crash between the swap's renames")


@pytest.mark.parametrize(
    "fault, at_call, torn_dir",
    [
        ("raise", 3, None),  # before batch 1's state swap
        ("raise", 4, None),  # between batch 1's state and snapshot swaps
        ("torn", 3, "benford_state"),  # torn state rename: only .bak left
        ("torn", 4, "benford"),  # torn FINAL swap of the run
    ],
    ids=["before_state_swap", "state_then_crash", "torn_state", "torn_final"],
)
def test_stateful_harness_crash_at_every_write_boundary(
    spark, sf_dir, tmp_path, monkeypatch, fault, at_call, torn_dir
):
    """Crash injection at each write boundary of the shared stateful
    harness (two batches; swap calls per batch: state, then snapshot).
    After a restart on the same checkpoint the state holds every row
    exactly once (no double fold, marker at the last batch) and the
    snapshot equals the batch operator. A torn final swap is also healed
    before the next start when no new data arrives (no batch fires)."""
    import os

    import jira_cdc_git_spark.state as STATE
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from jira_cdc_git_spark.operators.relational import (
        benford_deviation_report,
    )
    from jira_cdc_git_spark.sources.registry import load_table
    from jira_cdc_git_spark.streaming.pipeline import streaming_benford

    od = load_table(spark, "orders", sf_dir).orderBy("o_orderkey")
    rows = od.collect()
    c1 = len(rows) // 2
    orders_dir = str(tmp_path / "feed")
    for chunk in (rows[:c1], rows[c1:]):
        spark.createDataFrame(chunk, od.schema).coalesce(1).write.mode(
            "append"
        ).parquet(orders_dir)
    out_root = str(tmp_path / "ben")
    ckpt = str(tmp_path / "ckpt")
    state_dir, snap_dir = f"{out_root}/benford_state", f"{out_root}/benford"

    real_swap = STATE._swap_dir_atomic
    calls = {"n": 0}

    def faulty_swap(df, path):
        calls["n"] += 1
        if calls["n"] == at_call:
            if fault == "torn":
                _torn_swap(df, path)
            raise RuntimeError("injected crash before the swap")
        real_swap(df, path)

    monkeypatch.setattr(STATE, "_swap_dir_atomic", faulty_swap)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)
    if torn_dir is not None:
        torn = f"{out_root}/{torn_dir}"
        assert not os.path.isdir(torn) and os.path.isdir(torn + ".bak")

    monkeypatch.setattr(STATE, "_swap_dir_atomic", real_swap)
    streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)

    n_priced = od.filter(F.col("o_totalprice") >= 1.0).count()
    want = {
        r["digit"]: (r["n"], r["chi2_stat"])
        for r in benford_deviation_report(spark, sf_dir).collect()
    }

    def check():
        state = spark.read.parquet(state_dir)
        assert state.agg(F.sum("n")).first()[0] == n_priced
        assert state.agg(F.max("applied_batch_id")).first()[0] == 1
        got = {
            r["digit"]: (r["n"], r["chi2_stat"])
            for r in spark.read.parquet(snap_dir).collect()
        }
        assert got == want

    check()
    if torn_dir == "benford":
        # the same tear after a completed run, restarted with no new data
        os.replace(snap_dir, snap_dir + ".bak")
        streaming_benford(spark, orders_dir, od.schema, ckpt, out_root)
        check()


def test_streaming_ivm_counts_torn_final_swap_heals(spark, sf_dir, tmp_path):
    """The counts table IS the twin's output: a torn final swap leaves
    only counts.bak, and a restart with no new data (no batch fires)
    must restore it before the stream starts — the counts then still
    equal a full recompute, folded exactly once."""
    import os

    from jira_cdc_git_spark.streaming.pipeline import streaming_ivm_counts

    iss = FX.issues(spark, sf_dir).select(
        "key", "project_key", "status", "issuetype"
    )
    feed_dir = str(tmp_path / "feed")
    for i in range(2):
        iss.filter(F.crc32(F.col("key")) % 2 == i).write.mode("append").parquet(
            feed_dir
        )
    counts_dir = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")
    streaming_ivm_counts(spark, feed_dir, iss.schema, ckpt, counts_dir)
    os.replace(counts_dir, counts_dir + ".bak")

    streaming_ivm_counts(spark, feed_dir, iss.schema, ckpt, counts_dir)
    assert os.path.isdir(counts_dir), "pre-start recovery must restore .bak"
    got = {
        (r["project_key"], r["status_name"]): r["n_issues"]
        for r in spark.read.parquet(counts_dir).collect()
    }
    want = {
        (r["project_key"], r["status_name"]): r["n"]
        for r in iss.groupBy(
            "project_key", F.col("status.name").alias("status_name")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want

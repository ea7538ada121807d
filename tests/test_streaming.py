"""Streaming tests: drive the streaming operators to completion with a
file source + memory sink (synchronous via processAllAvailable)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dog_data_pipeline_spark.streaming import (
    dead_letter_for_each_batch,
    dedup_stream,
    flagship_stream,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
)
from dog_data_pipeline_spark.streaming.stateful import running_track_state
from dog_data_pipeline_spark.tables import load
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # copy the events parquet into a dir the file-stream source can list
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def test_streaming_tumbling_matches_batch(spark, events_dir):
    stream = stream_events(spark, events_dir)
    agg = tumbling_agg(stream, duration="1 hour", watermark="1 minute")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT CAST(unix_timestamp(win_start) AS BIGINT) w, user_id, n_events FROM tumbling_out"
    )
    batch = (
        load(spark, SF_DIR, "events")
        .groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # watermark: windows at the stream's tail may be unclosed in append
    # mode only if no later data arrived; availableNow + final commit
    # flushes all — compare as sets, allowing the final window to lag
    g = {(r["w"], r["user_id"], r["n_events"]) for r in got.collect()}
    b = {(r["w"], r["user_id"], r["n_events"]) for r in batch.collect()}
    missing = b - g
    max_w = max(w for w, _, _ in b)
    assert all(w == max_w for w, _, _ in missing), f"non-tail windows missing: {missing}"
    assert not (g - b), "streaming produced windows batch did not"


def test_streaming_sliding_windows_overlap(spark, events_dir):
    stream = stream_events(spark, events_dir)
    agg = sliding_agg(stream, duration="2 hours", slide="1 hour", watermark="1 minute")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sliding_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sliding_out")
    # every event lands in exactly 2 sliding windows -> total count ~ 2x
    batch_n = load(spark, SF_DIR, "events").count()
    total = got.agg(F.sum("n_events")).collect()[0][0]
    assert total >= int(batch_n * 1.9)  # tail windows may lag the watermark
    assert total <= batch_n * 2


def test_streaming_session_windows(spark, events_dir):
    stream = stream_events(spark, events_dir)
    agg = session_agg(stream, gap="30 minutes", watermark="1 minute")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("session_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM session_out")
    assert got.count() > 0
    # sessions per user are disjoint: session end = last event + gap, so
    # the next session must START strictly after the previous END (its
    # first event is > gap after the previous session's last event)
    r = got.orderBy("user_id", "session_start").collect()
    by_user: dict[int, list] = {}
    for row in r:
        by_user.setdefault(row["user_id"], []).append(row)
    for rows in by_user.values():
        for a, b in zip(rows, rows[1:]):
            assert (b["session_start"] - a["session_end"]).total_seconds() > 0


def test_streaming_dead_letter_foreach_batch(spark, events_dir):
    ok_rows, err_rows = [], []
    route = dead_letter_for_each_batch(
        ok=(F.col("event_type") != "error"),
        error_expr=F.lit("error event"),
        ok_sink=lambda df, _e: ok_rows.append(df.count()),
        err_sink=lambda df, _e: err_rows.append(df.count()),
    )
    stream = stream_events(spark, events_dir)
    q = stream.writeStream.foreachBatch(route).trigger(availableNow=True).start()
    q.awaitTermination(120)
    batch = load(spark, SF_DIR, "events")
    n_err = batch.filter(F.col("event_type") == "error").count()
    assert sum(err_rows) == n_err
    assert sum(ok_rows) == batch.count() - n_err


def test_streaming_flagship_matches_batch_query(spark, events_dir):
    """The streaming flagship must agree with the batch flagship for all
    watermark-closed windows — batch/streaming unification of the
    engine's signature query."""
    from dog_data_pipeline_spark.queries import REGISTRY

    stream = stream_events(spark, events_dir)
    out = flagship_stream(stream, duration="1 hour", watermark="1 minute")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("flagship_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (int(r["w"]), r["user_id"], r["n_events"], r["click_freq"], r["padded_max"])
        for r in spark.sql(
            "SELECT CAST(unix_timestamp(win_start) AS BIGINT) w, user_id, n_events,"
            " click_freq, padded_max FROM flagship_out"
        ).collect()
    }
    batch = {
        (r["win_start"], r["user_id"], r["n_events"], r["click_freq"], r["padded_max"])
        for r in REGISTRY["flagship_segment_stats"].fn(spark, SF_DIR).collect()
    }
    missing = batch - got
    max_w = max(w for w, *_ in batch)
    assert all(w == max_w for w, *_ in missing), f"non-tail window diff: {missing}"
    assert not (got - batch)


def test_streaming_checkpoint_resume_no_duplicates(spark, tmp_path):
    """T4: checkpointed restart continues from the recorded offset —
    re-running the stream with the same checkpoint must not reprocess."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    from dog_data_pipeline_spark.tables import load

    events = load(spark, SF_DIR, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.write.parquet(str(src / "batch1"))

    counts = []
    route = lambda df, _e: counts.append(df.count())

    def run_once():
        stream = spark.readStream.schema(half1.schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(route)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = sum(counts)
    assert n1 == half1.count()
    half2.write.parquet(str(src / "batch2"))
    run_once()  # restart with same checkpoint: only the new file
    assert sum(counts) == events.count()  # no reprocessing of batch1


def test_streaming_upsert_kill_and_resume_exactly_once(spark, tmp_path, monkeypatch):
    """T4 hard mode (round-2 verdict item): a rate-limited stream
    (maxFilesPerTrigger=1) through the upsert foreachBatch sink is
    KILLED mid-stream by an injected micro-batch failure, then resumed
    from the same checkpoint — the failed batch replays, committed
    batches don't, and the final corpus holds every key exactly once."""
    import dog_data_pipeline_spark.sources.sharding as sharding_mod
    from dog_data_pipeline_spark.streaming.upsert import upsert_sink
    from dog_data_pipeline_spark.tables import load

    src = tmp_path / "src"
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    docs = (
        load(spark, SF_DIR, "documents")
        .select("doc_id", "text", "source")
        .limit(200)
    )
    # 4 part files + maxFilesPerTrigger=1 -> 4 micro-batches
    docs.repartition(4).write.parquet(str(src))
    n_keys = docs.select("doc_id").distinct().count()

    real_upsert = sharding_mod.upsert_sharded
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected micro-batch crash")
        return real_upsert(*args, **kwargs)

    monkeypatch.setattr(sharding_mod, "upsert_sharded", flaky)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = upsert_sink(stream, out, "doc_id", ckpt, num_shards=4)
    with pytest.raises(Exception, match="injected micro-batch crash"):
        q.awaitTermination(180)
        raise AssertionError("query should have failed on batch 3")
    assert calls["n"] == 3  # two committed batches, one failed

    # resume with the SAME checkpoint, failure gone: the failed batch
    # replays, the committed ones are skipped
    monkeypatch.setattr(sharding_mod, "upsert_sharded", real_upsert)
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q2 = upsert_sink(stream2, out, "doc_id", ckpt, num_shards=4)
    q2.awaitTermination(180)

    final = spark.read.parquet(out)
    assert final.count() == n_keys  # exactly once, no replay duplicates
    assert final.select("doc_id").distinct().count() == n_keys
    src_keys = {r["doc_id"] for r in docs.select("doc_id").collect()}
    out_keys = {r["doc_id"] for r in final.select("doc_id").collect()}
    assert out_keys == src_keys


def test_streaming_transform_with_state_new_peaks(spark, events_dir):
    # transformWithStateInPandas needs google.protobuf (state protocol) —
    # not shipped in this image; the operator is implemented and this
    # test runs wherever protobuf is available
    pytest.importorskip("google.protobuf.descriptor")
    from dog_data_pipeline_spark.streaming.stateful import new_peak_events

    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = stream_events(spark, events_dir)
    out = new_peak_events(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("peaks_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"])
        for r in spark.sql("SELECT user_id, event_id FROM peaks_out").collect()
    }
    # independent re-derivation: an event is a peak iff its value exceeds
    # every earlier (by event_id) value of the same user
    rows = load(spark, SF_DIR, "events").select("user_id", "event_id", "value").collect()
    expected = set()
    best: dict[int, float] = {}
    for r in sorted(rows, key=lambda r: r["event_id"]):
        if r["value"] > best.get(r["user_id"], float("-inf")):
            best[r["user_id"]] = r["value"]
            expected.add((r["user_id"], r["event_id"]))
    assert got == expected


def test_streaming_dedup_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first occurrence per key
    and drops duplicates arriving in LATER micro-batches (state carries
    across batches): two copies of the same file, one file per trigger,
    must yield exactly the batch-distinct count."""
    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "b.parquet")

    stream = stream_events(spark, str(d), max_files_per_trigger=1)
    deduped = dedup_stream(stream, keys=["event_id"], watermark="1 day")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_out").count()
    expected = (
        load(spark, SF_DIR, "events").select("event_id").distinct().count()
    )
    assert got == expected


def test_streaming_stateful_running_track(spark, events_dir):
    stream = stream_events(spark, events_dir)
    out = running_track_state(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("track_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["value_max"])
        for r in spark.sql(
            "SELECT user_id, n_events, value_max FROM track_out"
        ).collect()
    }
    batch = load(spark, SF_DIR, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("m")
    )
    expected = {r["user_id"]: (r["n"], r["m"]) for r in batch.collect()}
    assert got == expected


def test_streaming_video_ingest_matches_batch_and_resumes(spark, tmp_path):
    """Streaming media ingest: blob dir -> detections parquet via the
    fused track operator, exactly-once across a checkpointed restart,
    and row-identical to the batch path on the same corpus."""
    from dog_data_pipeline_spark.multimodal import codec
    from dog_data_pipeline_spark.multimodal.video import track_videos
    from dog_data_pipeline_spark.streaming import ingest_video_detections

    def frames(seed, n, w, h):
        return [
            bytes([(seed * 31 + i * 7 + j) % 251 for j in range(w * h)])
            for i in range(n)
        ]

    wave1 = [
        ("v1", codec.make_fake_video(2, 8, 6, frames(1, 5, 8, 6))),
        ("v2", codec.make_fake_video(3, 10, 4, frames(2, 7, 10, 4))),
    ]
    wave2 = [("v3", codec.make_fake_video(2, 6, 6, frames(3, 4, 6, 6)))]
    schema = "video_id STRING, content BINARY"
    src = str(tmp_path / "blobs")
    dst = str(tmp_path / "detections")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(wave1, schema).write.parquet(src)

    q = ingest_video_detections(spark, src, dst, ckpt, num_partitions=4)
    q.awaitTermination(120)
    got1 = spark.read.parquet(dst)
    batch1 = track_videos(spark.createDataFrame(wave1, schema), num_partitions=4)
    key = lambda r: (r["video_id"], r["frame_idx"], r["subject_id"])
    assert sorted(map(key, got1.collect())) == sorted(map(key, batch1.collect()))

    # second wave lands; same checkpoint -> only the new file is processed
    spark.createDataFrame(wave2, schema).write.mode("append").parquet(src)
    q2 = ingest_video_detections(spark, src, dst, ckpt, num_partitions=4)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(dst)
    both = track_videos(
        spark.createDataFrame(wave1 + wave2, schema), num_partitions=4
    )
    assert sorted(map(key, got2.collect())) == sorted(map(key, both.collect()))
    # exactly-once: v1/v2 rows were not duplicated by the restart
    assert got2.groupBy("video_id", "frame_idx", "subject_id").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, tmp_path_factory):
    from dog_data_pipeline_spark.streaming.joins import interval_join_streams

    # split events by parity into two streams: clicks enrich with the
    # other stream's events for the same user within +/- 30 minutes
    base = load(spark, SF_DIR, "events")
    d_l = tmp_path_factory.mktemp("ss_left")
    d_r = tmp_path_factory.mktemp("ss_right")
    left_b = base.filter(F.col("event_id") % 2 == 0).select("event_id", "ts", "user_id")
    right_b = base.filter(F.col("event_id") % 2 == 1).select("event_id", "ts", "user_id")
    left_b.write.mode("overwrite").parquet(str(d_l))
    right_b.write.mode("overwrite").parquet(str(d_r))

    schema = left_b.schema
    ls = spark.readStream.schema(schema).parquet(str(d_l))
    rs = spark.readStream.schema(schema).parquet(str(d_r))
    out = interval_join_streams(
        ls, rs, ["user_id"],
        lower="interval 30 minutes", upper="interval 30 minutes",
        watermark="1 hour",
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("ss_join_out").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("ss_join_out").select("event_id", "r_event_id").collect()

    expect = (
        left_b.alias("l")
        .join(right_b.alias("r"), "user_id")
        .filter(
            (F.col("r.ts") >= F.expr("l.ts - interval 30 minutes"))
            & (F.col("r.ts") <= F.expr("l.ts + interval 30 minutes"))
        )
        .select(F.col("l.event_id").alias("event_id"), F.col("r.event_id").alias("r_event_id"))
        .collect()
    )
    assert len(got) > 0
    assert {(r["event_id"], r["r_event_id"]) for r in got} == {
        (r["event_id"], r["r_event_id"]) for r in expect
    }


def test_stream_stream_join_requires_no_unbounded_state(spark, tmp_path_factory):
    from dog_data_pipeline_spark.streaming.joins import interval_join_streams

    base = load(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    d = tmp_path_factory.mktemp("ss_state")
    base.write.mode("overwrite").parquet(str(d))
    s1 = spark.readStream.schema(base.schema).parquet(str(d))
    s2 = spark.readStream.schema(base.schema).parquet(str(d))
    out = interval_join_streams(s1, s2, ["user_id"], watermark="10 minutes")
    # both watermarks + the interval condition must be in the analyzed
    # plan — that's what lets the engine evict join state
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2


def test_streaming_quality_scoring_and_redaction_compose(spark, tmp_path):
    """The map-only curation operators (quality score, repetition
    profile, PII redaction) are pure column expressions, so they run
    unchanged on a stream — prove it by comparing against batch."""
    from dog_data_pipeline_spark.operators.privacy import redact_pii
    from dog_data_pipeline_spark.operators.text import (
        with_quality_score,
        with_repetition_profile,
    )

    docs = load(spark, SF_DIR, "documents")
    d = tmp_path / "docs_stream"
    docs.write.mode("overwrite").parquet(str(d))

    def curate(df):
        scored = with_repetition_profile(with_quality_score(df, "text"), "text")
        return scored.filter(
            (F.col("quality") >= 0.5) & (F.col("dup_token_frac") < 0.7)
        ).select("doc_id", redact_pii(F.col("text")).alias("text"), "quality")

    stream = spark.readStream.schema(docs.schema).parquet(str(d))
    q = (
        curate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("curated_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.table("curated_stream").collect()}
    expect = {r["doc_id"] for r in curate(docs).collect()}
    assert got == expect and len(got) > 0


# ---------------------------------------------------------------------------
# streaming incremental near-dedup (signature index maintained by stream)
# ---------------------------------------------------------------------------

def _dup_docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, ["doc_id", "text"])


def _uniq_text(seed, ntok=30):
    return " ".join(f"w{seed}_{j}" for j in range(ntok))


def test_streaming_incremental_dedup_across_batches(spark, tmp_path):
    from dog_data_pipeline_spark.streaming.dedup_incremental import (
        dedup_stream_incremental,
        read_dup_pairs,
    )

    src = tmp_path / "in"
    src.mkdir()
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    batch1 = _dup_docs(
        spark, [(1, _uniq_text(1)), (2, _uniq_text(2)), (3, _uniq_text(3))]
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))

    def run():
        stream = spark.readStream.schema(batch1.schema).parquet(str(src))
        q = dedup_stream_incremental(
            stream, index, pairs, ckpt,
            id_col="doc_id", est_threshold=0.5,
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(index).count() == 3
    assert read_dup_pairs(spark, pairs).count() == 0

    # batch 2: doc 11 duplicates OLD doc 2; docs 12/13 duplicate each
    # other; doc 14 unique
    batch2 = _dup_docs(
        spark,
        [
            (11, _uniq_text(2)),
            (12, _uniq_text(9)),
            (13, _uniq_text(9)),
            (14, _uniq_text(4)),
        ],
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    run()

    got = {
        (r["id_a"], r["id_b"]) for r in read_dup_pairs(spark, pairs).collect()
    }
    assert (2, 11) in got, got       # batch-vs-index, index id on the left
    assert (12, 13) in got, got      # batch-internal
    assert all(b in {11, 12, 13, 14} for _, b in got)
    assert spark.read.parquet(index).count() == 7

    # replay the WHOLE input (fresh checkpoint, same index/pairs): the
    # anti-join guard keeps replayed ids from self-pairing, and the
    # pair-key dedup in read_dup_pairs absorbs the double append
    shutil.rmtree(ckpt)
    run()
    run2 = {
        (r["id_a"], r["id_b"]) for r in read_dup_pairs(spark, pairs).collect()
    }
    assert run2 == got
    # index now holds replayed signature rows too; ids stay the same set
    ids = {r["id"] for r in spark.read.parquet(index).select("id").distinct().collect()}
    assert ids == {1, 2, 3, 11, 12, 13, 14}


# ---------------------------------------------------------------------------
# streaming benchmark span scrub (static benchmark vs document stream)
# ---------------------------------------------------------------------------

def test_streaming_span_scrub_matches_batch_and_resumes(spark, tmp_path):
    """The stream must produce byte-identical scrubbed text to the batch
    operator, and a second availableNow run over the same checkpoint
    must add nothing (exactly-once at the source level)."""
    from dog_data_pipeline_spark.operators.contamination import (
        scrub_contaminated_spans,
    )
    from dog_data_pipeline_spark.streaming.contamination import (
        scrub_stream_contaminated,
    )

    docs = load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("source") != "src1").select("doc_id", "text")
    bench = docs.filter(F.col("source") == "src1").select("doc_id", "text")
    src = tmp_path / "scrub_src"
    out = tmp_path / "scrub_out"
    ckpt = tmp_path / "scrub_ckpt"
    corpus.write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(corpus.schema).parquet(str(src))
    q = scrub_stream_contaminated(
        stream, bench, str(out), str(ckpt), window_tokens=8
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in spark.read.parquet(str(out)).collect()
    }
    expect = {
        r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
        for r in scrub_contaminated_spans(
            corpus, bench, window_tokens=8
        ).collect()
    }
    assert got == expect
    assert any(n > 0 for _, n in got.values())  # the planted overlap scrubs

    # resume over the same checkpoint: no new input -> no new rows
    n_before = spark.read.parquet(str(out)).count()
    stream2 = spark.readStream.schema(corpus.schema).parquet(str(src))
    q2 = scrub_stream_contaminated(
        stream2, bench, str(out), str(ckpt), window_tokens=8
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == n_before


def test_streaming_incremental_span_dedup_matches_batch_prefix(spark, tmp_path):
    """Two micro-batches through the window-fingerprint index must flag
    exactly the spans `duplicate_spans` finds over the concatenated
    prefix, restricted to each batch's docs; a replay adds nothing new."""
    from dog_data_pipeline_spark.operators.dedup import duplicate_spans
    from dog_data_pipeline_spark.streaming.contamination import (
        span_dedup_stream_incremental,
    )

    boiler = " ".join(f"b{i}" for i in range(20))

    def doc(i, with_boiler):
        uniq = " ".join(f"u{i}_{j}" for j in range(25))
        return (i, f"{uniq} {boiler}" if with_boiler else uniq)

    batch1 = [doc(1, True), doc(2, False), doc(3, True)]   # 3 repeats 1's boiler
    batch2 = [doc(11, True), doc(12, False), doc(1, True)]  # replayed id 1 too
    src = tmp_path / "span_src"
    idx = tmp_path / "span_idx"
    spans_out = tmp_path / "span_out"
    ckpt = tmp_path / "span_ckpt"

    schema = "doc_id LONG, text STRING"
    spark.createDataFrame(batch1, schema).write.mode("overwrite").parquet(str(src))
    q = span_dedup_stream_incremental(
        spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        ).parquet(str(src)),
        str(idx), str(spans_out), str(ckpt), window_tokens=16,
    )
    q.awaitTermination(120)
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(str(src))
    q2 = span_dedup_stream_incremental(
        spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        ).parquet(str(src)),
        str(idx), str(spans_out), str(ckpt), window_tokens=16,
    )
    q2.awaitTermination(120)

    got = {
        (r.id, r.span_start, r.span_end)
        for r in spark.read.parquet(str(spans_out)).collect()
    }
    # batch semantics: batch1's spans over batch1 alone; batch2's spans
    # over batch1 ∪ batch2 restricted to batch2's docs (id 1 replays in
    # batch2 and its windows are already indexed, so its boiler flags)
    all_docs = spark.createDataFrame(batch1 + batch2, schema).dropDuplicates(
        ["doc_id"]
    )
    ref_all = {
        (r.id, r.span_start, r.span_end)
        for r in duplicate_spans(all_docs, "doc_id", "text", 16).collect()
    }
    b1_ids = {1, 2, 3}
    ref_b1 = {
        (r.id, r.span_start, r.span_end)
        for r in duplicate_spans(
            spark.createDataFrame(batch1, schema), "doc_id", "text", 16
        ).collect()
    }
    # batch2 doc 1 is a REPLAYED id: its windows were indexed by batch1,
    # so in the stream its boiler (and unique prefix) flag against the
    # index — the batch-prefix reference is ref_all for non-b1 docs plus
    # doc 1's full-duplicate span
    expect = ref_b1 | {s for s in ref_all if s[0] not in b1_ids}
    got_new_docs = {s for s in got if s[0] not in b1_ids}
    exp_new_docs = {s for s in expect if s[0] not in b1_ids}
    assert got_new_docs == exp_new_docs
    assert {s for s in got if s[0] in b1_ids and s[0] != 1} == {
        s for s in ref_b1 if s[0] != 1
    }
    assert len(got) > 0


def test_streaming_distinct_state_matches_batch_and_replay_is_idempotent(
    spark, tmp_path
):
    """HLL state maintained across micro-batches equals a single-pass
    batch sketch EXACTLY at sparse-mode cardinality, and re-processing a
    batch (at-least-once replay) leaves the state unchanged — the sketch
    algebra's idempotence is the exactly-once mechanism."""
    import shutil

    from dog_data_pipeline_spark.operators.incremental import (
        distinct_partials,
        read_distinct_state,
    )
    from dog_data_pipeline_spark.streaming.distinct_state import (
        distinct_state_stream,
        read_distinct_counts,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    full = load(spark, SF_DIR, "events").select("user_id", "event_type")
    # two files -> maxFilesPerTrigger=1 gives two micro-batches
    half1 = full.filter(F.col("user_id") % 2 == 0)
    half2 = full.filter(F.col("user_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(src / "b1"))
    half2.coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = distinct_state_stream(
        stream, state, ck, ["event_type"], "user_id"
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: r["distinct_est"]
        for r in read_distinct_counts(spark, state, ["event_type"]).collect()
    }
    batch = {
        r["event_type"]: r["distinct_est"]
        for r in read_distinct_state(
            distinct_partials(full, ["event_type"], "user_id"),
            ["event_type"],
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in full.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    # sparse-mode cardinalities: streamed merge == batch sketch == exact
    assert got == batch == exact

    # replay idempotence: wipe the checkpoint so the SAME files re-run
    # as fresh batches against the existing state — estimates unchanged
    shutil.rmtree(ck)
    q2 = distinct_state_stream(
        stream, state, str(tmp_path / "ck2"), ["event_type"], "user_id"
    )
    q2.awaitTermination(120)
    again = {
        r["event_type"]: r["distinct_est"]
        for r in read_distinct_counts(spark, state, ["event_type"]).collect()
    }
    assert again == got


def test_streaming_distinct_state_recovers_from_crash_window(spark, tmp_path):
    """Simulate the crash point between the two swap renames (state dir
    gone, deterministic backup present): the next batch must restore
    the backup instead of silently re-initializing from itself."""
    import shutil

    from dog_data_pipeline_spark.streaming.distinct_state import (
        distinct_state_stream,
        read_distinct_counts,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = tmp_path / "state"

    full = load(spark, SF_DIR, "events").select("user_id", "event_type")
    full.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema(full.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    distinct_state_stream(
        stream, str(state), str(tmp_path / "ck1"), ["event_type"], "user_id"
    ).awaitTermination(120)
    before = {
        r["event_type"]: r["distinct_est"]
        for r in read_distinct_counts(spark, str(state), ["event_type"]).collect()
    }
    # crash window: state renamed to backup, new state never swapped in
    shutil.move(str(state), str(tmp_path / "state.old"))
    # second batch arrives
    full.filter(F.col("user_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream2 = (
        spark.readStream.schema(full.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    distinct_state_stream(
        stream2, str(state), str(tmp_path / "ck2"), ["event_type"], "user_id"
    ).awaitTermination(120)
    exact = {
        r["event_type"]: r["n"]
        for r in full.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        r["event_type"]: r["distinct_est"]
        for r in read_distinct_counts(spark, str(state), ["event_type"]).collect()
    }
    # recovered backup + both batches (replay is idempotent) == exact
    assert got == exact
    assert all(got[k] >= before[k] for k in before)


def test_streaming_stateful_state_survives_restart(spark, tmp_path):
    """T3+T4 composed: applyInPandasWithState state is RESTORED from the
    state store on a checkpointed restart. Wave 1 (2 files) runs to
    completion and the query STOPS; wave 2 (2 more files) is processed
    by a brand-new query over the same checkpoint — its emitted running
    counters must continue from wave 1's totals (state recovered), not
    restart from zero (state lost)."""
    events = load(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_track_state(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for k in (0, 1):
        events.filter(F.col("event_id") % 4 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    run_once()
    for k in (2, 3):
        events.filter(F.col("event_id") % 4 == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    run_once()  # same checkpoint: only the new files, resumed state

    final: dict = {}
    for r in collected:  # running counters: the max emission is the latest
        cur = final.get(r["user_id"], (0, float("-inf")))
        final[r["user_id"]] = (
            max(cur[0], r["n_events"]),
            max(cur[1], r["value_max"]),
        )
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("m")
    )
    expected = {r["user_id"]: (r["n"], r["m"]) for r in batch.collect()}
    assert final == expected


def test_stream_ivf_ingest_reads_each_batch_once(spark):
    """The ingest sink must read each micro-batch's source once: the
    stream's reported input rows equal the rows the query stages."""
    import time

    import duckdb
    from pyspark.sql.streaming import StreamingQueryListener

    from dog_data_pipeline_spark.queries import REGISTRY

    seen = {"rows": 0, "terminated": 0}

    class _Rows(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen["rows"] += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            seen["terminated"] += 1

    listener = _Rows()
    spark.streams.addListener(listener)
    try:
        REGISTRY["stream_ivf_ingest"].fn(spark, SF_DIR).collect()
        deadline = time.time() + 60
        while seen["terminated"] < 2 and time.time() < deadline:
            time.sleep(0.2)  # listener events arrive asynchronously
    finally:
        spark.streams.removeListener(listener)
    staged = duckdb.sql(
        f"SELECT count(*) FROM '{SF_DIR}/embeddings.parquet' WHERE vec_id % 5 = 0"
    ).fetchone()[0]
    assert seen["terminated"] == 2
    assert seen["rows"] == staged


@pytest.mark.parametrize("bad_key", [None, -3])
def test_staged_bounded_streams_reject_unstageable_split_keys(
    spark, tmp_path, bad_key
):
    """A null or negative split key has no bucket in 0..n_files-1: staging
    must fail loudly instead of silently dropping the row."""
    from dog_data_pipeline_spark.queries import _staged_bounded_streams

    df = spark.createDataFrame([(1, "a"), (2, "b"), (bad_key, "c")], "k BIGINT, v STRING")
    good = spark.createDataFrame([(4, "d")], "k BIGINT, v STRING")
    sides = [(good, str(tmp_path / "l")), (df, str(tmp_path / "r"))]
    with pytest.raises(ValueError, match="non-negative"):
        _staged_bounded_streams(spark, sides, str(tmp_path / "stage"), 2, "k")
    assert not (tmp_path / "stage").exists()


def test_staged_bounded_streams_stage_every_row(spark, tmp_path):
    from dog_data_pipeline_spark.queries import _staged_bounded_streams

    df = spark.createDataFrame([(k, str(k)) for k in range(7)], "k BIGINT, v STRING")
    sides = [(df.filter("k < 3"), str(tmp_path / "l")), (df.filter("k >= 3"), str(tmp_path / "r"))]
    _staged_bounded_streams(spark, sides, str(tmp_path / "stage"), 2, "k")
    staged = sorted(
        r["k"] for side in ("l", "r")
        for r in spark.read.parquet(str(tmp_path / side / "src")).collect()
    )
    assert staged == list(range(7))
    assert sorted(p.name for p in (tmp_path / "l" / "src").iterdir()) == [
        "batch_0.parquet", "batch_1.parquet"]

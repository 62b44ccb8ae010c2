"""Streaming tests (SURVEY §5.2 item 5): batch-parity via availableNow +
memory sink, event-time windows with watermark late-data semantics.

The socket/tweepy path is replaced by replayable file sources (SURVEY
S13 note) — same transform code runs both modes.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from data_pipelines_course_spark.streaming import jobs

LINES1 = ["the quick brown fox", "jumps over the lazy dog", "the dog barks"]
LINES2 = ["quick quick fox", "lazy afternoon"]


@pytest.fixture()
def text_dir(tmp_path: pathlib.Path) -> pathlib.Path:
    d = tmp_path / "stream_in"
    d.mkdir()
    (d / "part1.txt").write_text("\n".join(LINES1) + "\n")
    (d / "part2.txt").write_text("\n".join(LINES2) + "\n")
    return d


def test_stream_batch_parity_wordcount(spark, text_dir):
    """The same wordcount transform over the same input must agree between
    a streaming (file-source, availableNow) run and a batch run."""
    stream_counts = jobs.wordcount_transform(
        jobs.file_lines(spark, str(text_dir)))
    q = jobs.run_available_now_to_memory(stream_counts, "wc_mem",
                                         mode="complete")
    try:
        got = {r["word"]: r["cnt"]
               for r in spark.sql("SELECT * FROM wc_mem").collect()}
        batch = {r["word"]: r["cnt"]
                 for r in jobs.wordcount_transform(
                     spark.read.text(str(text_dir))).collect()}
        assert got == batch
        assert got["the"] == 3
        assert got["quick"] == 3
    finally:
        q.stop()


def test_windowed_wordcount_event_time(spark, tmp_path):
    """Tumbling 60 s event-time windows: rows land in their window by
    timestamp, not arrival time."""
    src = tmp_path / "json_in"
    src.mkdir()
    rows = [
        '{"timestamp": "2024-01-01T00:00:10", "value": "alpha beta"}',
        '{"timestamp": "2024-01-01T00:00:50", "value": "alpha"}',
        '{"timestamp": "2024-01-01T00:01:10", "value": "beta"}',
    ]
    (src / "f1.json").write_text("\n".join(rows) + "\n")
    lines = (spark.readStream
             .schema("timestamp timestamp, value string")
             .json(str(src)))
    result = jobs.windowed_wordcount(lines, window="60 seconds",
                                     watermark="5 minutes")
    # complete mode: append would only emit windows already closed by the
    # watermark, and one availableNow batch never closes them.
    q = jobs.run_available_now_to_memory(result, "wwc_mem", mode="complete")
    try:
        got = {(str(r["window_start"]), r["word"]): r["cnt"]
               for r in spark.sql("SELECT * FROM wwc_mem").collect()}
        assert got[("2024-01-01 00:00:00", "alpha")] == 2
        assert got[("2024-01-01 00:00:00", "beta")] == 1
        assert got[("2024-01-01 00:01:00", "beta")] == 1
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: after the watermark advances past a window's
    close in batch 1, a row for that window arriving in batch 2 is
    discarded (append mode emits the window once, without the late row)."""
    src = tmp_path / "late_in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (src / "f1.json").write_text("\n".join([
        '{"timestamp": "2024-01-01T00:00:10", "value": "early"}',
        # Advances the watermark far past the first window (00:10 − 1 min).
        '{"timestamp": "2024-01-01T00:10:00", "value": "driver"}',
    ]) + "\n")
    lines = (spark.readStream
             .schema("timestamp timestamp, value string")
             .json(str(src)))
    result = jobs.windowed_wordcount(lines, window="60 seconds",
                                     watermark="1 minutes")

    out = str(tmp_path / "late_out")

    def drain():
        # File sink: the append-mode sink that supports checkpoint
        # recovery across two availableNow drains (memory sink doesn't).
        q = (result.writeStream.outputMode("append").format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    drain()  # batch 1: emits the closed 00:00 window with cnt=1
    # Batch 2: a straggler for the long-closed 00:00 window.
    (src / "f2.json").write_text(
        '{"timestamp": "2024-01-01T00:00:20", "value": "early"}\n')
    drain()
    rows = (spark.read.parquet(out)
            .filter(F.col("word") == "early").collect())
    # The late straggler must NOT bump the count: window emitted once, =1.
    assert [(r["word"], r["cnt"]) for r in rows] == [("early", 1)]


def test_session_windows(spark, tmp_path):
    src = tmp_path / "sess_in"
    src.mkdir()
    (src / "f1.json").write_text("\n".join([
        '{"ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0}',
        '{"ts": "2024-01-01T00:00:10", "user_id": 1, "value": 1.0}',
        # > 30 s gap → new session for user 1
        '{"ts": "2024-01-01T00:01:00", "user_id": 1, "value": 1.0}',
        '{"ts": "2024-01-01T00:00:05", "user_id": 2, "value": 1.0}',
        # Far-future row advances the watermark so all sessions close and
        # append mode emits them within this single availableNow drain.
        '{"ts": "2024-01-01T01:00:00", "user_id": 9, "value": 1.0}',
    ]) + "\n")
    events = (spark.readStream
              .schema("ts timestamp, user_id bigint, value double")
              .json(str(src)))
    result = jobs.session_windows(events, gap="30 seconds")
    q = jobs.run_available_now_to_memory(result, "sess_mem", mode="append")
    try:
        rows = spark.sql("SELECT user_id, cnt FROM sess_mem "
                         "WHERE user_id < 9 ORDER BY "
                         "user_id, session_start").collect()
        assert [(r["user_id"], r["cnt"]) for r in rows] == [
            (1, 2), (1, 1), (2, 1)]
    finally:
        q.stop()


def test_foreach_batch_parity(spark, text_dir):
    """foreachBatch collects per-epoch results; their union equals the
    batch wordcount (the chord-barrier vs pipelined shape from SURVEY §6,
    streaming side)."""
    collected: dict[str, int] = {}

    def sink(df, epoch_id):
        for r in df.collect():
            collected[r["word"]] = r["cnt"]

    counts = jobs.wordcount_transform(jobs.file_lines(spark, str(text_dir)))
    q = jobs.foreach_batch_writer(counts, sink)
    q.awaitTermination()
    q.stop()
    batch = {r["word"]: r["cnt"]
             for r in jobs.wordcount_transform(
                 spark.read.text(str(text_dir))).collect()}
    assert collected == batch


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps keyed state across two separate
    availableNow drains sharing a checkpoint — the running totals in the
    second drain include the first drain's rows."""
    src = tmp_path / "state_in"
    src.mkdir()
    ckpt = str(tmp_path / "state_ckpt")
    emitted: dict[int, tuple[int, float]] = {}

    def drain():
        events = (spark.readStream
                  .schema("ts timestamp, user_id bigint, value double")
                  .json(str(src)))
        q = (jobs.running_user_totals(events)
             .writeStream.outputMode("update")
             .foreachBatch(lambda df, _e: emitted.update(
                 {r["user_id"]: (r["running_cnt"], r["running_total"])
                  for r in df.collect()}))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    (src / "b1.json").write_text("\n".join([
        '{"ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0}',
        '{"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 2.0}',
        '{"ts": "2024-01-01T00:00:02", "user_id": 2, "value": 5.0}',
    ]) + "\n")
    drain()
    assert emitted[1] == (2, 3.0)
    assert emitted[2] == (1, 5.0)

    (src / "b2.json").write_text(
        '{"ts": "2024-01-01T00:01:00", "user_id": 1, "value": 4.0}\n')
    drain()
    assert emitted[1] == (3, 7.0)   # state survived the restart
    assert emitted[2] == (1, 5.0)   # untouched key keeps its totals


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: repeated event_ids inside the
    horizon collapse to one row."""
    src = tmp_path / "dedup_in"
    src.mkdir()
    (src / "f1.json").write_text("\n".join([
        '{"ts": "2024-01-01T00:00:00", "event_id": 10, "value": 1.0}',
        '{"ts": "2024-01-01T00:00:05", "event_id": 10, "value": 1.0}',
        '{"ts": "2024-01-01T00:00:10", "event_id": 11, "value": 2.0}',
    ]) + "\n")
    events = (spark.readStream
              .schema("ts timestamp, event_id bigint, value double")
              .json(str(src)))
    result = jobs.dedup_stream(events, ["event_id"])
    q = jobs.run_available_now_to_memory(result, "dedup_mem", mode="append")
    try:
        rows = spark.sql(
            "SELECT event_id, count(*) AS n FROM dedup_mem GROUP BY 1"
        ).collect()
        assert {r["event_id"]: r["n"] for r in rows} == {10: 1, 11: 1}
    finally:
        q.stop()


def test_stream_static_join_enriches_events(spark, tmp_path):
    """Stream-static join: each streamed event picks up its dimension row;
    events without a dim match are dropped (inner)."""
    src = tmp_path / "ss_in"
    src.mkdir()
    (src / "f1.json").write_text(
        '{"user_id": 1, "value": 10.0}\n'
        '{"user_id": 2, "value": 20.0}\n'
        '{"user_id": 9, "value": 99.0}\n')
    stream = (spark.readStream
              .schema("user_id bigint, value double")
              .json(str(src)))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id bigint, tier string")
    joined = jobs.enrich_stream_with_dim(stream, dim, "user_id")
    q = jobs.run_available_now_to_memory(joined, "ss_mem", mode="append")
    try:
        rows = {(r.user_id, r.tier, r.value)
                for r in spark.sql("SELECT * FROM ss_mem").collect()}
        assert rows == {(1, "gold", 10.0), (2, "silver", 20.0)}
    finally:
        q.stop()


def test_stream_batch_sessionization_parity(spark, tmp_path):
    """Engine guarantee: the BATCH sessionizer (operators/temporal.py
    lag→break→running-sum) and the STREAMING session_window produce the
    same sessions on the same input. Bounds are aligned explicitly —
    Spark's session_window end is last_event + gap, the batch session_end
    is max(ts) — and gap-boundary semantics differ only at diff == gap
    exactly (session_window's window end is exclusive), which the input
    avoids, as real µs-resolution data does almost surely."""
    import json as _json

    from data_pipelines_course_spark.operators.temporal import sessionize

    rows = []
    base = 0
    for user in (1, 2, 3):
        t = base + user * 7
        for sess in range(user):          # user N gets N sessions
            for i in range(3 + sess):     # of 3..(2+N) events each
                rows.append({"ts": f"2024-01-01T00:{t // 60:02d}:{t % 60:02d}",
                             "user_id": user, "value": 1.0})
                t += 10                   # 10 s intra-session gaps (< 60)
            t += 180                      # 3 min between sessions (> 60)
    src = tmp_path / "sess_parity_in"
    src.mkdir()
    # far-future watermark advancer so append mode emits everything
    rows.append({"ts": "2024-01-01T02:00:00", "user_id": 9, "value": 1.0})
    (src / "f1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n")

    schema = "ts timestamp, user_id bigint, value double"
    stream = spark.readStream.schema(schema).json(str(src))
    q = jobs.run_available_now_to_memory(
        jobs.session_windows(stream, gap="60 seconds"), "sess_parity",
        mode="append")
    try:
        streamed = {
            (r["user_id"], str(r["session_start"]), str(r["session_end"]),
             r["cnt"])
            for r in spark.sql(
                "SELECT * FROM sess_parity WHERE user_id < 9").collect()}
    finally:
        q.stop()

    batch_in = (spark.read.schema(schema).json(str(src))
                .filter(F.col("user_id") < 9)
                .withColumn("event_id", F.monotonically_increasing_id()))
    batch = (sessionize(batch_in, gap_minutes=1)
             .groupBy("user_id", "session_seq")
             .agg(F.min("ts").alias("session_start"),
                  (F.max("ts") + F.expr("INTERVAL 60 SECONDS"))
                  .alias("session_end"),
                  F.count(F.lit(1)).alias("cnt")))
    batched = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["cnt"])
        for r in batch.collect()}
    assert streamed == batched
    assert len(batched) == 1 + 2 + 3  # user N has N sessions


def test_streaming_decontamination_flags_bench_dups(spark, tmp_path):
    """Ingest-time decontamination: a stream of documents joined (stateless,
    broadcast) against a static benchmark set's LSH bands; the planted
    near-exact duplicate of a benchmark doc must be flagged within its own
    micro-batch, clean docs must not."""
    import json as _json

    bench_text = ("the quick brown fox jumps over the lazy dog and then "
                  "runs far away into the deep dark forest tonight")
    clean_text = ("completely different content about spark structured "
                  "streaming joins and stateless band matching at scale")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    src = tmp_path / "decon_stream_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 1, "text": bench_text},          # exact dup of bench 100
        {"doc_id": 2, "text": clean_text},
    ]) + "\n")
    stream = (spark.readStream.schema("doc_id long, text string")
              .json(str(src)))
    hits = jobs.decontaminate_stream(stream, bench)
    assert hits.isStreaming
    q = (hits.writeStream.outputMode("append").format("memory")
         .queryName("decon_hits").trigger(availableNow=True).start())
    q.awaitTermination()
    flagged = {(r["doc_id"], r["bench_id"]) for r in
               spark.sql("SELECT DISTINCT doc_id, bench_id "
                         "FROM decon_hits").collect()}
    assert flagged == {(1, 100)}


import importlib.util

try:
    # find_spec raises (rather than returning None) when even the parent
    # 'google' namespace package is absent, as in this container.
    _HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:
    _HAS_PROTOBUF = False


@pytest.mark.xfail(
    condition=not _HAS_PROTOBUF,
    reason="transformWithStateInPandas speaks protobuf between the JVM "
           "and the Python state driver; missing wheel: 'protobuf' "
           "(module google.protobuf) — `pip install protobuf` and this "
           "test runs with no further change",
    raises=ImportError,
    strict=True)
def test_transform_with_state_matches_apply_in_pandas_with_state(
        spark, tmp_path):
    """The transformWithStateInPandas port must produce the same running
    totals as the applyInPandasWithState original across two checkpointed
    drains — one semantics, two state APIs. Both twins actually RUN over
    the same input here and their per-user results are compared (plus a
    fixed expectation so a shared bug in both can't self-certify).

    Gated as STRICT XFAIL, not skip (VERDICT r4 #7): with the protobuf
    wheel absent the test raises a clean ImportError naming the wheel
    and is counted xfailed; the moment the environment gains the
    dependency the condition flips and the parity test runs for real —
    no silent skip to go stale (noted in COVERAGE.md)."""
    if not _HAS_PROTOBUF:
        raise ImportError(
            "missing wheel 'protobuf' (google.protobuf) — required by "
            "pyspark's transformWithStateInPandas state protocol")
    src = tmp_path / "tws_in"
    src.mkdir()

    results: dict[str, dict[int, tuple[int, float]]] = {
        "tws": {}, "aipws": {}}
    ckpts = {"tws": str(tmp_path / "tws_ckpt"),
             "aipws": str(tmp_path / "aipws_ckpt")}
    ops = {"tws": jobs.running_user_totals_tws,
           "aipws": jobs.running_user_totals}

    def drain(kind):
        events = (spark.readStream
                  .schema("ts timestamp, user_id bigint, value double")
                  .json(str(src)))
        emitted = results[kind]
        q = (ops[kind](events)
             .writeStream.outputMode("update")
             .foreachBatch(lambda df, _e: emitted.update(
                 {r["user_id"]: (r["n"], r["total"])
                  for r in df.collect()}))
             .option("checkpointLocation", ckpts[kind])
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    (src / "b1.json").write_text("\n".join([
        '{"ts": "2024-01-01T00:00:00", "user_id": 1, "value": 1.0}',
        '{"ts": "2024-01-01T00:00:01", "user_id": 1, "value": 2.0}',
        '{"ts": "2024-01-01T00:00:02", "user_id": 2, "value": 5.0}',
    ]) + "\n")
    drain("tws")
    drain("aipws")
    assert results["tws"] == results["aipws"]
    assert results["tws"][1] == (2, 3.0)
    assert results["tws"][2] == (1, 5.0)

    (src / "b2.json").write_text(
        '{"ts": "2024-01-01T00:01:00", "user_id": 1, "value": 4.0}\n')
    drain("tws")
    drain("aipws")
    assert results["tws"] == results["aipws"]
    assert results["tws"][1] == (3, 7.0)  # state survived the restart
    assert results["tws"][2] == (1, 5.0)


def _write_events(path, rows):
    path.write_text("\n".join(
        f'{{"event_id": {i}, "ts": "{ts}", "user_id": {u}}}'
        for i, ts, u in rows) + "\n")


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner interval join (clicks attribute to a view by
    the same user within the horizon) must equal the identical batch
    join over the same files — and a click outside the horizon must not
    match."""
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    vdir.mkdir(); cdir.mkdir()
    _write_events(vdir / "v1.json", [
        (1, "2024-01-01T00:00:00", 7),
        (2, "2024-01-01T00:00:00", 8),   # never clicked
        (3, "2024-01-01T01:00:00", 9),
    ])
    _write_events(cdir / "c1.json", [
        (101, "2024-01-01T00:05:00", 7),   # within 10 min of view 1
        (102, "2024-01-01T02:00:00", 9),   # 60 min after view 3: outside
    ])
    schema = "event_id bigint, ts timestamp, user_id bigint"
    sv = spark.readStream.schema(schema).json(str(vdir))
    sc = spark.readStream.schema(schema).json(str(cdir))
    result = jobs.interval_join_view_clicks(sv, sc)
    q = jobs.run_available_now_to_memory(result, "ssj", mode="append")
    q.stop()
    got = sorted((r["view_id"], r["click_id"])
                 for r in spark.sql("SELECT * FROM ssj").collect())
    # Batch parity: same function, batch inputs.
    bv = spark.read.schema(schema).json(str(vdir))
    bc = spark.read.schema(schema).json(str(cdir))
    want = sorted((r["view_id"], r["click_id"])
                  for r in jobs.interval_join_view_clicks(bv, bc).collect())
    assert got == want == [(1, 101)]


def test_stream_stream_left_outer_emits_expired_views(spark, tmp_path):
    """left_outer: a view with no click inside its horizon is emitted
    (null click) once the watermark passes view_ts + horizon — proof the
    join state is evicted, not held forever."""
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    vdir.mkdir(); cdir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_events(vdir / "v1.json", [(1, "2024-01-01T00:00:00", 7)])
    _write_events(cdir / "c1.json", [(900, "2024-01-01T00:00:01", 99)])
    schema = "event_id bigint, ts timestamp, user_id bigint"

    def drain():
        sv = spark.readStream.schema(schema).json(str(vdir))
        sc = spark.readStream.schema(schema).json(str(cdir))
        result = jobs.interval_join_view_clicks(sv, sc, how="left_outer")
        q = (result.writeStream.outputMode("append").format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(); q.stop()

    drain()  # watermark still at batch-1 max; view 1 unexpired
    # Advance both watermarks far past view_ts + horizon + watermark.
    _write_events(vdir / "v2.json", [(2, "2024-01-01T05:00:00", 7)])
    _write_events(cdir / "c2.json", [(901, "2024-01-01T05:00:00", 99)])
    drain()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    unmatched = [(r["view_id"], r["click_id"]) for r in rows
                 if r["click_id"] is None]
    assert (1, None) in unmatched


def test_stream_stream_right_outer_emits_expired_clicks(spark, tmp_path):
    """right_outer (fuzz v13's mode): a click with no view inside its
    horizon is emitted (null view) once the min-policy watermark passes
    the click's own event time — the mirror of the left_outer eviction,
    bounded by the LOWER join bound rather than view_ts + horizon."""
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    vdir.mkdir(); cdir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _write_events(vdir / "v1.json", [(900, "2024-01-01T00:00:01", 99)])
    _write_events(cdir / "c1.json", [(1, "2024-01-01T00:00:00", 7)])
    schema = "event_id bigint, ts timestamp, user_id bigint"

    def drain():
        sv = spark.readStream.schema(schema).json(str(vdir))
        sc = spark.readStream.schema(schema).json(str(cdir))
        result = jobs.interval_join_view_clicks(sv, sc, how="right_outer")
        q = (result.writeStream.outputMode("append").format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(); q.stop()

    drain()  # watermark still at batch-1 max; click 1 unexpired
    _write_events(vdir / "v2.json", [(901, "2024-01-01T05:00:00", 99)])
    _write_events(cdir / "c2.json", [(2, "2024-01-01T05:00:00", 7)])
    drain()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    unmatched = [(r["view_id"], r["click_id"]) for r in rows
                 if r["view_id"] is None]
    assert (None, 1) in unmatched


def test_interval_join_rejects_unverified_how(spark, tmp_path):
    """VERDICT r11 #6: `how` used to pass through unvalidated, so
    full_outer ran with null-emission semantics no grammar had pinned.
    Only the fuzz-verified modes (v11 inner, v12 left_outer, v13
    right_outer) are accepted."""
    schema = "event_id bigint, ts timestamp, user_id bigint"
    (tmp_path / "views").mkdir(); (tmp_path / "clicks").mkdir()
    sv = spark.readStream.schema(schema).json(str(tmp_path / "views"))
    sc = spark.readStream.schema(schema).json(str(tmp_path / "clicks"))
    for bad in ("full_outer", "left_semi", "outer", "cross"):
        with pytest.raises(ValueError, match="not a verified mode"):
            jobs.interval_join_view_clicks(sv, sc, how=bad)


def test_idempotent_batch_sink_replay_does_not_duplicate(spark, tmp_path):
    """foreachBatch's contract is at-least-once delivery of each batch;
    the idempotent sink must turn a batch REPLAY into a no-op overwrite
    of that batch's own partition, leaving other batches untouched."""
    from data_pipelines_course_spark.streaming.jobs import (
        idempotent_batch_sink,
    )

    path = str(tmp_path / "sink")
    write_batch = idempotent_batch_sink(path)
    b0 = spark.range(0, 5).withColumnRenamed("id", "v")
    b1 = spark.range(100, 103).withColumnRenamed("id", "v")

    write_batch(b0, 0)
    write_batch(b1, 1)
    write_batch(b0, 0)  # failure-recovery replay of batch 0

    out = spark.read.parquet(path)
    got = sorted(r["v"] for r in out.collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 102]
    assert sorted(set(r["_batch_id"] for r in out.collect())) == [0, 1]


def test_idempotent_batch_sink_via_stream(spark, tmp_path):
    """End-to-end: a real availableNow file stream drained through
    foreachBatch + the idempotent sink lands every input row exactly
    once."""
    from data_pipelines_course_spark.streaming.jobs import (
        file_lines,
        idempotent_batch_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("alpha\nbeta\n")
    (src / "b.txt").write_text("gamma\n")
    path = str(tmp_path / "sink")

    lines = file_lines(spark, str(src))
    q = (lines.writeStream
         .foreachBatch(idempotent_batch_sink(path))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination(60)

    got = sorted(r["value"] for r in spark.read.parquet(path).collect())
    assert got == ["alpha", "beta", "gamma"]


def test_rollup_maintenance_stream_matches_batch(spark, tmp_path):
    """Drain the events table through a file stream + foreachBatch
    rollup maintenance; the resulting rollup table must equal the
    one-shot batch incremental_daily_rollup over the same events."""
    from data_pipelines_course_spark.datasets import load
    from data_pipelines_course_spark.sinks.writers import (
        incremental_daily_rollup,
    )
    from data_pipelines_course_spark.streaming.jobs import (
        rollup_maintenance_sink,
    )
    from .conftest import SF_DIR

    events = load(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    # several files => several micro-batches with maxFilesPerTrigger
    events.repartition(4).write.parquet(src)

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    rollup = str(tmp_path / "rollup")
    q = (stream.writeStream
         .foreachBatch(rollup_maintenance_sink(rollup))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.awaitTermination(180)

    batch_rollup = str(tmp_path / "batch_rollup")
    incremental_daily_rollup(events, batch_rollup)
    # keys and counts must match exactly; sum_value only to 1e-6 — the
    # two paths sum doubles in different partition orders (event-log
    # file layout vs one-pass scan), which legitimately differs in ulps
    got = {(r["event_date"], r["event_type"]): r
           for r in spark.read.parquet(rollup).collect()}
    want = {(r["event_date"], r["event_type"]): r
            for r in spark.read.parquet(batch_rollup).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k]["n_events"] == want[k]["n_events"]
        assert abs(got[k]["sum_value"] - want[k]["sum_value"]) < 1e-6


def test_rollup_maintenance_replay_is_exactly_once(spark, tmp_path):
    """Replaying a batch through the maintenance sink must leave the
    rollup identical: the event log is idempotent per batch id, so the
    recompute sees each event once no matter how often a batch retries."""
    from pyspark.sql import functions as F
    from data_pipelines_course_spark.datasets import load
    from data_pipelines_course_spark.streaming.jobs import (
        rollup_maintenance_sink,
    )
    from .conftest import SF_DIR

    events = load(spark, SF_DIR, "events")
    b0 = events.filter(F.col("event_id") % 2 == 0)
    b1 = events.filter(F.col("event_id") % 2 == 1)
    rollup = str(tmp_path / "rollup")
    update = rollup_maintenance_sink(rollup)

    update(b0, 0)
    update(b1, 1)
    before = {(r["event_date"], r["event_type"]): (r["n_events"], r["sum_value"])
              for r in spark.read.parquet(rollup).collect()}
    update(b0, 0)  # failure-recovery replay
    after = {(r["event_date"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in spark.read.parquet(rollup).collect()}
    assert before.keys() == after.keys()
    for k in before:
        assert before[k][0] == after[k][0]
        assert abs(before[k][1] - after[k][1]) < 1e-6


def test_rollup_maintenance_all_null_ts_batch(spark, tmp_path):
    """A non-empty batch whose timestamps are ALL NULL has no date
    watermark — the sink must fall back to a full recompute, not crash
    on None.isoformat() (review r5). The NULL-date rows land in the
    default partition; dated rows from earlier batches are untouched."""
    from pyspark.sql import functions as F
    from data_pipelines_course_spark.streaming.jobs import (
        rollup_maintenance_sink,
    )

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    dated = spark.createDataFrame(
        [(1, t, 10, "click", 2.0), (2, t, 11, "view", 3.0)], schema)
    nullts = spark.createDataFrame(
        [(3, None, 12, "click", 7.0)], schema)
    rollup = str(tmp_path / "rollup_nullts")
    update = rollup_maintenance_sink(rollup)
    update(dated, 0)
    update(nullts, 1)  # all-NULL-ts batch: must not crash
    got = {(r["event_date"], r["event_type"]): r["n_events"]
           for r in spark.read.parquet(rollup).collect()}
    assert got[(dt.date(2024, 1, 1), "click")] == 1
    assert got[(dt.date(2024, 1, 1), "view")] == 1
    assert got[(None, "click")] == 1  # undated rows keep their own group


def test_maintenance_sinks_job_budget(spark, tmp_path):
    """A warm micro-batch runs at most 6 rollup jobs (probe, log write,
    rollup write) and 5 SCD2 jobs (probe, log write, dim write): no
    isEmpty() pass, no parquet footer job on the log read, no count the
    sink throws away. Each sink call runs under its own job group."""
    from data_pipelines_course_spark.datasets import load
    from .conftest import SF_DIR

    events = load(spark, SF_DIR, "events")
    sc = spark.sparkContext
    sinks = {"rollup": jobs.rollup_maintenance_sink(str(tmp_path / "rollup")),
             "scd2": jobs.scd2_maintenance_sink(str(tmp_path / "dim"))}
    try:
        for batch_id in (0, 1):
            batch = events.filter(F.col("event_id") % 2 == batch_id)
            for name, sink in sinks.items():
                sc.setJobGroup(f"{tmp_path.name}-{name}-{batch_id}", name)
                sink(batch, batch_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = {name: len(sc.statusTracker().getJobIdsForGroup(
        f"{tmp_path.name}-{name}-1")) for name in sinks}
    assert n_jobs["rollup"] <= 6, n_jobs
    assert n_jobs["scd2"] <= 5, n_jobs


def test_maintenance_sinks_skip_empty_batch(spark, tmp_path):
    """An empty micro-batch (events schema, no rows) writes nothing: the
    one-aggregate probe of each sink must still return before the log
    write, so neither `<path>_events` nor `<path>` is created."""
    empty = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double")
    rollup, dim = tmp_path / "rollup", tmp_path / "dim"
    jobs.rollup_maintenance_sink(str(rollup))(empty, 0)
    jobs.scd2_maintenance_sink(str(dim))(empty, 0)
    for path in (rollup, dim):
        assert not path.exists()
        assert not (tmp_path / f"{path.name}_events").exists()


def test_trending_topk_matches_batch_and_replays_idempotent(spark, tmp_path):
    """Trending top-k: append-mode sliding counts + per-window rank in
    foreachBatch. The served table must (a) match a batch computation of
    the same top-k on the same rows, and (b) be idempotent under batch
    replay (dynamic partition overwrite of the windows it owns)."""
    src = tmp_path / "trend_in"
    src.mkdir()
    (src / "f1.json").write_text("\n".join([
        '{"timestamp": "2024-01-01T00:00:05", "value": "spark spark flink"}',
        '{"timestamp": "2024-01-01T00:00:15", "value": "spark duck duck"}',
        '{"timestamp": "2024-01-01T00:01:10", "value": "flink flink duck"}',
        # Far-future advancer closes every window above.
        '{"timestamp": "2024-01-01T01:00:00", "value": "zz"}',
    ]) + "\n")
    lines = (spark.readStream
             .schema("timestamp timestamp, value string")
             .json(str(src)))
    result = jobs.trending_terms(lines, window="60 seconds",
                                 slide="60 seconds", watermark="1 minutes")
    out = str(tmp_path / "trend_out")
    sink = jobs.trending_topk_sink(out, k=2)
    q = (result.writeStream.outputMode("append")
         .foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    q.stop()

    served = spark.read.parquet(out)
    got = {(str(r["window_start"]), r["word"], r["cnt"], r["rnk"])
           for r in served.collect()}

    # Batch twin over the same rows (tumbling 60s, same top-2 rule).
    batch = (spark.read.schema("timestamp timestamp, value string")
             .json(str(src))
             .select("timestamp",
                     F.explode(F.split("value", r"\s+")).alias("word"))
             .groupBy(F.window("timestamp", "60 seconds"), "word")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .select(F.col("window.start").alias("window_start"),
                     "word", "cnt"))
    from pyspark.sql import Window
    w = Window.partitionBy("window_start").orderBy(F.desc("cnt"), "word")
    expect = {(str(r["window_start"]), r["word"], r["cnt"], r["rnk"])
              for r in (batch.withColumn("rnk", F.row_number().over(w))
                        .filter(F.col("rnk") <= 2)
                        # the advancer's own window never closes, so the
                        # stream never emits it
                        .filter(F.col("word") != "zz")
                        .collect())}
    assert got == expect and got, (got, expect)

    # Replay idempotence: re-running the sink fn on the same closed
    # windows must leave the table identical (overwrites its partitions).
    closed = served.select("window_start", "word", "cnt").drop("rnk")
    sink(closed.select("window_start", "word", "cnt"), 99)
    again = {(str(r["window_start"]), r["word"], r["cnt"], r["rnk"])
             for r in spark.read.parquet(out).collect()}
    assert again == got


def test_scd2_maintenance_converges_and_touches_only_owned_buckets(
        spark, tmp_path):
    """CDC -> SCD2 streaming maintenance: after two availableNow drains
    the dimension must equal the BATCH scd2 build over the full log, and
    a drain whose batch touches only some user buckets must leave the
    other bucket partitions' files untouched (mtime-stable)."""
    import glob
    import os
    from data_pipelines_course_spark.operators.temporal import scd2_intervals

    src = tmp_path / "cdc_in"
    src.mkdir()
    dim = str(tmp_path / "scd2_dim")
    # users 1 and 2 live in different buckets (1 % 16 = 1, 18 % 16 = 2)
    (src / "f1.json").write_text("\n".join([
        '{"user_id": 1, "event_id": 10, "ts": "2024-01-01T00:00:00", "event_type": "view"}',
        '{"user_id": 1, "event_id": 11, "ts": "2024-01-01T00:01:00", "event_type": "view"}',
        '{"user_id": 1, "event_id": 12, "ts": "2024-01-01T00:02:00", "event_type": "click"}',
        '{"user_id": 18, "event_id": 20, "ts": "2024-01-01T00:00:30", "event_type": "signup"}',
    ]) + "\n")
    schema = "user_id bigint, event_id bigint, ts timestamp, event_type string"
    sink = jobs.scd2_maintenance_sink(dim)

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    drain()
    bucket2_files = {f: os.path.getmtime(f) for f in
                     glob.glob(f"{dim}/bucket=2/*.parquet")}
    assert bucket2_files  # user 18's history landed

    # Batch 2: only user 1 changes state (click -> purchase).
    (src / "f2.json").write_text(
        '{"user_id": 1, "event_id": 13, "ts": "2024-01-01T00:03:00",'
        ' "event_type": "purchase"}\n')
    drain()

    # Convergence: streamed dimension == batch build over the full log.
    log = (spark.read.parquet(dim + "_events").drop("_batch_id")
           .select("user_id", "event_id", "ts", "event_type"))
    expect = sorted(map(tuple, scd2_intervals(log).collect()))
    got = sorted(map(tuple,
                     spark.read.parquet(dim).drop("bucket").collect()))
    assert got == expect
    # user 1 now has view -> click -> purchase = 3 intervals, last open.
    u1 = [r for r in spark.read.parquet(dim).collect() if r["user_id"] == 1]
    assert len(u1) == 3
    assert sum(1 for r in u1 if r["is_current"]) == 1
    # Untouched bucket: user 18's partition files were NOT rewritten.
    after = {f: os.path.getmtime(f) for f in
             glob.glob(f"{dim}/bucket=2/*.parquet")}
    assert after == bucket2_files


def test_scd2_maintenance_null_user_keys(spark, tmp_path):
    """A CDC batch with NULL user_ids must not kill the sink: `user_id %
    N` is NULL for them, which crashed the touched-bucket collect
    (int(None)) and could never match the isin() log filter (streaming
    review, r5). NULL-key history lands in the DISJOINT sentinel bucket
    N (pmod keeps real keys of either sign in 0..N-1; the old -1
    sentinel aliased user_id ≡ -1 (mod N) — ADVICE r5) with correct
    SCD2 runs, non-NULL users — including NEGATIVE ids — are
    unaffected, and a replayed batch leaves the dimension identical."""
    import pandas as pd

    dim = str(tmp_path / "scd2_dim")
    sink = jobs.scd2_maintenance_sink(dim)

    def batch(uids, eids, days, types):
        return spark.createDataFrame(pd.DataFrame({
            "user_id": pd.array(uids, dtype="Int64"),
            "event_id": eids,
            "ts": pd.to_datetime(days),
            "event_type": types}))

    # user -1 is the adversarial key: -1 % 16 = -1 in Spark's sign-
    # preserving %, which would land it IN the old NULL sentinel bucket.
    sink(batch([1, 2, None, -1], [1, 2, 3, 6],
               ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-01"],
               ["view", "click", "view", "signup"]), 0)
    b1 = batch([None, 1], [4, 5], ["2024-01-04", "2024-01-05"],
               ["click", "view"])
    sink(b1, 1)
    first = sorted(repr(tuple(r)) for r in spark.read.parquet(dim).collect())
    sink(b1, 1)  # replay: at-least-once delivery upstream
    assert sorted(repr(tuple(r))
                  for r in spark.read.parquet(dim).collect()) == first

    out = spark.read.parquet(dim).toPandas()
    null_runs = out[out["user_id"].isna()].sort_values("run_seq")
    assert list(null_runs["state"]) == ["view", "click"]
    assert set(null_runs["bucket"]) == {16}  # sentinel N, disjoint
    assert list(null_runs["is_current"]) == [False, True]
    u1 = out[out["user_id"] == 1]
    assert len(u1) == 1 and int(u1.iloc[0]["n_events"]) == 2
    # Negative key: pmod puts -1 in bucket 15, NOT the sentinel, and its
    # history is its own run — never merged with the NULL-key group.
    um1 = out[out["user_id"] == -1]
    assert len(um1) == 1 and set(um1["bucket"]) == {15}
    assert um1.iloc[0]["state"] == "signup"


def test_scd2_maintenance_rejects_legacy_bucket_layout(spark, tmp_path):
    """A dimension written under the pre-r6 sign-preserving layout
    (sentinel bucket=-1, negative buckets for negative keys) must be
    rejected loudly (ADVICE r6): dynamic partition overwrite only
    rewrites buckets present in new data, so stale negative-bucket
    partitions would survive an in-place upgrade and duplicate
    NULL/negative-key history in every read. The guard fires before the
    first write; a fresh path and a pmod-layout path pass untouched."""
    import pandas as pd
    import pytest

    def batch():
        return spark.createDataFrame(pd.DataFrame({
            "user_id": [1], "event_id": [1],
            "ts": pd.to_datetime(["2024-01-01"]),
            "event_type": ["view"]}))

    # Legacy layout present -> loud failure naming the rebuild path.
    dim = tmp_path / "scd2_dim_legacy"
    (dim / "bucket=-1").mkdir(parents=True)
    (dim / "bucket=3").mkdir()
    sink = jobs.scd2_maintenance_sink(str(dim))
    with pytest.raises(ValueError, match="legacy sign-preserving"):
        sink(batch(), 0)
    # The guard fired before any write: no event log, no new buckets.
    assert not (tmp_path / "scd2_dim_legacy_events").exists()

    # pmod layout (sentinel N, non-negative buckets) passes.
    dim_ok = str(tmp_path / "scd2_dim_ok")
    sink_ok = jobs.scd2_maintenance_sink(dim_ok)
    sink_ok(batch(), 0)   # fresh path: guard is a no-op
    sink_ok(batch(), 1)   # existing pmod layout: still fine
    assert spark.read.parquet(dim_ok).count() == 1


def test_dedup_index_flags_near_copies_on_arrival(spark, tmp_path):
    """Incremental ingest dedup: a near-copy arriving in a LATER batch
    must be flagged against the index built from earlier batches; two
    near-copies arriving in the SAME batch must be flagged against each
    other; and the flags must agree with the batch LSH candidate join
    over the full corpus."""
    base = ("key agg row scan slow fast table value part hash value "
            "table part a row fast merge batch part value fast spark")
    other = ("window sort shuffle join broadcast executor driver stage "
             "task partition codegen plan catalyst tungsten arrow")
    src = tmp_path / "docs_in"
    src.mkdir()
    import json as _json
    (src / "f1.json").write_text("\n".join(
        _json.dumps(d) for d in [
            {"doc_id": 1, "text": base},
            {"doc_id": 2, "text": other},
        ]) + "\n")
    index, hits = str(tmp_path / "band_index"), str(tmp_path / "dup_hits")
    sink = jobs.dedup_index_sink(index, hits)

    def drain():
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .json(str(src)))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    drain()  # batch 0: two dissimilar docs -> no hits, index seeded
    got0 = spark.read.parquet(hits) if __import__("glob").glob(
        f"{hits}/*/*.parquet") else None
    assert got0 is None or got0.count() == 0

    # Batch 1: doc 3 = near-copy of doc 1 (one word changed), and two
    # fresh near-copies of each other (docs 4, 5).
    third = base.replace("spark", "flink")
    (src / "f2.json").write_text("\n".join(
        _json.dumps(d) for d in [
            {"doc_id": 3, "text": third},
            {"doc_id": 4, "text": other.replace("arrow", "pandas") + " x"},
            {"doc_id": 5, "text": other.replace("arrow", "pandas") + " y"},
        ]) + "\n")
    drain()
    flagged = {(r["doc_id"], r["prior_id"])
               for r in spark.read.parquet(hits).drop("_batch_id")
               .distinct().collect()}
    assert (3, 1) in flagged          # cross-batch near-copy caught
    assert (5, 4) in flagged          # intra-batch pair caught
    assert all(a > b for a, b in flagged)  # oriented: later vs earlier

    # Parity with the batch candidate join over the full corpus.
    from data_pipelines_course_spark.operators.dedup import (
        BANDS, ROWS_PER_BAND, rowwise_minhash_sig)
    all_docs = spark.createDataFrame(
        [(1, base), (2, other), (3, third),
         (4, other.replace("arrow", "pandas") + " x"),
         (5, other.replace("arrow", "pandas") + " y")],
        "doc_id bigint, text string")
    band_expr = (f"transform(sequence(0, {BANDS - 1}),"
                 f" b -> hash(slice(sig, b * {ROWS_PER_BAND} + 1,"
                 f" {ROWS_PER_BAND})))")
    bands = (rowwise_minhash_sig(all_docs)
             .select("doc_id", F.posexplode(F.expr(band_expr))
                     .alias("band", "band_hash")))
    expect = {(r["a"], r["b"]) for r in
              (bands.alias("x").join(bands.alias("y"),
                                     ["band", "band_hash"])
               .filter(F.col("x.doc_id") > F.col("y.doc_id"))
               .select(F.col("x.doc_id").alias("a"),
                       F.col("y.doc_id").alias("b"))
               .distinct().collect())}
    assert flagged == expect


def test_dedup_index_sink_replay_idempotent(spark, tmp_path):
    """At-least-once replay: re-delivering a batch AFTER its first attempt
    already wrote the index must reproduce byte-identical hits — the index
    probe must not see the batch's own bands (which would emit self-pairs
    and reversed intra-batch pairs). ADVICE r3 (medium)."""
    base = ("key agg row scan slow fast table value part hash value "
            "table part a row fast merge batch part value fast spark")
    other = ("window sort shuffle join broadcast executor driver stage "
             "task partition codegen plan catalyst tungsten arrow")
    index, hits = str(tmp_path / "band_index"), str(tmp_path / "dup_hits")
    sink = jobs.dedup_index_sink(index, hits)

    b0 = spark.createDataFrame([(1, base), (2, other)],
                               "doc_id bigint, text string")
    sink(b0, 0)
    b1 = spark.createDataFrame(
        [(3, base.replace("spark", "flink")),
         (4, other.replace("arrow", "pandas") + " x"),
         (5, other.replace("arrow", "pandas") + " y")],
        "doc_id bigint, text string")
    sink(b1, 1)
    first = sorted(map(tuple, spark.read.parquet(hits).collect()))

    # Replay batch 1 (same batch_id, index already contains _batch_id=1).
    sink(b1, 1)
    replay = sorted(map(tuple, spark.read.parquet(hits).collect()))
    assert replay == first
    # No self-pairs, orientation preserved (later doc vs earlier doc).
    pairs = {(r[0], r[1]) for r in
             spark.read.parquet(hits).select("doc_id", "prior_id").collect()}
    assert all(a != b for a, b in pairs)
    assert (3, 1) in pairs and (5, 4) in pairs
    assert (1, 3) not in pairs and (4, 5) not in pairs
    # Index itself also converged: one band set per doc per batch.
    idx = spark.read.parquet(index)
    assert idx.count() == idx.distinct().count()


def test_concurrent_dynamic_overwrite_sinks_keep_all_partitions(
        spark, tmp_path):
    """Interleave regression pin for the review-r4 session-conf race: two
    exactly-once sinks on ONE SparkSession, driven from two threads. The
    old implementation toggled spark.sql.sources.partitionOverwriteMode
    session-wide around each write, so one thread's restore could land
    mid-way through the sibling's overwrite, flipping it to STATIC mode —
    which deletes every partition but the current batch (data-loss
    class). With the per-write `.option("partitionOverwriteMode",
    "dynamic")` every batch partition of BOTH tables must survive an
    aggressive interleave."""
    import threading

    n_batches = 6
    df = spark.range(20).select(
        F.col("id").alias("user_id"), (F.col("id") % 4).alias("k"))
    paths = [str(tmp_path / "a"), str(tmp_path / "b")]
    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def run(path: str) -> None:
        try:
            sink = jobs.idempotent_batch_sink(path)
            barrier.wait(timeout=30)
            for i in range(n_batches):
                sink(df, i)
        except Exception as exc:  # noqa: BLE001 - surfaced via errs
            errs.append(exc)

    threads = [threading.Thread(target=run, args=(p,)) for p in paths]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errs, errs
    for p in paths:
        got = spark.read.parquet(p)
        batches = sorted(r["_batch_id"] for r in
                         got.select("_batch_id").distinct().collect())
        assert batches == list(range(n_batches)), (p, batches)
        assert got.count() == 20 * n_batches
